"""``ingest``: closed-loop drain of a fixed NetFlow v9 backlog.

Production wiring, with a file-stream source standing in for Kafka:

    readStream (RawFlow frames, maxFilesPerTrigger=1)
      → raw_flows_from_kafka → streaming_netflow_decode       (sources, streaming)
      → foreachBatch: wire_to_flows → FlowIngest.process_batch
                      (enrich with exporter metadata + networks LPM,
                       write_main, build_rollups)             (streaming, operators, plans)

The first file is a day of earlier traffic; it is the warm-up batch
(template learning, LPM preparation, cold code paths) and counts as
set-up.  Every later file carries late datagrams from that day, so
each measured micro-batch rebuilds the rollups of a populated day as
well as its own.  Most of a batch's time does not grow with its size
(rebuilding two days of rollups, planning, task start-up): on a 4-core
host a 5k-flow batch takes 9-12 s, a 10k one 13 s and a 20k one 15 s.
A run measures two batches after a ~30 s cold first one, and
``FLOWS_PER_BATCH`` is the size that keeps a whole run near a minute.

Untraced batches call ``process_batch`` as production does.  Traced
batches call its steps one by one and materialize the frame at the
decode and at the enrich boundary, so each span holds its own layer's
work; with ``--trace 1`` odd batches are traced and even ones are not,
and the difference of their trigger times is the tracing overhead.
"""

from __future__ import annotations

import math
import os
from datetime import datetime

from harness import dir_stats, median, tail
from inputs import DayTotals, exporter_metadata, interfaces, netflow_backlog
from inputs import write_stream_files

FLOWS_PER_BATCH = 5000
EARLIER_FLOWS = 8000
WARMUP_BATCHES = 1  # the batch of earlier flows, which also takes every cold start
NETWORK_ATTRS = ("name", "role", "site", "region", "tenant", "country", "state", "city", "asn")
BATCH_SECONDS = 10  # rough cost of one batch, to size the backlog from --seconds


def measured_batches(seconds: int) -> int:
    """Backlog length for a ``seconds`` window.  It depends on
    ``seconds`` alone, so inputs depend only on the seed and the window."""
    return max(2, math.ceil(seconds / BATCH_SECONDS))


def _start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _ms(progress: dict, key: str) -> float:
    return progress["durationMs"].get(key, 0) / 1000.0


def run(ctx) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from akvorado_spark.plans.rollup import FlowStore
    from akvorado_spark.sources.fixtures import networks_df
    from akvorado_spark.sources.rawflow_pb import raw_flows_from_kafka
    from akvorado_spark.streaming.ingest import EnrichmentConfig, FlowIngest, enrich
    from akvorado_spark.streaming.state import streaming_netflow_decode
    from akvorado_spark.streaming.wire_bridge import wire_to_flows

    spark, tracer, groups = ctx.spark, ctx.tracer, ctx.groups
    n_measured = measured_batches(ctx.seconds)
    backlog = netflow_backlog(ctx.seed, n_measured, FLOWS_PER_BATCH, EARLIER_FLOWS)
    stream_dir = os.path.join(ctx.workdir, "rawflows")
    write_stream_files(backlog, stream_dir)
    ctx.log(f"ingest: {backlog.datagrams} datagrams generated")
    store = FlowStore(spark, os.path.join(ctx.workdir, "store"))

    cfg = EnrichmentConfig(
        metadata=exporter_metadata(spark),
        networks=networks_df(spark),
        networks_attrs=NETWORK_ATTRS,
    )
    ingest = FlowIngest(store, cfg)
    ifaces = interfaces(spark)
    traced_ids: list[int] = []
    acc: dict[str, float] = {k: 0.0 for k in (
        "wire_rows", "files_written", "bytes_written")}

    def traced_batch(df, batch_id: int) -> None:
        files0, bytes0 = dir_stats(store.root)
        with tracer.span("batch", "streaming", batch_id):
            with tracer.span("decode", "sources", batch_id):
                groups.set("sources", batch_id)
                wire = df.persist()
                acc["wire_rows"] += wire.count()
            groups.collect("sources", batch_id)
            with tracer.span("bridge_enrich", "streaming", batch_id):
                groups.set("streaming", batch_id)
                enriched = store.schema.ingest(
                    enrich(wire_to_flows(wire, interfaces=ifaces), cfg)).persist()
                enriched.count()
            groups.collect("streaming", batch_id)
            with tracer.span("write_main", "plans", batch_id):
                op = f"{batch_id}.write_main"
                groups.set("plans", op)
                obs = Observation()
                store.write_main(enriched.observe(obs, F.min("TimeReceived").alias("oldest")))
            groups.collect("plans", op)
            with tracer.span("build_rollups", "plans", batch_id):
                op = f"{batch_id}.build_rollups"
                groups.set("plans", op)
                store.build_rollups(since=obs.get["oldest"])
            groups.collect("plans", op)
            enriched.unpersist()
            wire.unpersist()
        files1, bytes1 = dir_stats(store.root)
        acc["files_written"] += max(files1 - files0, 0)
        acc["bytes_written"] += max(bytes1 - bytes0, 0)

    def process(df, batch_id: int) -> None:
        if ctx.trace and batch_id >= WARMUP_BATCHES and batch_id % 2 == 1:
            traced_ids.append(batch_id)
            traced_batch(df, batch_id)
            return
        groups.set("streaming", batch_id)
        ingest.process_batch(wire_to_flows(df, interfaces=ifaces), batch_id)

    stream = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    query = (
        streaming_netflow_decode(raw_flows_from_kafka(stream))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(ctx.workdir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()  # raises if a batch failed
    groups.clear()
    batches = [p for p in query.recentProgress if p["numInputRows"] > 0]

    # --- output checks, outside every timed region ------------------------
    wrong = _check_store(store, backlog.totals, ctx.log)
    attempted = len(backlog.files)
    # a wrong store cannot be pinned on one batch: then all count as failed
    failed = attempted if wrong else attempted - len(batches)

    measured = [p for p in batches if p["batchId"] >= WARMUP_BATCHES]
    plain = [p for p in measured if p["batchId"] not in traced_ids]
    traced = [p for p in measured if p["batchId"] in traced_ids]
    trigger_s = [_ms(p, "triggerExecution") for p in plain]
    flows = sum(backlog.flows_per_file[p["batchId"]] for p in plain)
    window = _start(plain[-1]) + trigger_s[-1] - _start(plain[0])
    tail_s, tail_pct, tail_n = tail(trigger_s)
    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_end": _start(measured[0]),
        "e2e": {
            "op_p50_s": (median(trigger_s), "s"),
            "op_tail_s": (tail_s, "s"),
            "work_per_s": (flows / window, "1/s"),
        },
        "info": {
            "datagrams": backlog.datagrams,
            "flows_encoded": backlog.totals.flows,
            "flows_earlier": EARLIER_FLOWS,
            "flows_per_batch": FLOWS_PER_BATCH,
            "batches_warmup": WARMUP_BATCHES,
            "batches_measured": len(measured),
            "batches_traced": len(traced),
            "batch_s": {p["batchId"]: p["durationMs"] for p in batches},
            "tail_percentile": tail_pct,
            "tail_samples": tail_n,
            "store_bytes": dir_stats(store.root)[1],
            "checks_failed": wrong,
            "ops_traced": len(traced),
            "traced_wall_s": sum(_ms(p, "triggerExecution") for p in traced),
        },
        "layers": {},
    }
    if ctx.trace:
        out["layers"] = _layer_metrics(ctx, batches, traced, trigger_s, acc, backlog, store)
    return out


def _check_store(store, expected: DayTotals, log) -> list[str]:
    """Flows encoded = rows stored, and per day ``Flows``, ``Bytes``
    and ``Packets`` agree between the encoded input, the main table and
    every rollup."""
    from pyspark.sql import functions as F

    wrong = []
    for res in store.resolutions:
        n = F.count(F.lit(1)) if res.interval_s == 0 else F.sum("Flows")
        rows = (
            store.read(res)
            .groupBy(F.date_format("TimeReceived", "yyyy-MM-dd").alias("d"))
            .agg(n.alias("n"), F.sum("Bytes").alias("b"), F.sum("Packets").alias("p"))
            .collect()
        )
        got = {r["d"]: [int(r["n"]), int(r["b"]), int(r["p"])] for r in rows}
        if got != expected.days:
            wrong.append(res.table_name)
            log(f"{res.table_name}: per-day totals {got} != expected {expected.days}")
    return wrong


def _layer_metrics(ctx, batches, traced, plain_s, acc, backlog, store) -> dict:
    tracer = ctx.tracer
    n = max(len(traced), 1)
    flows = sum(backlog.flows_per_file[p["batchId"]] for p in traced)
    # the trigger's own work outside foreachBatch is a span of its own,
    # laid after the callback so self times add up to the trigger time
    batch_spans = {int(sp.op_id): sp for sp in tracer.spans if sp.name == "batch"}
    for p in traced:
        sp = batch_spans[p["batchId"]]
        over = _ms(p, "triggerExecution") - _ms(p, "addBatch")
        tracer.add("trigger", "spark_trigger", p["batchId"], sp.end, sp.end + over)
    self_t = tracer.self_times()
    by_name = {sp.name: 0.0 for sp in tracer.spans}
    for sp in tracer.spans:
        by_name[sp.name] += sp.end - sp.start
    decode_s = by_name["decode"]
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    traced_s = [_ms(p, "triggerExecution") for p in traced]
    accounted = sum(self_t.get(k, 0.0) for k in ("sources", "streaming", "plans", "spark_trigger"))
    return {
        "sources.decode_s": (decode_s / n, "s"),
        "sources.decode_flows_per_s": (flows / decode_s if decode_s else 0.0, "1/s"),
        "sources.decode_yield": (acc["wire_rows"] / flows if flows else 0.0, "ratio"),
        "streaming.bridge_enrich_s": (by_name["bridge_enrich"] / n, "s"),
        "streaming.trigger_overhead_s": (
            median([_ms(p, "triggerExecution") - _ms(p, "addBatch") for p in batches]), "s"),
        "streaming.query_planning_s": (median([_ms(p, "queryPlanning") for p in batches]), "s"),
        "streaming.state_rows": (state[-1]["numRowsTotal"] if state else 0, "count"),
        "streaming.state_bytes": (state[-1]["memoryUsedBytes"] if state else 0, "bytes"),
        "plans.write_main_s": (by_name["write_main"] / n, "s"),
        "plans.build_rollups_s": (by_name["build_rollups"] / n, "s"),
        "plans.bytes_written_per_flow": (acc["bytes_written"] / flows if flows else 0.0, "bytes"),
        "plans.files_written_per_batch": (acc["files_written"] / n, "count"),
        "plans.store_bytes_per_flow": (dir_stats(store.root)[1] / backlog.totals.flows, "bytes"),
        "self.sources_s": (self_t.get("sources", 0.0) / n, "s"),
        "self.streaming_s": (self_t.get("streaming", 0.0) / n, "s"),
        "self.plans_s": (self_t.get("plans", 0.0) / n, "s"),
        "self.spark_trigger_s": (self_t.get("spark_trigger", 0.0) / n, "s"),
        "trace.unaccounted_s": ((sum(traced_s) - accounted) / n, "s"),
        "trace.op_traced_s": (median(traced_s) if traced_s else 0.0, "s"),
        "trace.op_untraced_s": (median(plain_s) if plain_s else 0.0, "s"),
    }
