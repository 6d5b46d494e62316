"""``registry``: identical warm repeats of a family subset of the
``__spark_entry__.queries()`` oracle registry over a seeded corpus.

The subset takes one query per operator family the ingest workload
does not reach (dedup, LM data) plus one filter-DSL suite
(``filtering``) and one sankey request (``query``), so every layer
module is timed by one of the two workloads.  All fifty queries take
minutes per pass even at sf0.001, far beyond one benchmark run;
``SUBSET`` is what fits.  The wire decode is measured by the ingest
workload instead of ``decode_roundtrip_suite``.  Left out: the
multimodal codecs (``multimodal_decode_meta``, the slowest family),
similarity (``ann_suite``, whose cost swung from 1.5 to 2.9 s between
seeds) and text (``text_id_suite``, left out for time: every run
starts a JVM that needs a cold pass and six warm passes before pass
times settle).

Set-up derives the seed's corpus (``inputs.registry_tables``) and runs
one cold pass, whose results are compared with the DuckDB oracle
through ``tools/check.py``'s comparer.
``WARMUP_PASSES`` warm passes follow, still set-up; the measured window
then repeats the subset ``measured_passes(--seconds)`` times.  Each
warm result must equal the cold one.  One operation is one pass over
the subset; ``work_per_s`` is the number of queries over the sum of
each query's median warm time (the old ``registry_total_s``, inverted).

``--trace 1`` alternates traced and untraced passes; traced calls are
split into build (the Python call returning the DataFrame), plan
(forcing ``executedPlan``) and execute (``collect`` on the same
QueryExecution).
"""

from __future__ import annotations

import importlib.util
import math
import os
import time
import traceback

from harness import ROOT, median, tail

SUBSET = (
    "flt_ext_suite",           # filtering: filter DSL parse + compile, both dialects
    "sankey_2dim",             # query: sankey compile
    "dedup_simhash_certified", # operators: dedup
    "docs_chunking",           # operators: LM data
)
# Warm passes keep getting faster, by about 35% from the first to the
# seventh, and level off from there.  After the cold pass and six warm
# passes the measured ones are at that level, so the slowest of them
# (op_tail_s) samples the host's noise, not the decline.
WARMUP_PASSES = 6
PASS_SECONDS = 4  # rough cost of one warm pass, to size the window from --seconds


def measured_passes(seconds: int) -> int:
    """Passes in a ``seconds`` window, fixed per ``seconds`` because
    later passes run faster: a time-bound loop would make the median
    depend on the machine's speed."""
    return max(3, math.ceil(seconds / PASS_SECONDS))


def _checker():
    """``tools/check.py``, imported as is: its comparer models the
    dtype-aware value hash of the correctness gate."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows_key(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from inputs import registry_tables

    spark = ctx.spark
    check = _checker()
    sf_dir = os.path.join(ctx.workdir, "corpus")
    table_rows = registry_tables(ctx.seed, sf_dir)
    fns = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failed: set[str] = set()
    failures = 0
    attempted = 0
    cold: dict[str, float] = {}
    expected: dict[str, list[str]] = {}
    for name in SUBSET:
        attempted += 1
        t0 = time.perf_counter()
        try:
            df = fns[name](spark, sf_dir)
            rows = df.collect()
        except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
            ctx.log(f"{name} failed:\n{traceback.format_exc()}")
            failed.add(name)
            continue
        cold[name] = time.perf_counter() - t0
        expected[name] = _rows_key(rows)
        if name in oracles:
            # the collected rows go back through Arrow as a local
            # relation, so pandas sees the dtypes toPandas() would give
            got = spark.createDataFrame(rows, df.schema).toPandas()
            if check.normalize_pdf(got) != check.normalize_pdf(con.execute(oracles[name]).df()):
                ctx.log(f"{name}: result differs from the DuckDB oracle")
                failed.add(name)
    con.close()
    ctx.log(f"registry: cold pass and oracle checks done, cold times {cold}")
    live = [n for n in SUBSET if n not in failed]
    if not live:
        raise RuntimeError(f"every query failed its cold run: {sorted(failed)}")
    failures += len(failed)

    groups, tracer = ctx.groups, ctx.tracer
    runs: dict[str, list[float]] = {n: [] for n in live}
    traced_runs: dict[str, list[tuple[float, float, float]]] = {n: [] for n in live}
    plain_pass: list[float] = []
    traced_pass: list[float] = []
    warm_pass: list[float] = []
    n_passes = WARMUP_PASSES + measured_passes(ctx.seconds)
    for passes in range(n_passes):
        warm_up = passes < WARMUP_PASSES
        if passes == WARMUP_PASSES:
            setup_end = time.time()
            ctx.log("registry: warm-up passes done")
            start = time.perf_counter()
        traced = ctx.trace and not warm_up and passes % 2 == 1
        p0 = time.perf_counter()
        for name in live:
            attempted += 1
            op = f"{name}.{passes}"
            if traced:
                with tracer.span("query", "oracle", op):
                    groups.set("oracle", op)
                    df = fns[name](spark, sf_dir)
                    with tracer.span("plan", "spark", op) as plan:
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute", "spark", op) as execute:
                        rows = df.collect()
                groups.collect("oracle", op)
                build = plan.start - tracer.spans[plan.parent].start
                traced_runs[name].append(
                    (build, plan.end - plan.start, execute.end - execute.start))
            else:
                groups.set("oracle", op)
                t0 = time.perf_counter()
                rows = fns[name](spark, sf_dir).collect()
                if not warm_up:
                    runs[name].append(time.perf_counter() - t0)
            if _rows_key(rows) != expected[name]:
                ctx.log(f"{name}: warm result differs from the cold one")
                failures += 1
        (warm_pass if warm_up else traced_pass if traced else plain_pass).append(
            time.perf_counter() - p0)
    window = time.perf_counter() - start
    groups.clear()

    medians = {n: median(v) for n, v in runs.items() if v}
    total = sum(medians.values())
    tail_s, tail_pct, tail_n = tail(plain_pass) if plain_pass else (0.0, 0.0, 0)
    out = {
        "attempted": attempted,
        "failed": failures,
        "setup_end": setup_end,
        "e2e": {
            "op_p50_s": (median(plain_pass) if plain_pass else 0.0, "s"),
            "op_tail_s": (tail_s, "s"),
            "work_per_s": (len(medians) / total if total else 0.0, "1/s"),
        },
        "info": {
            "corpus_rows": table_rows,
            "queries": list(SUBSET),
            "queries_failed": sorted(failed),
            "passes_warmup": WARMUP_PASSES,
            "passes_measured": n_passes - WARMUP_PASSES,
            "pass_s": plain_pass,
            "warmup_pass_s": warm_pass,
            "registry_total_s": total,
            "query_median_s": medians,
            "query_cold_s": cold,
            "tail_percentile": tail_pct,
            "tail_samples": tail_n,
            "ops_traced": sum(len(v) for v in traced_runs.values()),
            "traced_wall_s": sum(traced_pass),
            "window_s": window,
        },
        "layers": {},
    }
    if ctx.trace:
        out["layers"] = _layer_metrics(ctx, traced_runs, cold, plain_pass, traced_pass)
    return out


def _layer_metrics(ctx, traced_runs, cold, plain_pass, traced_pass) -> dict:
    def per_query_median(i: int) -> float:
        return sum(median([r[i] for r in v]) for v in traced_runs.values() if v)

    self_t = ctx.tracer.self_times()
    n = max(len(traced_pass), 1)
    layers = {
        "oracle.build_s": (per_query_median(0), "s"),
        "oracle.plan_s": (per_query_median(1), "s"),
        "oracle.exec_s": (per_query_median(2), "s"),
        "oracle.cold_s": (sum(cold.values()), "s"),
        "self.oracle_s": (self_t.get("oracle", 0.0) / n, "s"),
        "self.spark_s": (self_t.get("spark", 0.0) / n, "s"),
        "trace.op_traced_s": (median(traced_pass) if traced_pass else 0.0, "s"),
        "trace.op_untraced_s": (median(plain_pass) if plain_pass else 0.0, "s"),
    }
    for name, v in traced_runs.items():
        if v:
            layers[f"oracle.{name}_s"] = (median([sum(r) for r in v]), "s")
    return layers
