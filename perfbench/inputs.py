"""Seeded input generation for the perfbench workloads.

Everything here runs before any timed region and depends only on the
seed and the sizes passed in, so the same seed always yields the same
datagrams, flows and tables.  The program under test receives only
what this module writes into the run's scratch directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

# The ingest backlog's first file is earlier traffic of DAY; the rest
# starts at midnight of NEXT_DAY and carries late datagrams of DAY.
DAY = datetime(2024, 3, 4, tzinfo=timezone.utc)
NEXT_DAY = DAY + timedelta(days=1)
_V4_PREFIX = b"\x00" * 10 + b"\xff\xff"


def _epoch(dt: datetime) -> int:
    return int(dt.timestamp())


def flows_in_window(n: int, seed: int, start: datetime, span_s: int) -> pd.DataFrame:
    """``fixtures.flows_pdf`` rows re-timed in order, uniformly over
    ``[start, start + span_s)``."""
    from akvorado_spark.sources.fixtures import flows_pdf

    pdf = flows_pdf(n, seed)
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, span_s, n))
    pdf["TimeReceived"] = pd.Timestamp(start).tz_convert(None) + pd.to_timedelta(offs, unit="s")
    return pdf


@dataclass
class DayTotals:
    """Expected per-day ``[Flows, Bytes, Packets]`` sums."""

    days: dict[str, list[int]] = field(default_factory=dict)

    def add(self, t: int, flows: int, bytes_: int, packets: int) -> None:
        day = datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d")
        acc = self.days.setdefault(day, [0, 0, 0])
        acc[0] += flows
        acc[1] += bytes_
        acc[2] += packets

    @property
    def flows(self) -> int:
        return sum(v[0] for v in self.days.values())


@dataclass
class Backlog:
    """RawFlow-framed NetFlow v9 datagrams, one list per stream file."""

    files: list[list[bytes]]
    flows_per_file: list[int]
    totals: DayTotals
    datagrams: int


def netflow_backlog(
    seed: int,
    n_files: int,
    flows_per_file: int,
    earlier_flows: int,
    span_per_file_s: int = 60,
    late_share: float = 0.02,
) -> Backlog:
    """The ingest backlog: 8 exporters' traffic packed with
    ``nf_encode.demo_packets`` (v4 + v6 templates and the sampling
    options record) and framed with ``rawflow_pb.encode_raw_flow``.

    File 0 holds the template datagrams and ``earlier_flows`` flows of
    ``DAY``, so the store starts with earlier data of that day.  Files
    ``1..n_files`` hold ``flows_per_file`` flows each, from midnight of
    ``NEXT_DAY`` on, ``span_per_file_s`` of traffic per file; they rely
    on the decoder's per-exporter template state.  In each of them a
    ``late_share`` of the data datagrams (at least one) is late: it
    carries a timestamp up to 30 minutes before midnight, so every
    micro-batch rewrites the rollups of the populated ``DAY`` too."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.sources.fixtures import EXPORTERS
    from akvorado_spark.sources.nf_encode import (
        ETYPE_IPV4,
        ETYPE_IPV6,
        MAX_FLOWS_PER_PACKET,
        demo_packets,
    )
    from akvorado_spark.sources.rawflow_pb import encode_raw_flow

    midnight = _epoch(NEXT_DAY)
    parts = [flows_in_window(earlier_flows, seed + 1_000_003, DAY, 23 * 3600)]
    pdf = flows_in_window(n_files * flows_per_file, seed, NEXT_DAY, n_files * span_per_file_s)
    parts += [pdf.iloc[i * flows_per_file:(i + 1) * flows_per_file] for i in range(n_files)]
    rng = np.random.default_rng([seed, 2])
    addr_of = {bytes(ip_bytes(e)): bytes(ip_bytes(e)[12:]) for e in EXPORTERS}
    totals = DayTotals()
    files: list[list[bytes]] = []
    sequence: dict[bytes, int] = {}
    for i, part in enumerate(parts):
        frames: list[bytes] = []
        data: list[tuple[int, bytes, bytes, pd.DataFrame]] = []
        for exp_addr, ex in part.groupby("ExporterAddress", sort=True):
            src = addr_of[bytes(exp_addr)]
            seq = sequence.get(src, 0)
            now = _epoch(ex["TimeReceived"].iloc[-1].tz_localize("UTC"))
            pkts = demo_packets(ex, sequence=seq, sampling=int(ex["SamplingRate"].iloc[0]),
                                start_ts=midnight - 86400, now_ts=now)
            sequence[src] = seq + len(pkts) - 1
            if i == 0:
                # timestamped ahead of every data datagram of its exporter
                frames.append(encode_raw_flow(time_received=_epoch(DAY) - 3600,
                                              payload=pkts[0], source_address=src,
                                              decoder="netflow"))
            # demo_packets emits the v4 flows, then the v6 flows, each
            # chunked at its family's per-datagram bound
            v6 = ex["SrcAddr"].map(lambda a: a[:12] != _V4_PREFIX).to_numpy()
            chunks = []
            for rows, etype in ((ex[~v6], ETYPE_IPV4), (ex[v6], ETYPE_IPV6)):
                step = MAX_FLOWS_PER_PACKET[etype]
                chunks += [rows.iloc[j:j + step] for j in range(0, len(rows), step)]
            for rows, pkt in zip(chunks, pkts[1:], strict=True):
                t = _epoch(rows["TimeReceived"].max().tz_localize("UTC"))
                data.append((t, pkt, src, rows))
        data.sort(key=lambda d: d[0])
        late: set[int] = set()
        if i > 0:
            n_late = max(1, int(round(late_share * len(data))))
            late = set(rng.choice(len(data), n_late, replace=False).tolist())
        for k, (t, pkt, src, rows) in enumerate(data):
            if k in late:
                t = midnight - int(rng.integers(60, 1800))
            frames.append(encode_raw_flow(time_received=t, payload=pkt,
                                          source_address=src, decoder="netflow"))
            totals.add(t, len(rows), int(rows["Bytes"].sum()), int(rows["Packets"].sum()))
        files.append(frames)
    counts = [len(p) for p in parts]
    return Backlog(files, counts, totals, sum(len(f) for f in files))


def write_stream_files(backlog: Backlog, directory: str) -> None:
    """One Kafka-shaped parquet file (``value: binary``) per backlog
    file, with strictly increasing modification times so the file
    source replays them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    base = 1_700_000_000
    for i, frames in enumerate(backlog.files):
        p = os.path.join(directory, f"rawflows-{i:05d}.parquet")
        pq.write_table(pa.table({"value": pa.array(frames, pa.binary())}), p)
        os.utime(p, (base + i, base + i))


def exporter_metadata(spark):
    """Exporter attributes keyed by ExporterAddress (the J6 snapshot)."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.sources.fixtures import EXPORTERS

    rows = [
        (ip_bytes(e), f"router{i + 1}", ["east", "west"][i % 2],
         "edge" if i % 2 else "core", ["sfo1", "nyc1", "ams1", "tyo1"][i % 4],
         "us-west" if i % 2 else "us-east", "acme")
        for i, e in enumerate(EXPORTERS)
    ]
    return spark.createDataFrame(
        rows,
        "ExporterAddress binary, ExporterName string, ExporterGroup string, "
        "ExporterRole string, ExporterSite string, ExporterRegion string, "
        "ExporterTenant string",
    )


def interfaces(spark):
    """Per-(exporter, ifindex) interface metadata for ``wire_to_flows``."""
    from akvorado_spark.functions.ip import ip_bytes
    from akvorado_spark.sources.fixtures import EXPORTERS, PROVIDERS

    rows = [
        (ip_bytes(e), i, f"Gi0/0/{i}", f"Transit: {PROVIDERS[i % 5]}",
         [1000, 10000, 100000][i % 3], ["transit", "ix", "pni"][i % 3],
         PROVIDERS[i % 5], "external" if i % 2 else "internal")
        for e in EXPORTERS
        for i in range(8)
    ]
    return spark.createDataFrame(
        rows,
        "ExporterAddress binary, IfIndex long, Name string, Description string, "
        "Speed long, Connectivity string, Provider string, Boundary string",
    )


# ---------------------------------------------------------------------------
# Registry corpus: the oracle tables, reshuffled for a seed
# ---------------------------------------------------------------------------

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")


def registry_tables(seed: int, directory: str) -> dict[str, int]:
    """Write the seed's variant of ``corpus/`` and return its row counts.

    ``corpus/`` is the registry's deterministic sf0.001 corpus (seed 42,
    TESTDATA.md).  A seed varies it the way ``tools/make_scale_data.py``
    makes its replicas, so the organic structure the queries' cost
    depends on is kept: every table in a seeded row order, each
    document's token sequence rotated by a seeded shift (only the few
    shingles across the cut change, so near-duplicates stay
    near-duplicates) and every embedding's components rotated by one
    seeded shift (norms and pairwise similarities unchanged)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name in sorted(f[:-len(".parquet")] for f in os.listdir(CORPUS)):
        t = pq.read_table(os.path.join(CORPUS, f"{name}.parquet"))
        t = t.take(rng.permutation(t.num_rows))
        if name == "documents":
            shift = int(rng.integers(1, 16))
            texts = []
            for words in (s.split(" ") for s in t["text"].to_pylist()):
                k = shift % len(words)
                texts.append(" ".join(words[k:] + words[:k]))
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
        elif name == "embeddings":
            vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
            vecs = np.roll(vecs, int(rng.integers(1, vecs.shape[1])), axis=1)
            t = t.set_column(t.schema.get_field_index("embedding"), "embedding",
                             pa.array(list(vecs), t.schema.field("embedding").type))
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
