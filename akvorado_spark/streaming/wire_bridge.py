"""Wire-record → flows-schema bridge.

The decoders (sources/wire.py) emit the reference's ``FlowMessage``
fixed fields: epoch seconds, 16-byte addresses, interface *indexes*.
The flows table wants timestamps, interface *names* and the exporter /
network attribute columns.  The reference crosses this gap inside its
enrichment step via the metadata lookup keyed by (exporter IP,
ifindex) (J6, outlet/metadata/root.go:175); this module is that
adapter for the Spark pipeline:

    decode_binary(raw, WIRE_SCHEMA, ...)        # bytes → wire rows
      → wire_to_flows(wire, interfaces=...)     # ifindex → names, typing
      → enrich(...)                             # networks LPM, classifiers
      → FlowIngest.process_batch / store

Scale: the interface table is per-(exporter, ifindex) — thousands of
rows at most — so both direction joins broadcast; the fact stream
stays shuffle-free through the bridge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akvorado_spark.functions.sqltext import ident
from akvorado_spark.schema.definition import FlowSchema, flows_schema

# wire columns consumed by the bridge rather than stored directly
_WIRE_ONLY = ("InIf", "OutIf", "TCPFlags")

_DIRECTION_LABELS = {0: "ingress", 1: "egress"}


def wire_to_flows(
    wire: DataFrame,
    schema: FlowSchema | None = None,
    interfaces: DataFrame | None = None,
) -> DataFrame:
    """Type and name a decoded wire frame into the flows-schema shape.

    ``interfaces``: optional metadata snapshot with columns
    (ExporterAddress, IfIndex, Name, Description, Speed, ...) — the
    J6 lookup; joined once per direction with a broadcast hint.
    Missing lookups fall back to the numeric ifindex as the name, so
    rows are never dropped (the reference keeps flows whose metadata
    poll hasn't answered yet)."""
    schema = schema or flows_schema()
    df = wire
    if interfaces is not None:
        attr_cols = [c for c in interfaces.columns if c not in ("ExporterAddress", "IfIndex")]
        for side in ("InIf", "OutIf"):
            sel = interfaces.select(
                "ExporterAddress",
                F.col("IfIndex").alias(side),
                *[F.col(c).alias(f"{side}{c}") for c in attr_cols],
            )
            df = df.join(F.broadcast(sel), on=["ExporterAddress", side], how="left")

    # one projection onto the stored schema: typing, the direction
    # label, the ifindex fallback for unnamed interfaces, defaults
    present = set(df.columns)
    labels = ", ".join(f"{k}, '{v}'" for k, v in _DIRECTION_LABELS.items())
    derived = {
        "TimeReceived": "timestamp_seconds(TimeReceived)",
        "FlowDirection": f"coalesce(element_at(map({labels}),"
        " CAST(coalesce(FlowDirection, -1) AS INT)), 'undefined')",
    }
    for side in ("InIf", "OutIf"):
        fallback = f"CAST({side} AS STRING)"
        name = f"{side}Name"
        derived[name] = f"coalesce({name}, {fallback})" if name in present else fallback
        present.add(name)
    out = []
    for c in schema.stored():
        if c.generated:
            continue  # filled by schema.ingest()
        value = derived.get(c.name, ident(c.name)) if c.name in present else "NULL"
        out.append(f"CAST({value} AS {c.dtype.simpleString()}) AS {ident(c.name)}")
    return df.selectExpr(*out)
