"""Document sources (SURVEY.md O1/O2/O4).

Twine ingests from AMQP plus file injection (``twine-inject``/CLI
`[U~]`).  Documents arrive as the fixed-schema ``documents.parquet``
table, read directly by the runner.  This module holds the
Anansi-envelope unwrapper (O4): spans of ``kind='envelope'`` carry a
JSON body ``{"kind": ..., "text": ..., "media_ref": ...}`` that is
unwrapped natively (``from_json``, no Python) and re-dispatched to the
per-kind processors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)


def unwrap_envelopes(flat: DataFrame) -> DataFrame:
    """O4 Anansi-bridge analogue: spans with ``kind='envelope'`` hold a
    JSON body; unwrap it into the carried kind/text/media_ref (offset
    preserved) and union back with the pass-through spans.  Malformed
    envelopes become ``kind='envelope_invalid'`` (quarantine picks them
    up, mirroring MQ-reject)."""
    env = flat.filter(F.col("kind") == "envelope").withColumn(
        "_e", F.from_json("text", ENVELOPE_SCHEMA)
    )
    unwrapped = env.select(
        "doc_id",
        "lang",
        "source",
        "span_pos",
        F.coalesce(F.col("_e.kind"), F.lit("envelope_invalid")).alias("kind"),
        F.coalesce(F.col("_e.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("_e.media_ref"), F.lit("")).alias("media_ref"),
        "offset",
    )
    passthrough = flat.filter(F.col("kind") != "envelope")
    return passthrough.unionByName(unwrapped)
