"""All fixed StructTypes (SURVEY.md §1 D1–D9). No schema inference in the
hot path — RDF's open vocabulary lives as *data* in a fixed relational
schema (the columnar triple encoding used by SPARQL-on-Spark systems).
"""

from __future__ import annotations

from pyspark.sql import types as T

# D2 — interleaved document (the `input_hint` shape, BASELINE.json:15).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# D3 — columnar triple table (librdf statement-list analogue,
# libtwine/rdf.c `[U]`), plus lineage columns.
TRIPLES = T.StructType(
    [
        T.StructField("g", T.StringType(), False),       # named graph (D4)
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),  # iri|bnode|literal
        T.StructField("o_value", T.StringType(), False),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("doc_id", T.StringType(), True),   # lineage
        T.StructField("stage", T.StringType(), True),    # lineage
    ]
)

# Mention rows emitted by the extraction processors (O14).
MENTIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("span_pos", T.IntegerType(), False),
        T.StructField("mention_ord", T.IntegerType(), False),
        T.StructField("mention_text", T.StringType(), False),
        T.StructField("norm_text", T.StringType(), False),
        T.StructField("mention_iri", T.StringType(), False),
    ]
)

# D6 — coreference membership (spindle proxy model analogue).
ENTITIES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("member_iri", T.StringType(), False),
    ]
)
