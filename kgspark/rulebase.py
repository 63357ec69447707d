"""Rulebase-as-data (SURVEY D7): spindle loads its class/property
rulebase from a ``rulebase.ttl`` artifact (`[U~]` — twine's
spindle-generate reads rulebase config as RDF); here the same config
model.  The Python constants in grammar.py (the binding spec) are
SERIALIZED to a Turtle artifact through the engine's OWN writer
(rdfio.to_turtle) and loaded back through the engine's OWN parser
(rdfio.parse_turtle) — dog-fooding O10 on the config path, exactly how
upstream consumes its rulebase.

Vocabulary (all under the ``ex:`` namespace):

    ex:rule/class/{tok}  ex:ruleToken  "{tok}" ;
                         ex:ruleClass  {class IRI} ;
                         ex:ruleScore  "{score}"^^xsd:integer .
    ex:rule/prop/{i}     ex:rulePred   {pred IRI} ;
                         ex:ruleShape  "{shape}" ;
                         ex:rulePriority "{priority}"^^xsd:integer ;
                         ex:ruleLangPref "{lang_pref}"^^xsd:integer .

Scale note: the rulebase is CONFIG — a bounded, human-curated artifact
(16 class + 5 property rules here; spindle's rulebase.ttl is similarly
small).  Driver-side collect of the serialized lines is therefore
bounded by construction; the loaded rule DataFrames feed the same
broadcast joins as the constant-sourced ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import grammar as G
from . import rdfio
from .session import local_frame

P_TOKEN = "ex:ruleToken"
P_CLASS = "ex:ruleClass"
P_SCORE = "ex:ruleScore"
P_PRED = "ex:rulePred"
P_SHAPE = "ex:ruleShape"
P_PRIORITY = "ex:rulePriority"
P_LANGPREF = "ex:ruleLangPref"
XSD_INT = "xsd:integer"


def rulebase_triples(spark: SparkSession) -> DataFrame:
    """CLASS_RULES + PROPERTY_RULES as a full-term triple DataFrame
    (s, p, o, o_kind, o_lang, o_datatype) ready for any rdfio writer."""
    rows = []
    for tok, cls, score in G.CLASS_RULES:
        s = f"ex:rule/class/{tok}"
        rows.append((s, P_TOKEN, tok, "literal", "", ""))
        rows.append((s, P_CLASS, cls, "iri", "", ""))
        rows.append((s, P_SCORE, str(score), "literal", "", XSD_INT))
    for i, (pred, shape, priority, lang_pref) in enumerate(G.PROPERTY_RULES):
        s = f"ex:rule/prop/{i}"
        rows.append((s, P_PRED, pred, "iri", "", ""))
        rows.append((s, P_SHAPE, shape, "literal", "", ""))
        rows.append((s, P_PRIORITY, str(priority), "literal", "", XSD_INT))
        rows.append((s, P_LANGPREF, str(lang_pref), "literal", "", XSD_INT))
    return local_frame(spark, rows, rdfio.PARSED_DDL)


def write_rulebase_ttl(spark: SparkSession, path: str) -> None:
    """Emit the rulebase artifact through the engine's Turtle writer.
    The collect is bounded by the (config-sized) rulebase."""
    lines = [
        r["line"]
        for r in rdfio.to_turtle(rulebase_triples(spark)).collect()
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(sorted(lines)) + "\n")


def _parsed(spark: SparkSession, ttl_path: str) -> DataFrame:
    lines = spark.read.text(ttl_path).withColumnRenamed("value", "line")
    return rdfio.parse_turtle(lines)


def _pivot_rules(parsed: DataFrame, fields: list[tuple[str, str, str]]) -> DataFrame:
    """Group the parsed triples by subject and fold each (pred → column)
    via conditional max — the standard property-table pivot."""
    aggs = []
    for pred, col, typ in fields:
        v = F.max(F.when(F.col("p") == pred, F.col("o")))
        aggs.append(v.cast(typ).alias(col))
    return parsed.groupBy("s").agg(*aggs).drop("s")


def load_class_rules(spark: SparkSession, ttl_path: str) -> DataFrame:
    """rulebase.ttl → (tok, class, rule_score) — same schema/content as
    generate.rulebase_df's constant-sourced frame."""
    parsed = _parsed(spark, ttl_path).filter(
        F.col("s").startswith("ex:rule/class/")
    )
    return _pivot_rules(
        parsed,
        [(P_TOKEN, "tok", "string"), (P_CLASS, "class", "string"),
         (P_SCORE, "rule_score", "int")],
    )


def load_property_rules(spark: SparkSession, ttl_path: str) -> DataFrame:
    """rulebase.ttl → (pred, shape, priority, lang_pref)."""
    parsed = _parsed(spark, ttl_path).filter(
        F.col("s").startswith("ex:rule/prop/")
    )
    return _pivot_rules(
        parsed,
        [(P_PRED, "pred", "string"), (P_SHAPE, "shape", "string"),
         (P_PRIORITY, "priority", "int"), (P_LANGPREF, "lang_pref", "int")],
    )
