"""The one-pass generate stage on a small synthetic coref graph: one
aggregation per component gives the entities, the attrs index and the
full-term proxy quads.  Covers label ties across languages (unknown ones
too), class ties across rules (and a token with two rules), singletons,
and one mention IRI in several documents."""

from __future__ import annotations

from kgspark import generate as gen
from kgspark import grammar as G
from tests.oracle_kg import entity_id

# (doc_id, norm_text, source, lang); mention_iri = ex://<source>/<norm>
MENTIONS = [
    # A: known-language ties — de beats fr, then norm asc among de
    (1, "zeta", "s1", "de"),
    (1, "alpha", "s1", "de"),
    (2, "alpha beta", "s2", "fr"),
    # B: unknown languages rank last and tie; norm asc, then lang asc
    (1, "gamma", "s1", "xx"),
    (2, "gamma", "s2", "qq"),
    (3, "omega", "s3", "aa"),
    # C: a known language beats an unknown one
    (1, "beta", "s1", "zh"),
    (1, "aardvark", "s1", "xx"),
    # D: a singleton
    (4, "lonely", "s1", "en"),
    # E: one mention IRI in three documents
    (1, "value vector", "s1", "en"),
    (2, "value vector", "s1", "en"),
    (3, "value vector", "s1", "en"),
    (3, "vector", "s1", "es"),
]
COMPONENT = {"zeta": "A", "alpha": "A", "alpha beta": "A", "gamma": "B",
             "omega": "B", "beta": "C", "aardvark": "C", "lonely": "D",
             "value vector": "E", "vector": "E"}
# custom rulebase: A ties at 50 across two classes, B's "gamma" matches
# two rules with the same score
RULES = [("alpha", "ex:Zed", 50), ("zeta", "ex:Abc", 50),
         ("gamma", "ex:Mid", 10), ("gamma", "ex:Aaa", 10),
         ("beta", "ex:Low", 5)]


def _iri(source, norm):
    return f"ex://{source}/{norm.replace(' ', '_')}"


def _frames(spark):
    m = spark.createDataFrame(
        [(d, n, _iri(s, n), lang, s) for d, n, s, lang in MENTIONS],
        "doc_id bigint, norm_text string, mention_iri string, lang string,"
        " source string",
    )
    labels = spark.createDataFrame(sorted(COMPONENT.items()), "node string, label string")
    return m, labels


def _members():
    out = {}
    for _, n, s, _ in MENTIONS:
        out.setdefault(COMPONENT[n], set()).add(_iri(s, n))
    return out


EID = {c: entity_id(min(iris)) for c, iris in _members().items()}
# (label, label_lang, class under the default rules, n_members, n_mentions)
WANT_ATTRS = {
    "A": ("alpha", "de", G.DEFAULT_CLASS, 3, 3),
    "B": ("gamma", "qq", G.DEFAULT_CLASS, 3, 3),
    "C": ("beta", "zh", G.DEFAULT_CLASS, 2, 2),
    "D": ("lonely", "en", G.DEFAULT_CLASS, 1, 1),
    "E": ("value vector", "en", "ex:Data", 2, 4),
}


def test_entities_and_attrs(spark):
    m, labels = _frames(spark)
    ents = [tuple(r) for r in gen.entities_df(m, labels).collect()]
    assert sorted(ents) == sorted(
        (EID[c], iri) for c, iris in _members().items() for iri in iris
    )
    attrs = {r["entity_id"]: r for r in gen.entity_attrs_df(m, labels).collect()}
    assert set(attrs) == set(EID.values())
    for c, (label, lang, cls, n_members, n_mentions) in WANT_ATTRS.items():
        r = attrs[EID[c]]
        assert (r["label"], r["label_lang"], r["class"]) == (label, lang, cls), c
        assert (r["n_members"], r["n_mentions"], r["score"]) == (
            n_members, n_mentions, n_mentions), c


def test_class_ties_across_rules(spark):
    m, labels = _frames(spark)
    rules = spark.createDataFrame(RULES, "tok string, class string, rule_score int")
    got = {tuple(r) for r in gen.entity_classes(m, labels, rules=rules).collect()}
    assert got == {(EID["A"], "ex:Abc"), (EID["B"], "ex:Aaa"),
                   (EID["C"], "ex:Low"), (EID["D"], G.DEFAULT_CLASS),
                   (EID["E"], G.DEFAULT_CLASS)}
    # a token with two rules must not multiply the counted rows
    comps = gen.entity_components(m, labels, rules=rules)
    counts = {r["label"]: (r["n_members"], r["n_mentions"]) for r in comps.collect()}
    assert counts == {c: w[3:] for c, w in WANT_ATTRS.items()}


def test_proxy_quads_full_terms(spark):
    m, labels = _frames(spark)
    want = set()
    for c, iris in _members().items():
        label, lang, cls, _, n_mentions = WANT_ATTRS[c]
        s = EID[c]
        want |= {(s, G.P_SAME_AS, iri, "iri", "", "") for iri in iris}
        want |= {
            (s, G.P_TYPE, cls, "iri", "", ""),
            (s, G.P_LABEL, label, "literal", lang, ""),
            (s, G.P_SCORE, str(n_mentions), "literal", "", G.DT_INTEGER),
        }
    rows = [tuple(r) for r in gen.proxy_quads(m, labels).collect()]
    assert {r[0] for r in rows} == {G.ROOT_GRAPH}
    # already a set: no dedup runs, and none is needed
    assert len(rows) == len(set(rows))
    assert {r[1:] for r in rows} == want


def test_components_same_across_partitioning(spark):
    m, labels = _frames(spark)
    a = sorted(map(tuple, gen.entity_components(m.repartition(1), labels).collect()))
    b = sorted(map(tuple, gen.entity_components(m.repartition(7), labels).collect()))
    assert a == b
