"""SPARQL text front-end: the parser and sparql_select vs the direct
bgp_match machinery on synthetic triples."""

from __future__ import annotations

import pytest

from kgspark.bgp import bgp_match
from kgspark.sparql import parse_sparql, sparql_select

TRIPLES = [
    ("ex:a", "rdf:type", "ex:Person"),
    ("ex:a", "rdfs:label", "alice"),
    ("ex:a", "ex:score", "7"),
    ("ex:a", "ex:knows", "ex:b"),
    ("ex:b", "rdf:type", "ex:Person"),
    ("ex:b", "rdfs:label", "bob"),
    ("ex:b", "ex:score", "2"),
    ("ex:c", "rdf:type", "ex:Robot"),
    ("ex:c", "rdfs:label", "carl"),
    ("ex:c", "ex:score", "11"),
    ("n1", "ex:next", "n2"),
    ("n2", "ex:next", "n3"),
]


@pytest.fixture()
def tri(spark):
    return spark.createDataFrame(TRIPLES, "s string, p string, o string")


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_parse_spec_shape():
    spec = parse_sparql(
        'SELECT DISTINCT ?e ?l WHERE { ?e rdf:type ex:Person . '
        '?e rdfs:label ?l . FILTER(REGEX(?l, "^a")) } ORDER BY ?l LIMIT 5'
    )
    assert spec["distinct"] is True
    assert spec["select"] == ["e", "l"]
    assert spec["groups"][0]["patterns"] == [
        ("?e", "rdf:type", "ex:Person"), ("?e", "rdfs:label", "?l")
    ]
    assert spec["groups"][0]["filters"] == ["l rlike '^a'"]
    assert spec["order"] == [("l", False)] and spec["limit"] == 5


def test_select_star_and_a_shorthand(tri):
    out = sparql_select(tri, "SELECT * WHERE { ?x a ex:Person }")
    assert set(out.columns) == {"x"}
    assert _rows(out) == {("ex:a",), ("ex:b",)}


def test_filter_comparison_and_cast(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?n WHERE { ?x ex:score ?n . "
        "FILTER(xsd:integer(?n) >= 7) }",
    )
    assert _rows(out) == {("ex:a", "7"), ("ex:c", "11")}


def test_filter_boolean_connectives(tri):
    out = sparql_select(
        tri,
        'SELECT ?x WHERE { ?x rdfs:label ?l . '
        'FILTER(REGEX(?l, "^[ab]") || ?l = "carl") }',
    )
    assert _rows(out) == {("ex:a",), ("ex:b",), ("ex:c",)}


def test_optional_and_not_exists(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?y WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } "
        "FILTER NOT EXISTS { ?x rdfs:label \"bob\" } }",
    )
    assert _rows(out) == {("ex:a", "ex:b")}


def test_union_matches_python_api(tri):
    q = (
        "SELECT * WHERE { ?x rdf:type ex:Robot } "
        "UNION { ?x ex:knows ?y }"
    )
    out = sparql_select(tri, q)
    assert _rows(out) == {("ex:c", None), ("ex:a", "ex:b")}


def test_order_limit_offset(tri):
    q = "SELECT ?l WHERE { ?x rdfs:label ?l } ORDER BY DESC(?l) LIMIT 2"
    got = [r["l"] for r in sparql_select(tri, q).collect()]
    assert got == ["carl", "bob"]
    q2 = "SELECT ?l WHERE { ?x rdfs:label ?l } ORDER BY ?l LIMIT 2 OFFSET 1"
    got2 = [r["l"] for r in sparql_select(tri, q2).collect()]
    assert got2 == ["bob", "carl"]


def test_property_path_text_forms(tri):
    out = sparql_select(tri, "SELECT ?b WHERE { n1 ex:next+ ?b }")
    assert _rows(out) == {("n2",), ("n3",)}
    out2 = sparql_select(
        tri, "SELECT DISTINCT ?b WHERE { n3 (ex:next|^ex:next)+ ?b }"
    )
    assert _rows(out2) == {("n1",), ("n2",), ("n3",)}


def test_text_equals_python_api(tri):
    got = sparql_select(
        tri,
        'SELECT DISTINCT ?e ?l WHERE { ?e rdf:type ex:Person . '
        '?e rdfs:label ?l . FILTER(REGEX(?l, "^[a-b]")) }',
    )
    want = bgp_match(
        tri,
        [("?e", "rdf:type", "ex:Person"), ("?e", "rdfs:label", "?l")],
        filters=["l rlike '^[a-b]'"],
        select=["e", "l"],
        distinct=True,
    )
    assert _rows(got) == _rows(want)


def test_parse_errors():
    with pytest.raises(ValueError):
        parse_sparql("SELECT WHERE { ?x ?p ?o }")
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { ?x ?p ?o ")
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { ?x ?p ?o } JUNK")


def test_values_single_var(tri):
    out = sparql_select(
        tri,
        'SELECT ?x ?l WHERE { ?x rdfs:label ?l . '
        'VALUES ?l { "alice" "carl" } }',
    )
    assert _rows(out) == {("ex:a", "alice"), ("ex:c", "carl")}


def test_values_multi_var(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?l ?tag WHERE { ?x rdfs:label ?l . "
        'VALUES (?l ?tag) { ("alice" "t1") ("bob" "t2") } }',
    )
    assert _rows(out) == {("ex:a", "alice", "t1"), ("ex:b", "bob", "t2")}


def test_construct(tri):
    from kgspark.sparql import sparql_construct

    out = sparql_construct(
        tri,
        "CONSTRUCT { ?x rdf:type ex:Labeled . ?x ex:name ?l } "
        "WHERE { ?x rdfs:label ?l . ?x rdf:type ex:Person }",
    )
    assert set(out.columns) == {"s", "p", "o"}
    assert _rows(out) == {
        ("ex:a", "rdf:type", "ex:Labeled"),
        ("ex:b", "rdf:type", "ex:Labeled"),
        ("ex:a", "ex:name", "alice"),
        ("ex:b", "ex:name", "bob"),
    }


def test_construct_drops_unbound_optional(tri):
    from kgspark.sparql import sparql_construct

    out = sparql_construct(
        tri,
        "CONSTRUCT { ?x ex:peer ?y } "
        "WHERE { ?x rdf:type ex:Person . OPTIONAL { ?x ex:knows ?y } }",
    )
    # only ex:a has an outgoing knows edge; ex:b's unbound OPTIONAL ?y
    # must NOT produce a NULL-object template instance (spec semantics)
    assert _rows(out) == {("ex:a", "ex:peer", "ex:b")}


def test_ask(tri):
    from kgspark.sparql import sparql_ask

    assert sparql_ask(tri, "ASK { ex:a ex:knows ex:b }").collect()[0]["ask"]
    assert not sparql_ask(tri, "ASK WHERE { ex:b ex:knows ex:c }").collect()[0]["ask"]
    assert sparql_ask(tri, 'ASK { ?x rdf:type ex:Robot . FILTER(REGEX(?x, "c")) }').collect()[0]["ask"]


def test_store_sparql_graph_pruned(spark, tmp_path):
    """SPARQL over the partitioned store: the graph-scoped fetch must
    prune partitions BEFORE the parse kernel (PartitionFilters on the
    text scan), and the merged default graph has set semantics."""
    from kgspark import rdfio

    rows = [
        ("doc://1", "ex:a", "rdfs:label", "alice", "literal", "", ""),
        ("doc://1", "ex:a", "rdf:type", "ex:Person", "iri", "", ""),
        ("doc://2", "ex:b", "rdfs:label", "bob", "literal", "", ""),
        # duplicate statement across graphs → ONE solution after merge
        ("doc://2", "ex:a", "rdfs:label", "alice", "literal", "", ""),
    ]
    quads = spark.createDataFrame(rows, "g string, " + rdfio.PARSED_DDL)
    path = str(tmp_path / "store")
    rdfio.write_nquads_store(quads, path)

    from kgspark.sparql import store_sparql

    out = store_sparql(
        spark, path, "SELECT ?x ?l WHERE { ?x rdfs:label ?l }",
        graph="doc://1",
    )
    assert {tuple(r) for r in out.collect()} == {("ex:a", "alice")}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(g" in plan and "g#" in plan, plan

    merged = store_sparql(
        spark, path, "SELECT ?x ?l WHERE { ?x rdfs:label ?l }"
    )
    got = [tuple(r) for r in merged.collect()]
    assert sorted(got) == [("ex:a", "alice"), ("ex:b", "bob")]  # set semantics

    ask = store_sparql(
        spark, path, "ASK { ex:b rdfs:label \"bob\" }", graph="doc://1"
    )
    assert ask.collect()[0]["ask"] is False


def test_group_by_count(tri):
    out = sparql_select(
        tri,
        "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p "
        "ORDER BY DESC(?n) ?p",
    )
    got = [(r["p"], r["n"]) for r in out.collect()]
    assert got[0] == ("ex:score", 3)  # ties broken by ?p asc after count desc
    assert dict(got)["ex:knows"] == 1
    assert dict(got)["rdfs:label"] == 3


def test_group_by_sum_and_having(tri):
    out = sparql_select(
        tri,
        "SELECT ?t (SUM(?n) AS ?total) (COUNT(?e) AS ?k) WHERE { "
        "?e rdf:type ?t . ?e ex:score ?n } "
        "GROUP BY ?t HAVING(?k > 1)",
    )
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("ex:Person", 9, 2)}


def test_count_distinct(tri):
    out = sparql_select(
        tri,
        "SELECT ?o (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s rdf:type ?o } GROUP BY ?o",
    )
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("ex:Person", 2), ("ex:Robot", 1)}


def test_select_var_not_in_group_by_raises(tri):
    with pytest.raises(ValueError, match="GROUP BY"):
        sparql_select(
            tri,
            "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
        )


def test_avg_supported_as_exact_sum_over_count(tri):
    # AVG = exact-BIGINT SUM / COUNT divided in DOUBLE (round-5: was
    # rejected; now supported with engine-deterministic bits)
    out = sparql_select(
        tri,
        "SELECT ?t (AVG(?n) AS ?a) WHERE { ?e rdf:type ?t . "
        "?e ex:score ?n } GROUP BY ?t",
    )
    assert _rows(out) == {("ex:Person", 4.5), ("ex:Robot", 11.0)}


def test_bind_and_string_functions(tri):
    out = sparql_select(
        tri,
        'SELECT ?x ?u WHERE { ?x rdfs:label ?l . '
        "BIND(UCASE(?l) AS ?u) FILTER(STRSTARTS(?l, \"a\") || CONTAINS(?l, \"ob\")) }",
    )
    assert _rows(out) == {("ex:a", "ALICE"), ("ex:b", "BOB")}


def test_bind_strlen_arithmetic(tri):
    out = sparql_select(
        tri,
        "SELECT ?l ?n WHERE { ?x rdfs:label ?l . BIND(STRLEN(?l) AS ?n) "
        "FILTER(?n > 4) }",
    )
    assert _rows(out) == {("alice", 5)}


def test_minus_is_anti_join(tri):
    # only ex:a has an outgoing knows edge in this fixture
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ?t . MINUS { ?x ex:knows ?y } }",
    )
    assert _rows(out) == {("ex:b",), ("ex:c",)}


def test_bind_duplicate_target_raises(tri):
    with pytest.raises(ValueError, match="already bound"):
        sparql_select(
            tri,
            "SELECT ?l WHERE { ?x rdfs:label ?l . BIND(UCASE(?l) AS ?l) }",
        )


def test_lang_filter_over_full_term_model(spark):
    """FILTER(LANG(?l)) rides the hidden o_lang column of a full-term
    input; hidden columns never leak into results."""
    from kgspark import rdfio

    rows = [
        ("ex:a", "rdfs:label", "alice", "literal", "en", ""),
        ("ex:a", "rdfs:label", "alicia", "literal", "es", ""),
        ("ex:b", "rdfs:label", "bob", "literal", "", ""),
        ("ex:b", "rdf:type", "ex:Person", "iri", "", ""),
    ]
    t = spark.createDataFrame(rows, rdfio.PARSED_DDL)
    out = sparql_select(
        t,
        'SELECT ?x ?l WHERE { ?x rdfs:label ?l . FILTER(LANG(?l) = "en") }',
    )
    assert out.columns == ["x", "l"]
    assert _rows(out) == {("ex:a", "alice")}
    # empty-string LANG for plain literals, per SPARQL
    out2 = sparql_select(
        t,
        'SELECT ?l WHERE { ?x rdfs:label ?l . FILTER(LANG(?l) = "") }',
    )
    assert _rows(out2) == {("bob",)}
    # no hidden columns even without an explicit SELECT
    out3 = sparql_select(t, "SELECT * WHERE { ?x rdfs:label ?l }")
    assert set(out3.columns) == {"x", "l"}


QUADS = [
    ("doc://1", "ex:a", "rdfs:label", "alice"),
    ("doc://1", "ex:a", "rdf:type", "ex:Person"),
    ("doc://2", "ex:b", "rdfs:label", "bob"),
    ("doc://2", "ex:a", "rdfs:label", "alice"),  # dup stmt, 2nd graph
]


@pytest.fixture()
def quadf(spark):
    return spark.createDataFrame(QUADS, "g string, s string, p string, o string")


def test_graph_clause_variable_and_constant(quadf):
    out = sparql_select(
        quadf, "SELECT ?g ?x WHERE { GRAPH ?g { ?x rdfs:label \"alice\" } }"
    )
    assert _rows(out) == {("doc://1", "ex:a"), ("doc://2", "ex:a")}
    out2 = sparql_select(
        quadf, "SELECT ?x WHERE { GRAPH doc://2 { ?x rdfs:label ?l } }"
    )
    assert _rows(out2) == {("ex:b",), ("ex:a",)}


def test_default_graph_is_rdf_merge(quadf):
    # the duplicate alice statement across graphs yields ONE solution
    out = sparql_select(quadf, "SELECT ?x ?l WHERE { ?x rdfs:label ?l }")
    got = [tuple(r) for r in out.collect()]
    assert sorted(got) == [("ex:a", "alice"), ("ex:b", "bob")]


def test_graph_joins_default_graph_pattern(quadf):
    out = sparql_select(
        quadf,
        "SELECT ?g ?x WHERE { ?x rdf:type ex:Person . "
        "GRAPH ?g { ?x rdfs:label ?l } }",
    )
    assert _rows(out) == {("doc://1", "ex:a"), ("doc://2", "ex:a")}


def test_filter_exists(tri):
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ?t . FILTER EXISTS { ?x ex:knows ?y } }",
    )
    assert _rows(out) == {("ex:a",)}


def test_describe_constant_and_variable(tri):
    from kgspark.sparql import sparql_describe

    out = sparql_describe(tri, "DESCRIBE ex:c")
    assert _rows(out) == {
        ("ex:c", "rdf:type", "ex:Robot"),
        ("ex:c", "rdfs:label", "carl"),
        ("ex:c", "ex:score", "11"),
    }
    out2 = sparql_describe(
        tri, "DESCRIBE ?x WHERE { ?x rdf:type ex:Robot }"
    )
    assert _rows(out2) == _rows(out)


def test_parser_fuzz_never_crashes():
    """Randomized junk queries must raise ValueError (or parse), never
    any other exception type — the store's user-facing error contract."""
    import random

    rng = random.Random(20260817)
    # pool includes NON-variable tokens that land in variable positions
    # (COUNT(5), DESC(ex:a), VALUES ex:a, BIND(... AS ex:y)...) — the
    # round-4 ADVICE crash shapes — plus the round-5 syntax surface
    # (paths, nested groups, subqueries, IRIs, AVG, HAVING)
    toks = ["SELECT", "WHERE", "{", "}", "(", ")", "?x", "?y", "FILTER",
            "OPTIONAL", "UNION", "VALUES", "BIND", "MINUS", "GRAPH", "AS",
            '"lit"', "rdf:type", "ex:a", ".", "*", "COUNT", "ORDER", "BY",
            "LIMIT", "5", "&&", "=", "+",
            "DESC", "ASC", "STR", "LANG", "REGEX", "xsd:integer", ",",
            "SUM", "AVG", "GROUP", "HAVING", "DISTINCT", "<ex:iri>",
            "ex:a+", "ex:a*", "^ex:a", "ex:a/ex:b", "(ex:a|^ex:a)",
            "?", "/", "|", "^", "EXISTS", "NOT", "ASK", "DESCRIBE",
            "CONSTRUCT", "OFFSET",
            # round-6 surface: projection/ORDER BY expressions
            "STRLEN", "IN", "TRUE", ">=", "-"]
    for _ in range(600):
        q = " ".join(rng.choice(toks) for _ in range(rng.randint(1, 14)))
        try:
            parse_sparql(q)
        except ValueError:
            pass  # the allowed failure mode
        except (KeyError, IndexError, AttributeError, TypeError) as e:
            raise AssertionError(f"parser crashed on {q!r}: {type(e).__name__}: {e}")


# ---- round-5: ADVICE regressions — ValueError at every variable
# position, REGEX escaping, MINUS spec semantics, GROUP BY w/o aggs ----

def test_non_variable_in_variable_positions_raises_value_error():
    bad = [
        'SELECT (COUNT(5) AS ?n) WHERE { ?s ?p ?o }',
        'SELECT (COUNT(?s) AS ex:n) WHERE { ?s ?p ?o }',
        'SELECT ?x WHERE { ?x ?p ?o . VALUES ex:a { "1" } }',
        'SELECT ?x WHERE { ?x ?p ?o . BIND(STRLEN(?x) AS ex:y) }',
        'SELECT ?x WHERE { ?x ?p ?o . FILTER(STR(ex:a) = "z") }',
        'SELECT ?x WHERE { ?x ?p ?o . FILTER(LANG(ex:a) = "en") }',
        'SELECT ?x WHERE { ?x ?p ?o . FILTER(xsd:integer(ex:a) > 1) }',
        'SELECT ?x WHERE { ?x ?p ?o . FILTER(REGEX(ex:a, "z")) }',
        'SELECT ?x WHERE { ?x ?p ?o } ORDER BY DESC(ex:a)',
        'SELECT ?9bad WHERE { ?9bad ?p ?o }',
    ]
    for q in bad:
        with pytest.raises(ValueError):
            parse_sparql(q)


def test_describe_non_variable_junk_raises():
    from kgspark.sparql import sparql_describe

    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { ?x ?p ?o } GROUP BY ex:a HAVING(?x)")


def test_regex_pattern_quote_escaped(tri):
    # a single quote inside the REGEX literal must not break (or
    # inject into) the generated Spark SQL filter string
    out = sparql_select(
        tri, "SELECT ?x WHERE { ?x rdfs:label ?l . FILTER(REGEX(?l, \"a'b\")) }"
    )
    assert _rows(out) == set()
    out2 = sparql_select(
        tri, "SELECT ?x WHERE { ?x rdfs:label ?l . FILTER(REGEX(?l, \"^ali\")) }"
    )
    assert _rows(out2) == {("ex:a",)}


def test_minus_disjoint_domain_is_noop(tri):
    # MINUS group sharing no variable removes NOTHING (spec 8.3) —
    # unlike FILTER NOT EXISTS which gates on the group matching
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ex:Robot . MINUS { ?z ex:knows ?w } }",
    )
    assert _rows(out) == {("ex:c",)}
    # constant-only MINUS group: also a no-op even though the triple exists
    out2 = sparql_select(
        tri,
        'SELECT ?x WHERE { ?x rdf:type ex:Robot . MINUS { ex:a ex:knows ex:b } }',
    )
    assert _rows(out2) == {("ex:c",)}
    # ... whereas NOT EXISTS with the same constant group empties
    out3 = sparql_select(
        tri,
        'SELECT ?x WHERE { ?x rdf:type ex:Robot . '
        'FILTER NOT EXISTS { ex:a ex:knows ex:b } }',
    )
    assert _rows(out3) == set()


def test_group_by_without_aggregates_is_grouped_projection(tri):
    out = sparql_select(tri, "SELECT ?p WHERE { ?s ?p ?o } GROUP BY ?p")
    assert _rows(out) == {
        ("rdf:type",), ("rdfs:label",), ("ex:score",), ("ex:knows",),
        ("ex:next",),
    }
    with pytest.raises(ValueError, match="GROUP BY"):
        sparql_select(tri, "SELECT ?s WHERE { ?s ?p ?o } GROUP BY ?p")


def test_having_without_group_by_raises(tri):
    with pytest.raises(ValueError, match="HAVING"):
        sparql_select(
            tri, 'SELECT ?s WHERE { ?s ?p ?o } HAVING(?s = "x")'
        )


# ---- round-5: property paths in the text front-end ----

def test_text_path_star_and_sequence(tri):
    out = sparql_select(tri, "SELECT ?y WHERE { n1 ex:next* ?y }")
    assert _rows(out) == {("n1",), ("n2",), ("n3",)}
    out2 = sparql_select(
        tri, "SELECT ?x ?y WHERE { ?x ex:knows/rdfs:label ?y }"
    )
    assert _rows(out2) == {("ex:a", "bob")}
    out3 = sparql_select(tri, "SELECT ?y WHERE { n1 ex:next+/ex:next? ?y }")
    assert _rows(out3) == {("n2",), ("n3",)}


def test_text_path_inverse_and_alternative(tri):
    out = sparql_select(tri, "SELECT ?x WHERE { ?x ^ex:knows ex:a }")
    assert _rows(out) == {("ex:b",)}
    out2 = sparql_select(
        tri, "SELECT ?x WHERE { ?x (ex:score|rdfs:label) \"7\" }"
    )
    assert _rows(out2) == {("ex:a",)}


def test_text_path_cotyped_via_sequence(tri):
    out = sparql_select(
        tri, "SELECT ?y WHERE { ex:a rdf:type/^rdf:type ?y }"
    )
    assert _rows(out) == {("ex:a",), ("ex:b",)}


# ---- round-5: nested groups and subqueries ----

def test_nested_union_inside_group(tri):
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { { ?x rdf:type ex:Person } UNION "
        "{ ?x rdf:type ex:Robot } . ?x ex:score ?n "
        "FILTER(xsd:integer(?n) > 5) }",
    )
    assert _rows(out) == {("ex:a",), ("ex:c",)}


def test_nested_group_plain_join(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?l WHERE { { ?x rdf:type ex:Person } "
        "{ ?x rdfs:label ?l } }",
    )
    assert _rows(out) == {("ex:a", "alice"), ("ex:b", "bob")}


def test_subquery_joined_on_shared_variable(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?n WHERE { ?x ex:score ?n "
        "{ SELECT ?x WHERE { ?x rdf:type ex:Person } } }",
    )
    assert _rows(out) == {("ex:a", "7"), ("ex:b", "2")}


def test_subquery_with_aggregate(tri):
    out = sparql_select(
        tri,
        "SELECT ?t ?cnt WHERE { ?x rdf:type ?t "
        "{ SELECT ?t (COUNT(*) AS ?cnt) WHERE { ?e rdf:type ?t } "
        "GROUP BY ?t } }",
    )
    assert _rows(out) == {
        ("ex:Person", 2), ("ex:Person", 2), ("ex:Robot", 1),
    } or _rows(out) == {("ex:Person", 2), ("ex:Robot", 1)}


def test_bracketed_iri_tokens(tri):
    from kgspark.sparql import sparql_describe

    out = sparql_select(tri, "SELECT ?l WHERE { <ex:a> <rdfs:label> ?l }")
    assert _rows(out) == {("alice",)}
    d = sparql_describe(tri, "DESCRIBE <ex:c>")
    assert ("ex:c", "rdf:type", "ex:Robot") in _rows(d)


def test_store_sparql_graph_clause_on_store_surface(spark, tmp_path):
    """Round-4 ADVICE: a GRAPH clause in the query must keep the quad
    frame's g column on the store surface instead of failing against
    the pre-merged default graph."""
    from kgspark import rdfio
    from kgspark.sparql import store_sparql

    rows = [
        ("doc://1", "ex:a", "rdfs:label", "alice", "literal", "", ""),
        ("doc://2", "ex:b", "rdfs:label", "bob", "literal", "", ""),
        ("doc://2", "ex:a", "rdfs:label", "alice", "literal", "", ""),
    ]
    quads = spark.createDataFrame(rows, "g string, " + rdfio.PARSED_DDL)
    path = str(tmp_path / "store")
    rdfio.write_nquads_store(quads, path)

    out = store_sparql(
        spark, path,
        'SELECT ?g ?x WHERE { GRAPH ?g { ?x rdfs:label "alice" } }',
    )
    assert _rows(out) == {("doc://1", "ex:a"), ("doc://2", "ex:a")}
    # constant-graph form, bracketed IRI
    out2 = store_sparql(
        spark, path,
        "SELECT ?x WHERE { GRAPH <doc://2> { ?x rdfs:label ?l } }",
    )
    assert _rows(out2) == {("ex:a",), ("ex:b",)}


def test_store_sparql_from_dataset(spark, tmp_path):
    """Round-6: FROM / FROM NAMED dataset clauses (SPARQL 1.1 §13.2)
    on the store surface — the default graph becomes the RDF merge of
    exactly the FROM graphs, and GRAPH patterns range over exactly the
    FROM NAMED set.  Each side is a partition-pruned read."""
    from kgspark import rdfio
    from kgspark.sparql import store_sparql

    rows = [
        ("doc://1", "ex:a", "ex:name", "alice", "literal", "", ""),
        ("doc://2", "ex:b", "ex:name", "bob", "literal", "", ""),
        # duplicate across the two FROM graphs → ONE merged solution
        ("doc://2", "ex:a", "ex:name", "alice", "literal", "", ""),
        ("doc://3", "ex:c", "ex:name", "carol", "literal", "", ""),
    ]
    quads = spark.createDataFrame(rows, "g string, " + rdfio.PARSED_DDL)
    path = str(tmp_path / "store")
    rdfio.write_nquads_store(quads, path)

    # FROM merge: default graph = doc://1 ∪ doc://2 only, set semantics
    out = store_sparql(
        spark, path,
        "SELECT ?s ?o FROM <doc://1> FROM <doc://2> "
        "WHERE { ?s ex:name ?o }",
    )
    assert _rows(out) == {("ex:a", "alice"), ("ex:b", "bob")}

    # FROM NAMED: GRAPH ranges over exactly the named set — the FROM
    # graphs are NOT visible to GRAPH patterns, nor vice versa
    out2 = store_sparql(
        spark, path,
        "SELECT ?g ?s FROM <doc://1> FROM NAMED <doc://3> "
        "WHERE { GRAPH ?g { ?s ex:name ?o } }",
    )
    assert _rows(out2) == {("doc://3", "ex:c")}

    # both surfaces in one query: UNION of a default-graph branch
    # (g unbound → NULL) and a GRAPH branch
    out3 = store_sparql(
        spark, path,
        "SELECT ?g ?s ?o FROM <doc://1> FROM NAMED <doc://3> WHERE {"
        " { ?s ex:name ?o } UNION { GRAPH ?g { ?s ex:name ?o } } }",
    )
    got = sorted(
        ((r["g"] or ""), r["s"], r["o"]) for r in out3.collect()
    )
    assert got == [
        ("", "ex:a", "alice"),
        ("doc://3", "ex:c", "carol"),
    ]

    # FROM NAMED only: the default graph is EMPTY (no FROM clause)
    out4 = store_sparql(
        spark, path,
        "SELECT ?s FROM NAMED <doc://1> WHERE { ?s ex:name ?o }",
    )
    assert out4.count() == 0

    # a graph= scope and dataset clauses are mutually exclusive
    with pytest.raises(ValueError, match="FROM"):
        store_sparql(
            spark, path,
            "SELECT ?s FROM <doc://1> WHERE { ?s ?p ?o }",
            graph="doc://1",
        )


# ---- round-5: extra FILTER functions + negated property sets ----

def test_bound_with_optional(tri):
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } FILTER(!BOUND(?y)) }",
    )
    assert _rows(out) == {("ex:b",)}
    out2 = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } FILTER(BOUND(?y)) }",
    )
    assert _rows(out2) == {("ex:a",)}


def test_coalesce_and_replace(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?v WHERE { ?x rdf:type ex:Person . "
        'OPTIONAL { ?x ex:knows ?y } BIND(COALESCE(?y, "none") AS ?v) }',
    )
    assert _rows(out) == {("ex:a", "ex:b"), ("ex:b", "none")}
    out2 = sparql_select(
        tri,
        "SELECT ?r WHERE { ?x rdfs:label ?l . "
        'BIND(REPLACE(?l, "a", "o") AS ?r) FILTER(?l = "carl") }',
    )
    assert _rows(out2) == {("corl",)}


def test_strbefore_strafter(tri):
    out = sparql_select(
        tri,
        "SELECT ?b ?a WHERE { ex:a rdfs:label ?l . "
        'BIND(STRBEFORE(?l, "li") AS ?b) BIND(STRAFTER(?l, "li") AS ?a) }',
    )
    assert _rows(out) == {("a", "ce")}
    # absent delimiter → "" on both (SPARQL), not the whole string
    out2 = sparql_select(
        tri,
        "SELECT ?b ?a WHERE { ex:a rdfs:label ?l . "
        'BIND(STRBEFORE(?l, "zz") AS ?b) BIND(STRAFTER(?l, "zz") AS ?a) }',
    )
    assert _rows(out2) == {("", "")}


def test_negated_property_set(tri):
    # everything about ex:a except its label
    out = sparql_select(tri, "SELECT ?o WHERE { ex:a !rdfs:label ?o }")
    assert _rows(out) == {("ex:Person",), ("7",), ("ex:b",)}
    # negated set with an inverse member: forward non-knows edges plus
    # inverse non-score edges reaching ex:b
    out2 = sparql_select(
        tri, "SELECT ?o WHERE { ex:b !(ex:score|^ex:knows) ?o }"
    )
    assert _rows(out2) == {("ex:Person",), ("bob",)}
    # closure over a negated set is rejected
    with pytest.raises(ValueError, match="negated"):
        sparql_select(tri, "SELECT ?o WHERE { ex:a !rdfs:label+ ?o }").collect()


# ---- round-5: FULL group bodies inside OPTIONAL / EXISTS / MINUS ----

def test_optional_body_with_filter(tri):
    # the FILTER belongs to the OPTIONAL group: non-matching rows stay
    # (with NULL), they are not removed from the outer solution
    out = sparql_select(
        tri,
        "SELECT ?x ?n WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:score ?n FILTER(xsd:integer(?n) > 5) } }",
    )
    assert _rows(out) == {("ex:a", "7"), ("ex:b", None)}


def test_not_exists_body_with_filter(tri):
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x rdf:type ?t . "
        "FILTER NOT EXISTS { ?x ex:score ?n FILTER(xsd:integer(?n) > 10) } }",
    )
    assert _rows(out) == {("ex:a",), ("ex:b",)}


def test_minus_body_with_filter(tri):
    out = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x ex:score ?n . "
        "MINUS { ?x rdfs:label ?l FILTER(STRSTARTS(?l, \"a\")) } }",
    )
    assert _rows(out) == {("ex:b",), ("ex:c",)}


def test_optional_body_with_nested_union(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?v WHERE { ?x ex:score ?n . "
        "OPTIONAL { { ?x ex:knows ?v } UNION { ?x ex:missing ?v } } }",
    )
    assert _rows(out) == {("ex:a", "ex:b"), ("ex:b", None), ("ex:c", None)}


def test_datatype_and_in_filters(spark):
    rows = [
        ("ex:a", "ex:score", "7", "literal", "", "xsd:integer"),
        ("ex:a", "rdfs:label", "alice", "literal", "en", ""),
        ("ex:b", "ex:score", "x", "literal", "", ""),
    ]
    full = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, o_lang string, "
        "o_datatype string",
    )
    out = sparql_select(
        full,
        'SELECT ?s WHERE { ?s ?p ?v . FILTER(DATATYPE(?v) = "xsd:integer") }',
    )
    assert _rows(out) == {("ex:a",)}
    assert set(out.columns) == {"s"}  # hidden __dt_/__lang_ never leak
    out2 = sparql_select(
        full,
        'SELECT ?s ?v WHERE { ?s ex:score ?v . FILTER(?v IN ("7", "9")) }',
    )
    assert _rows(out2) == {("ex:a", "7")}


def test_path_inside_constant_graph(quadf):
    # property path inside GRAPH <const>: evaluated over that one graph
    out = sparql_select(
        quadf,
        "SELECT ?x WHERE { GRAPH doc://1 { ?x rdf:type/^rdf:type ?x } }",
    )
    assert _rows(out) == {("ex:a",)}
    with pytest.raises(ValueError, match="CONSTANT graph"):
        sparql_select(
            quadf, "SELECT ?g ?x WHERE { GRAPH ?g { ?x rdf:type+ ?x } }"
        ).collect()


def test_construct_template_rejects_paths(tri):
    from kgspark.sparql import sparql_construct

    with pytest.raises(ValueError, match="template predicate"):
        sparql_construct(
            tri,
            "CONSTRUCT { ?x ex:knows+ ?y } WHERE { ?x ex:knows ?y }",
        )


def test_group_concat_and_sample(tri):
    out = sparql_select(
        tri,
        "SELECT ?t (GROUP_CONCAT(?l ; SEPARATOR \"|\") AS ?labels) "
        "(SAMPLE(?l) AS ?one) WHERE { ?e rdf:type ?t . ?e rdfs:label ?l } "
        "GROUP BY ?t",
    )
    assert _rows(out) == {
        ("ex:Person", "alice|bob", "alice"),
        ("ex:Robot", "carl", "carl"),
    }
    # default separator is a single space; DISTINCT collapses dups
    out2 = sparql_select(
        tri,
        "SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?ts) WHERE { ?e rdf:type ?t } "
        "GROUP BY ?e",
    )
    assert _rows(out2) == {("ex:Person",), ("ex:Robot",)}


def test_sparql_query_dispatch(tri):
    from kgspark.sparql import sparql_query

    assert _rows(sparql_query(tri, "SELECT ?x WHERE { ?x a ex:Robot }")) == {("ex:c",)}
    assert sparql_query(tri, "ASK { ex:a ex:knows ex:b }").collect()[0]["ask"]
    with pytest.raises(ValueError, match="verb"):
        sparql_query(tri, "DELETE WHERE { ?s ?p ?o }")


def test_text_vs_api_differential(tri):
    """Differential gate: random BGPs rendered as query TEXT must give
    exactly the rows of the equivalent direct bgp_match call — the
    parser→exec path can't drift from the API path."""
    import random

    rng = random.Random(20260817)
    nodes = ["ex:a", "ex:b", "ex:c", "n1", "n2"]
    preds = ["rdf:type", "rdfs:label", "ex:score", "ex:knows", "ex:next"]
    var_pool = ["?a", "?b", "?c"]
    for trial in range(10):
        k = rng.randint(1, 3)
        pats = []
        for _ in range(k):
            pats.append((
                rng.choice(var_pool + nodes),
                rng.choice(var_pool[:2] + preds),
                rng.choice(var_pool + nodes),
            ))
        if not any(t.startswith("?") for pat in pats for t in pat):
            continue
        text = "SELECT * WHERE { " + " . ".join(
            " ".join(f'"{t}"' if False else t for t in pat) for pat in pats
        ) + " }"
        try:
            got = sparql_select(tri, text, allow_product=True)
        except ValueError:
            continue
        want = bgp_match(tri, pats, allow_product=True)
        assert set(got.columns) == set(want.columns), (trial, text)
        cols = sorted(got.columns)
        g = {tuple(r[c] for c in cols) for r in got.collect()}
        w = {tuple(r[c] for c in cols) for r in want.collect()}
        assert g == w, (trial, text)


def test_construct_into_store_replaces_one_graph(spark, tmp_path):
    """CONSTRUCT → graph-replace PUT: the constructed graph lands as a
    named graph replace; other graphs untouched; re-running replaces."""
    from kgspark import rdfio
    from kgspark.sparql import construct_into_store, store_sparql

    rows = [
        ("doc://1", "ex:a", "rdfs:label", "alice", "literal", "", ""),
        ("doc://1", "ex:a", "rdf:type", "ex:Person", "iri", "", ""),
        ("doc://2", "ex:b", "rdfs:label", "bob", "literal", "", ""),
    ]
    quads = spark.createDataFrame(rows, "g string, " + rdfio.PARSED_DDL)
    path = str(tmp_path / "store")
    rdfio.write_nquads_store(quads, path)

    construct_into_store(
        spark, path,
        "CONSTRUCT { ?x rdf:type ex:Labeled } WHERE { ?x rdfs:label ?l }",
        graph="derived://labeled",
    )
    out = store_sparql(
        spark, path,
        "SELECT ?x WHERE { GRAPH <derived://labeled> { ?x rdf:type ex:Labeled } }",
    )
    assert {tuple(r) for r in out.collect()} == {("ex:a",), ("ex:b",)}
    # source graphs intact
    src = store_sparql(spark, path, "SELECT ?x ?l WHERE { ?x rdfs:label ?l }")
    assert {tuple(r) for r in src.collect()} == {
        ("ex:a", "alice"), ("ex:b", "bob")}
    # re-run replaces (not appends) the derived graph
    construct_into_store(
        spark, path,
        'CONSTRUCT { ?x rdf:type ex:Named } WHERE { ?x rdfs:label "bob" }',
        graph="derived://labeled",
    )
    out2 = store_sparql(
        spark, path,
        "SELECT ?x ?t WHERE { GRAPH <derived://labeled> { ?x rdf:type ?t } }",
    )
    assert {tuple(r) for r in out2.collect()} == {("ex:b", "ex:Named")}


def test_values_undef(tri):
    # each row constrains ONLY its defined variables (SPARQL 1.1 UNDEF)
    out = sparql_select(
        tri,
        "SELECT ?x ?l WHERE { ?x rdfs:label ?l . "
        'VALUES (?x ?l) { (ex:a UNDEF) (UNDEF "bob") } }',
    )
    assert _rows(out) == {("ex:a", "alice"), ("ex:b", "bob")}


def test_having_with_inline_aggregates(tri):
    # HAVING over an aggregate expression without aliasing it in SELECT
    out = sparql_select(
        tri,
        "SELECT ?t WHERE { ?e rdf:type ?t } GROUP BY ?t "
        "HAVING(COUNT(?e) >= 2)",
    )
    assert _rows(out) == {("ex:Person",)}
    assert set(out.columns) == {"t"}  # hidden __hav_ column dropped
    out2 = sparql_select(
        tri,
        "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e rdf:type ?t . "
        "?e ex:score ?s } GROUP BY ?t HAVING(SUM(?s) > 8)",
    )
    # Person scores 7+2=9 > 8; Robot 11 > 8 — both pass; tighten:
    assert _rows(out2) == {("ex:Person", 2), ("ex:Robot", 1)}
    out3 = sparql_select(
        tri,
        "SELECT ?t WHERE { ?e rdf:type ?t . ?e ex:score ?s } "
        "GROUP BY ?t HAVING(SUM(?s) > 10)",
    )
    assert _rows(out3) == {("ex:Robot",)}


def test_having_on_group_key_not_in_select(tri):
    # Round-6 ADVICE: HAVING may reference a GROUP BY key the SELECT
    # list drops — the filter must run BEFORE the projection.
    out = sparql_select(
        tri,
        "SELECT (SUM(?s) AS ?x) WHERE { ?e rdf:type ?t . ?e ex:score ?s } "
        'GROUP BY ?t HAVING(?t != "ex:Robot")',
    )
    assert out.columns == ["x"]
    assert _rows(out) == {(9,)}  # Person scores 7+2; Robot filtered out


def test_optional_dup_lang_columns(spark):
    # Round-6 ADVICE: OPTIONAL body binding the SAME object variable
    # from a full-term frame used to duplicate the hidden __lang_
    # column, making a later FILTER(LANG(?l)) ambiguous.
    from kgspark import rdfio

    rows = [
        ("ex:a", "rdfs:label", "alice", "literal", "en", ""),
        ("ex:a", "rdfs:label", "alicia", "literal", "es", ""),
        ("ex:z", "ex:alias", "alice", "literal", "en", ""),
    ]
    t = spark.createDataFrame(rows, rdfio.PARSED_DDL)
    out = sparql_select(
        t,
        "SELECT ?x ?l ?z WHERE { ?x rdfs:label ?l . "
        'OPTIONAL { ?z ex:alias ?l } FILTER(LANG(?l) = "en") }',
    )
    assert set(out.columns) == {"x", "l", "z"}
    assert _rows(out) == {("ex:a", "alice", "ex:z")}
    # same dup through the nested-subgroup join path
    out2 = sparql_select(
        t,
        "SELECT ?x ?l ?z WHERE { { ?x rdfs:label ?l } "
        '{ ?z ex:alias ?l } FILTER(LANG(?l) = "en") }',
    )
    assert _rows(out2) == {("ex:a", "alice", "ex:z")}


def test_exists_with_optional_unbound_shared_var(spark):
    # Round-6 ADVICE (medium): an OPTIONAL-unbound shared variable is
    # compatible-with-anything under EXISTS — the plain equi-join used
    # to silently drop such rows (NULL keys never match).
    rows = [
        ("ex:a", "rdf:type", "ex:Person"),
        ("ex:b", "rdf:type", "ex:Person"),
        ("ex:a", "ex:knows", "ex:b"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    out = sparql_select(
        t,
        "SELECT ?x ?y WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } "
        "FILTER EXISTS { ?y rdf:type ex:Person } }",
    )
    # (a, ex:b) matches outright; (b, NULL) has ?y unbound → compatible
    # with the non-empty EXISTS group → kept
    assert _rows(out) == {("ex:a", "ex:b"), ("ex:b", None)}
    # complement: NOT EXISTS keeps nothing
    out2 = sparql_select(
        t,
        "SELECT ?x ?y WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } "
        "FILTER NOT EXISTS { ?y rdf:type ex:Person } }",
    )
    assert _rows(out2) == set()


def test_minus_with_optional_unbound_shared_var(spark):
    # MINUS compatibility: unbound ?y is compatible; removal needs only
    # the dom-overlap on ?x (SPARQL 8.3).  The old equi-join on [x, y]
    # kept (b, NULL) because NULL never equals anything.
    rows = [
        ("ex:a", "rdf:type", "ex:Person"),
        ("ex:b", "rdf:type", "ex:Person"),
        ("ex:a", "ex:knows", "ex:b"),
        ("ex:b", "ex:mentor", "ex:a"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    out = sparql_select(
        t,
        "SELECT ?x ?y WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } "
        "MINUS { ?x ex:mentor ?y } }",
    )
    # (a, ex:b): MINUS row (b, a) disagrees on bound ?x → kept
    # (b, NULL): agrees on ?x with (b, a), ?y unbound-compatible,
    #            dom-overlap {x} → removed
    assert _rows(out) == {("ex:a", "ex:b")}


def test_minus_unbound_shared_only_var_keeps_row(spark):
    # When the ONLY shared variable is unbound there is no dom-overlap
    # → MINUS removes nothing (would be removed under EXISTS).
    rows = [
        ("ex:a", "rdf:type", "ex:Person"),
        ("ex:b", "rdf:type", "ex:Person"),
        ("ex:a", "ex:knows", "ex:b"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    out = sparql_select(
        t,
        "SELECT ?x ?y WHERE { ?x rdf:type ex:Person . "
        "OPTIONAL { ?x ex:knows ?y } "
        "MINUS { ?y rdf:type ex:Person } }",
    )
    # (a, ex:b) removed (ex:b is a Person, overlap {y}); (b, NULL) kept
    assert _rows(out) == {("ex:b", None)}


def test_null_compat_join_guard():
    from kgspark.sparql import _null_compat_join

    with pytest.raises(ValueError, match="maybe-unbound"):
        _null_compat_join(
            None, None, [f"v{i}" for i in range(7)],
            [f"v{i}" for i in range(4)], [f"v{i}" for i in range(4, 7)],
            "exists",
        )


def test_select_projection_expression(tri):
    # (expr AS ?v) without a separate BIND (round-6)
    out = sparql_select(
        tri,
        "SELECT ?x (xsd:integer(?n) * 2 AS ?dbl) WHERE { ?x ex:score ?n }",
    )
    assert set(out.columns) == {"x", "dbl"}
    assert _rows(out) == {("ex:a", 14), ("ex:b", 4), ("ex:c", 22)}
    # expression over an aggregate alias
    out2 = sparql_select(
        tri,
        "SELECT ?t (COUNT(?e) AS ?n) (?n * 10 AS ?n10) "
        "WHERE { ?e rdf:type ?t } GROUP BY ?t",
    )
    assert _rows(out2) == {("ex:Person", 2, 20), ("ex:Robot", 1, 10)}
    with pytest.raises(ValueError, match="already bound"):
        sparql_select(
            tri, "SELECT (STR(?x) AS ?x) WHERE { ?x ex:score ?n }"
        ).collect()


def test_order_by_expressions(tri):
    out = sparql_select(
        tri,
        "SELECT ?x ?n WHERE { ?x ex:score ?n } "
        "ORDER BY DESC(xsd:integer(?n)) LIMIT 2",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("ex:c", "11"), ("ex:a", "7")
    ]
    # bare bracketted expression key, ascending
    out2 = sparql_select(
        tri,
        "SELECT ?x WHERE { ?x ex:score ?n } ORDER BY (xsd:integer(?n))",
    )
    assert [r["x"] for r in out2.collect()] == ["ex:b", "ex:a", "ex:c"]
    # plain ?v keys unchanged
    out3 = sparql_select(
        tri, "SELECT ?l WHERE { ?x rdfs:label ?l } ORDER BY DESC(?l) LIMIT 1"
    )
    assert [r["l"] for r in out3.collect()] == ["carl"]


# ---------------------------------------------------------------- round-6b:
# expanded scalar builtins, term-inspection functions, CONSTRUCT WHERE


@pytest.fixture()
def trif(spark):
    # full-term frame: (s, p, o, o_kind, o_lang, o_datatype)
    rows = [
        ("ex:a", "ex:name", "Alice", "literal", "en", ""),
        ("ex:a", "ex:knows", "ex:b", "iri", "", ""),
        ("ex:b", "ex:name", "bob", "literal", "en-GB", ""),
        ("ex:c", "ex:name", "Carol", "literal", "fr", ""),
        ("ex:d", "ex:name", "dan", "literal", "", ""),
        ("_:x", "ex:name", "anon", "literal", "", ""),
    ]
    return spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, o_lang string,"
        " o_datatype string",
    )


def test_nested_builtins(tri):
    out = sparql_select(
        tri,
        'SELECT ?l (CONCAT(UCASE(SUBSTR(?l, 1, 1)), SUBSTR(?l, 2)) AS ?cap) '
        'WHERE { ?x rdfs:label ?l }',
    )
    assert _rows(out) == {
        ("alice", "Alice"), ("bob", "Bob"), ("carl", "Carl")
    }


def test_if_and_numeric_builtins(tri):
    out = sparql_select(
        tri,
        'SELECT ?x (IF(xsd:integer(?n) >= 7, "hi", "lo") AS ?band) '
        '(ABS(xsd:integer(?n) - 10) AS ?d) '
        '(FLOOR(xsd:integer(?n) / 2) AS ?h) '
        'WHERE { ?x ex:score ?n }',
    )
    assert _rows(out) == {
        ("ex:a", "hi", 3, 3), ("ex:b", "lo", 8, 1), ("ex:c", "hi", 1, 5)
    }


def test_hash_builtins(tri):
    import hashlib

    out = sparql_select(
        tri,
        'SELECT ?l (MD5(?l) AS ?m) (SHA256(?l) AS ?s) '
        'WHERE { ex:a rdfs:label ?l }',
    )
    [(l, m, s)] = out.collect()
    assert m == hashlib.md5(l.encode()).hexdigest()
    assert s == hashlib.sha256(l.encode()).hexdigest()


def test_isiri_isliteral_isblank(trif):
    out = sparql_select(
        trif, "SELECT ?o WHERE { ?s ex:knows ?o FILTER(isIRI(?o)) }"
    )
    assert _rows(out) == {("ex:b",)}
    out2 = sparql_select(
        trif,
        "SELECT ?s WHERE { ?s ex:name ?n FILTER(isLiteral(?n) && isBlank(?s)) }",
    )
    assert _rows(out2) == {("_:x",)}
    # isURI is an alias of isIRI
    out3 = sparql_select(
        trif, "SELECT ?s WHERE { ?s ?p ?o FILTER(isURI(?o)) }"
    )
    assert _rows(out3) == {("ex:a",)}


def test_langmatches(trif):
    # basic range: exact tag or tag- prefix, case-insensitive
    out = sparql_select(
        trif,
        'SELECT ?s WHERE { ?s ex:name ?n FILTER(LANGMATCHES(LANG(?n), "EN")) }',
    )
    assert _rows(out) == {("ex:a",), ("ex:b",)}
    # '*' matches any non-empty tag
    out2 = sparql_select(
        trif,
        'SELECT ?s WHERE { ?s ex:name ?n FILTER(LANGMATCHES(LANG(?n), "*")) }',
    )
    assert _rows(out2) == {("ex:a",), ("ex:b",), ("ex:c",)}
    with pytest.raises(ValueError, match="LANGMATCHES"):
        sparql_select(
            trif,
            'SELECT ?s WHERE { ?s ex:name ?n FILTER(LANGMATCHES(?n, "en")) }',
        )


def test_construct_where_shorthand(tri):
    from kgspark.sparql import sparql_construct

    out = sparql_construct(tri, "CONSTRUCT WHERE { ?x rdfs:label ?l }")
    assert set(out.columns) == {"s", "p", "o"}
    assert _rows(out) == {
        ("ex:a", "rdfs:label", "alice"),
        ("ex:b", "rdfs:label", "bob"),
        ("ex:c", "rdfs:label", "carl"),
    }
    # two-pattern shorthand instantiates both patterns per solution
    out2 = sparql_construct(
        tri, "CONSTRUCT WHERE { ?x rdfs:label ?l . ?x ex:score ?n }"
    )
    assert ("ex:a", "ex:score", "7") in _rows(out2)
    with pytest.raises(ValueError, match="paths"):
        sparql_construct(tri, "CONSTRUCT WHERE { ?x ex:next+ ?y }")


# round-6c: isNumeric / sameTerm / ENCODE_FOR_URI / term constructors


@pytest.fixture()
def trin(spark):
    # numeric-typed vs numeric-looking: only the xsd:integer object is
    # isNumeric; the plain "7" literal and the IRI are not
    rows = [
        ("ex:a", "ex:score", "7", "literal", "", "xsd:integer"),
        ("ex:b", "ex:score", "7", "literal", "", ""),
        ("ex:a", "ex:name", "Alice", "literal", "en", ""),
        ("ex:a", "ex:alias", "Alice", "literal", "fr", ""),
        ("ex:a", "ex:knows", "ex:b", "iri", "", ""),
    ]
    return spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, o_lang string,"
        " o_datatype string",
    )


def test_isnumeric(trin):
    out = sparql_select(
        trin, "SELECT ?s ?o WHERE { ?s ex:score ?o FILTER(isNumeric(?o)) }"
    )
    assert _rows(out) == {("ex:a", "7")}


def test_sameterm_distinguishes_lang_tags(trin):
    # "Alice"@en vs "Alice"@fr: equal lexical forms, different terms —
    # plain '=' matches, sameTerm does not
    eq = sparql_select(
        trin,
        "SELECT ?s WHERE { ?s ex:name ?n . ?s ex:alias ?a "
        "FILTER(?n = ?a) }",
    )
    assert _rows(eq) == {("ex:a",)}
    st = sparql_select(
        trin,
        "SELECT ?s WHERE { ?s ex:name ?n . ?s ex:alias ?a "
        "FILTER(SAMETERM(?n, ?a)) }",
    )
    assert _rows(st) == set()


def test_encode_for_uri(trin):
    out = sparql_select(
        trin,
        'SELECT ?enc WHERE { ex:a ex:name ?n . '
        'BIND(CONCAT(?n, " b/c") AS ?t) '
        'BIND(ENCODE_FOR_URI(?t) AS ?enc) }',
    )
    assert _rows(out) == {("Alice%20b%2Fc",)}


def test_term_ctor_strlang(trin):
    out = sparql_select(
        trin,
        'SELECT ?s ?lab WHERE { ?s ex:knows ?o . '
        'BIND(STRLANG("tagged", "x-t") AS ?lab) '
        'FILTER(LANGMATCHES(LANG(?lab), "x-t") && isLiteral(?lab)) }',
    )
    assert _rows(out) == {("ex:a", "tagged")}


def test_term_ctor_strdt_and_iri(trin):
    out = sparql_select(
        trin,
        "SELECT ?s ?v WHERE { ?s ex:score ?o . FILTER(isNumeric(?o)) "
        "BIND(STRDT(STR(?o), xsd:integer) AS ?v) "
        'FILTER(DATATYPE(?v) = "xsd:integer" && isNumeric(?v)) }',
    )
    assert _rows(out) == {("ex:a", "7")}
    out2 = sparql_select(
        trin,
        "SELECT ?mi WHERE { ?s ex:knows ?o . BIND(STR(?o) AS ?os) "
        "BIND(IRI(?os) AS ?mi) FILTER(isIRI(?mi)) }",
    )
    assert _rows(out2) == {("ex:b",)}


def test_term_ctor_rejects_complex_arg(trin):
    with pytest.raises(ValueError, match="STRLANG argument"):
        sparql_select(
            trin,
            'SELECT ?v WHERE { ?s ex:name ?n . '
            'BIND(STRLANG(CONCAT(?n, "x"), "en") AS ?v) }',
        )


def test_bracketed_iri_matches_compact_table(tri):
    """A full bracketed IRI in a pattern matches the compact prefixed
    form the triples table holds, in subject and object position."""
    assert _rows(sparql_select(
        tri, "SELECT ?o WHERE { <http://example.org/kg#a> ex:knows ?o }"
    )) == {("ex:b",)}
    assert _rows(sparql_select(
        tri, "SELECT ?s WHERE { ?s ex:knows <http://example.org/kg#b> }"
    )) == {("ex:a",)}
