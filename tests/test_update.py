"""SPARQL UPDATE (round-6): the four verbs against the partitioned
N-Quads store — parser, executor semantics, writer-lock serialization
through the UPDATE path, and a ValueError-only fuzz gate."""

from __future__ import annotations

import pytest

from kgspark import rdfio
from kgspark.sparql import DEFAULT_GRAPH, parse_update, store_update


def _state(spark, store):
    return {
        tuple(r)
        for r in rdfio.read_nquads_store(spark, store)
        .select("g", "s", "p", "o").collect()
    }


def test_insert_data_default_and_graph_forms(spark, tmp_path):
    store = str(tmp_path / "store")
    r = store_update(spark, store, '''
        INSERT DATA {
          ex:a rdfs:label "alice"@en .
          GRAPH ex:g1 { ex:a ex:knows ex:b . ex:b ex:knows ex:c }
        }''')
    assert r["ops"][0]["quads"] == 3
    assert _state(spark, store) == {
        (DEFAULT_GRAPH, "ex:a", "rdfs:label", "alice"),
        ("ex:g1", "ex:a", "ex:knows", "ex:b"),
        ("ex:g1", "ex:b", "ex:knows", "ex:c"),
    }
    # lang tag survives the store roundtrip
    row = (
        rdfio.read_nquads_store(spark, store, graph=DEFAULT_GRAPH)
        .select("o_kind", "o_lang").collect()[0]
    )
    assert (row["o_kind"], row["o_lang"]) == ("literal", "en")
    # set semantics: re-inserting an existing quad is a no-op
    store_update(spark, store, "INSERT DATA { GRAPH ex:g1 { ex:a ex:knows ex:b } }")
    assert rdfio.read_nquads_store(spark, store).count() == 3


def test_delete_data_and_graph_emptying(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b }
                      GRAPH ex:g2 { ex:c ex:p ex:d . ex:c ex:p ex:e } }''')
    store_update(spark, store, "DELETE DATA { GRAPH ex:g2 { ex:c ex:p ex:d } }")
    assert _state(spark, store) == {
        ("ex:g1", "ex:a", "ex:p", "ex:b"), ("ex:g2", "ex:c", "ex:p", "ex:e")
    }
    # deleting a graph's last quad removes its partition directory
    store_update(spark, store, "DELETE DATA { GRAPH ex:g2 { ex:c ex:p ex:e } }")
    assert sorted(rdfio.store_graph_dirs(store)) == ["ex:g1"]
    # deleting from a graph not in the store is a silent no-op
    r = store_update(spark, store, "DELETE DATA { GRAPH ex:nope { ex:x ex:y ex:z } }")
    assert r["ops"][0]["graphs"] == []


def test_delete_where_implicit_per_graph(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA {
          GRAPH ex:g1 { ex:a ex:knows ex:b . ex:a rdf:type ex:P }
          GRAPH ex:g2 { ex:x ex:knows ex:y }
        }''')
    r = store_update(spark, store, "DELETE WHERE { ?s ex:knows ?o }")
    assert r["ops"][0]["quads"] == 2
    assert sorted(r["ops"][0]["graphs"]) == ["ex:g1", "ex:g2"]
    # matching quads removed from BOTH graphs; ex:g2 emptied → gone
    assert _state(spark, store) == {("ex:g1", "ex:a", "rdf:type", "ex:P")}
    assert sorted(rdfio.store_graph_dirs(store)) == ["ex:g1"]


def test_delete_where_bare_patterns_stay_within_one_graph(spark, tmp_path):
    # the implicit ?__g is SHARED: a conjunction spanning two graphs is
    # not a match (per-document-graph store semantics, documented)
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA {
          GRAPH ex:g1 { ex:a ex:p ex:b }
          GRAPH ex:g2 { ex:b ex:q ex:c }
          GRAPH ex:g3 { ex:d ex:p ex:e . ex:e ex:q ex:f }
        }''')
    store_update(spark, store, "DELETE WHERE { ?x ex:p ?y . ?y ex:q ?z }")
    # g1+g2 chain spans graphs → no match; g3 chain is intra-graph → deleted
    assert _state(spark, store) == {
        ("ex:g1", "ex:a", "ex:p", "ex:b"), ("ex:g2", "ex:b", "ex:q", "ex:c")
    }


def test_delete_where_explicit_graph_scope(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b }
                      GRAPH ex:g2 { ex:a ex:p ex:b } }''')
    store_update(spark, store, "DELETE WHERE { GRAPH ex:g1 { ?s ex:p ?o } }")
    assert _state(spark, store) == {("ex:g2", "ex:a", "ex:p", "ex:b")}


def test_clear_variants(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { ex:d ex:p ex:e .
                      GRAPH ex:g1 { ex:a ex:p ex:b } }''')
    with pytest.raises(ValueError, match="not in store"):
        store_update(spark, store, "CLEAR GRAPH ex:missing")
    store_update(spark, store, "CLEAR SILENT GRAPH ex:missing")  # no raise
    store_update(spark, store, "CLEAR NAMED")
    assert sorted(rdfio.store_graph_dirs(store)) == [DEFAULT_GRAPH]
    store_update(spark, store, "CLEAR DEFAULT")
    assert rdfio.store_graph_dirs(store) == {}
    # DROP GRAPH is an alias on this store (no graph metadata apart
    # from content)
    store_update(spark, store, "INSERT DATA { GRAPH ex:g9 { ex:a ex:p ex:b } }")
    store_update(spark, store, "DROP GRAPH ex:g9")
    assert rdfio.store_graph_dirs(store) == {}


def test_chained_request_is_sequential(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b } } ;
        DELETE DATA { GRAPH ex:g1 { ex:a ex:p ex:b } } ;
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:c } }''')
    assert _state(spark, store) == {("ex:g1", "ex:a", "ex:p", "ex:c")}


def test_update_interleaved_writers_serialize(spark, tmp_path):
    """The round-4 interleaved-writer guarantee repeated through the
    UPDATE path: two writers each replace the same graphs' content via
    DELETE WHERE + INSERT DATA requests; the final store must be
    exactly one writer's payload per graph — never a torn mix."""
    import threading

    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH doc://1 { ex:seed ex:v "s1" }
                      GRAPH doc://2 { ex:seed ex:v "s2" } }''')
    errs: list[Exception] = []

    def writer(tag: str):
        try:
            for i in range(3):
                triples = " . ".join(
                    f'ex:{tag}{i}s{k} ex:v "{tag}{i}"' for k in range(3)
                )
                store_update(spark, store, f'''
                    DELETE WHERE {{ GRAPH doc://1 {{ ?s ex:v ?o }} }} ;
                    DELETE WHERE {{ GRAPH doc://2 {{ ?s ex:v ?o }} }} ;
                    INSERT DATA {{ GRAPH doc://1 {{ {triples} }}
                                   GRAPH doc://2 {{ {triples} }} }}''')
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    rows = rdfio.read_nquads_store(spark, store).select("g", "o").collect()
    by_graph: dict[str, set] = {}
    for r in rows:
        by_graph.setdefault(r["g"], set()).add(r["o"])
    assert set(by_graph) == {"doc://1", "doc://2"}
    for g, vals in by_graph.items():
        # one writer's one-round payload, complete: 1 distinct value,
        # exactly 3 statements landed for it
        assert len(vals) == 1, (g, vals)


def test_parse_update_specs():
    ops = parse_update(
        'INSERT DATA { ex:a ex:p "x" } ; DELETE WHERE { ?s ?p ?o } ; '
        "CLEAR ALL"
    )
    assert [o["op"] for o in ops] == ["insert_data", "delete_where", "clear"]
    assert ops[0]["quads"][0] == (None, "ex:a", "ex:p", "x", "literal", "", "")
    assert ops[1]["patterns"] == [("?__g", "?s", "?p", "?o")]
    assert ops[2]["scope"] == "all"
    # typed literal
    ops2 = parse_update('INSERT DATA { ex:a ex:p "5"^^xsd:integer }')
    assert ops2[0]["quads"][0][4:] == ("literal", "", "xsd:integer")
    # full-IRI input compacts to the prefixed form the store parses to
    ops3 = parse_update(
        "INSERT DATA { <http://example.org/kg#z> ex:p ex:q }"
    )
    assert ops3[0]["quads"][0][1] == "ex:z"


@pytest.mark.parametrize("bad", [
    "INSERT DATA { ?v ex:p ex:o }",            # variable in ground data
    "INSERT DATA { ex:a ex:p+ ex:o }",         # path in data block
    "INSERT DATA { GRAPH ?g { ex:a ex:p ex:o } }",  # variable graph
    "DELETE WHERE { ?s ex:p+ ?o }",            # path in delete-where
    "DELETE WHERE { FILTER(?x > 1) }",         # no filters in QuadPattern
    "DELETE { ex:a ex:p ex:o }",               # bare DELETE unsupported
    "CLEAR",                                   # missing target
    "MODIFY { }",                              # unknown verb
    "INSERT DATA { }",                         # empty data block
    "INSERT DATA { ex:a ex:p ex:o",            # unterminated block
])
def test_parse_update_rejects(bad):
    with pytest.raises(ValueError):
        parse_update(bad)


def test_parse_update_fuzz_valueerror_only():
    """Parser fuzz gate (mirrors the RDF parsers' gate): arbitrary
    token soup must either parse or raise ValueError — never any other
    exception type."""
    import random

    rng = random.Random(6)
    frag = ["INSERT", "DELETE", "DATA", "WHERE", "CLEAR", "GRAPH", "{", "}",
            ";", ".", "ex:a", "?v", '"lit"', "<http://x/y>", "a", "+",
            "SILENT", "ALL", "DEFAULT", "NAMED", "ex:p+", "@en", "^^xsd:int"]
    for _ in range(400):
        q = " ".join(rng.choice(frag) for _ in range(rng.randrange(1, 15)))
        try:
            parse_update(q)
        except ValueError:
            pass


def test_modify_rename_preserves_term_model(spark, tmp_path):
    # DELETE/INSERT WHERE: predicate rename keeps the moved value's
    # @lang through the store's object-term resolution
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 {
          ex:a rdfs:label "alpha"@en . ex:a ex:score "7" .
          ex:b rdfs:label "beta" } }''')
    r = store_update(spark, store, '''
        DELETE { GRAPH ex:g1 { ?s rdfs:label ?l } }
        INSERT { GRAPH ex:g1 { ?s ex:title ?l } }
        WHERE { ?s rdfs:label ?l }''')
    assert r["ops"][0] == {"op": "modify", "graphs": ["ex:g1"],
                           "deleted": 2, "inserted": 2}
    rows = {
        (q["s"], q["p"], q["o"], q["o_kind"], q["o_lang"])
        for q in rdfio.read_nquads_store(spark, store).collect()
    }
    assert rows == {
        ("ex:a", "ex:score", "7", "literal", ""),
        ("ex:a", "ex:title", "alpha", "literal", "en"),
        ("ex:b", "ex:title", "beta", "literal", ""),
    }


def test_modify_insert_only_and_computed_literal(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store,
                 'INSERT DATA { GRAPH ex:g1 { ex:a rdfs:label "x" } }')
    store_update(spark, store, '''
        INSERT { GRAPH ex:g2 { ?s ex:ucase ?u } }
        WHERE { ?s rdfs:label ?l . BIND(UCASE(?l) AS ?u) }''')
    rows = rdfio.read_nquads_store(spark, store, graph="ex:g2").collect()
    # BIND-computed value never seen as a store object → plain literal
    assert [(r["s"], r["o"], r["o_kind"]) for r in rows] == [
        ("ex:a", "X", "literal")
    ]


def test_modify_delete_only_and_variable_graph_template(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b . ex:a ex:tag ex:g9 } }''')
    # GRAPH ?g template: the target graph comes from a WHERE binding
    store_update(spark, store, '''
        INSERT { GRAPH ?g { ?s ex:routed "yes" } }
        WHERE { ?s ex:tag ?g }''')
    assert sorted(rdfio.store_graph_dirs(store)) == ["ex:g1", "ex:g9"]
    # delete-only modify form
    store_update(spark, store, '''
        DELETE { GRAPH ex:g1 { ?s ex:p ?o } } WHERE { ?s ex:p ?o }''')
    left = {(q["g"], q["p"]) for q in
            rdfio.read_nquads_store(spark, store).collect()}
    assert left == {("ex:g1", "ex:tag"), ("ex:g9", "ex:routed")}


def test_modify_rejections(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, "INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b } }")
    with pytest.raises(ValueError, match="not bound"):
        store_update(spark, store,
                     "INSERT { ex:a ex:p ?nope } WHERE { ?s ex:p ?o }")
    with pytest.raises(ValueError, match="USING NAMED"):
        store_update(spark, store, '''
            DELETE { ?s ex:p ?o } WHERE { GRAPH ex:g1 { ?s ex:p ?o } }''')
    with pytest.raises(ValueError, match="property path"):
        store_update(spark, store,
                     "DELETE { ?s ex:p+ ?o } WHERE { ?s ex:p ?o }")


def test_graph_management_add_move_copy(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:src { ex:a ex:p "1" . ex:b ex:p "2" }
                      GRAPH ex:dst { ex:c ex:p "3" } }''')
    # COPY replaces the target entirely
    store_update(spark, store, "COPY GRAPH ex:src TO GRAPH ex:dst")
    assert _state(spark, store) == {
        ("ex:src", "ex:a", "ex:p", "1"), ("ex:src", "ex:b", "ex:p", "2"),
        ("ex:dst", "ex:a", "ex:p", "1"), ("ex:dst", "ex:b", "ex:p", "2"),
    }
    # ADD unions into the target (source untouched); re-ADD idempotent
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:extra { ex:z ex:p "9" } } ;
        ADD GRAPH ex:extra TO GRAPH ex:dst ;
        ADD GRAPH ex:extra TO GRAPH ex:dst''')
    dst = {(q["s"], q["o"]) for q in
           rdfio.read_nquads_store(spark, store, graph="ex:dst").collect()}
    assert dst == {("ex:a", "1"), ("ex:b", "2"), ("ex:z", "9")}
    # MOVE renames (source gone)
    store_update(spark, store, "MOVE GRAPH ex:extra TO GRAPH ex:moved")
    assert "ex:extra" not in rdfio.store_graph_dirs(store)
    moved = {(q["s"], q["o"]) for q in
             rdfio.read_nquads_store(spark, store, graph="ex:moved").collect()}
    assert moved == {("ex:z", "9")}
    # missing source: error unless SILENT
    with pytest.raises(ValueError, match="not in store"):
        store_update(spark, store, "COPY GRAPH ex:nope TO GRAPH ex:dst")
    store_update(spark, store, "COPY SILENT GRAPH ex:nope TO GRAPH ex:dst")
    assert "ex:dst" not in rdfio.store_graph_dirs(store)  # emptied
    # DEFAULT is a graph ref too
    store_update(spark, store, '''
        INSERT DATA { ex:d ex:p "7" } ;
        COPY DEFAULT TO GRAPH ex:fromdft''')
    got = {(q["s"], q["o"]) for q in
           rdfio.read_nquads_store(spark, store, graph="ex:fromdft").collect()}
    assert got == {("ex:d", "7")}
    # self copy is a no-op
    store_update(spark, store, "COPY GRAPH ex:moved TO GRAPH ex:moved")
    assert moved == {(q["s"], q["o"]) for q in
                     rdfio.read_nquads_store(spark, store, graph="ex:moved").collect()}


def test_with_scoped_modify(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:p "1" }
                      GRAPH ex:g2 { ex:b ex:p "2" } }''')
    # WITH ex:g1: WHERE sees ONLY g1; bare templates target g1
    store_update(spark, store, '''
        WITH ex:g1 DELETE { ?s ex:p ?o } INSERT { ?s ex:q ?o }
        WHERE { ?s ex:p ?o }''')
    assert _state(spark, store) == {
        ("ex:g1", "ex:a", "ex:q", "1"),   # rewritten in g1
        ("ex:g2", "ex:b", "ex:p", "2"),   # g2 untouched (not matched)
    }
    # WITH over a graph not in the store: empty WHERE → no-op
    r = store_update(spark, store, '''
        WITH ex:nope DELETE { ?s ex:q ?o } WHERE { ?s ex:q ?o }''')
    assert r["ops"][0]["deleted"] == 0


def test_load_ntriples_and_turtle(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, "INSERT DATA { ex:seed ex:p ex:q }")
    nt = tmp_path / "in.nt"
    nt.write_text(
        '<http://example.org/kg#a> <http://example.org/kg#name> "alice"@en .\n'
        '<http://example.org/kg#a> <http://example.org/kg#knows> '
        '<http://example.org/kg#b> .\n'
    )
    r = store_update(spark, store, f"LOAD <file://{nt}>")
    assert r["ops"][0]["quads"] == 2
    st = _state(spark, store)
    assert (DEFAULT_GRAPH, "ex:a", "ex:name", "alice") in st
    assert (DEFAULT_GRAPH, "ex:seed", "ex:p", "ex:q") in st  # additive
    # INTO GRAPH routes a Turtle document into a named graph
    ttl = tmp_path / "in.ttl"
    ttl.write_text(
        "@prefix ex: <http://example.org/kg#> .\n"
        "ex:c ex:name \"carol\" ; ex:knows ex:a .\n"
    )
    store_update(spark, store, f"LOAD <{ttl}> INTO GRAPH ex:g9")
    st = _state(spark, store)
    assert ("ex:g9", "ex:c", "ex:name", "carol") in st
    assert ("ex:g9", "ex:c", "ex:knows", "ex:a") in st
    # LOAD is idempotent under set semantics
    n = rdfio.read_nquads_store(spark, store).count()
    store_update(spark, store, f"LOAD <{ttl}> INTO GRAPH ex:g9")
    assert rdfio.read_nquads_store(spark, store).count() == n


def test_load_nquads_keeps_graphs_unless_into(spark, tmp_path):
    store = str(tmp_path / "store")
    nq = tmp_path / "in.nq"
    nq.write_text(
        '<http://example.org/kg#a> <http://example.org/kg#p> '
        '<http://example.org/kg#b> <http://example.org/kg#gA> .\n'
        '<http://example.org/kg#c> <http://example.org/kg#p> "v" '
        '<http://example.org/kg#gB> .\n'
    )
    store_update(spark, store, f"LOAD <file://{nq}>")
    assert {g for g, *_ in _state(spark, store)} == {"ex:gA", "ex:gB"}
    # INTO GRAPH overrides the source's graphs
    store2 = str(tmp_path / "store2")
    store_update(spark, store2, f"LOAD <file://{nq}> INTO GRAPH ex:one")
    assert {g for g, *_ in _state(spark, store2)} == {"ex:one"}


def test_load_missing_and_silent(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, "INSERT DATA { ex:a ex:p ex:b }")
    with pytest.raises(ValueError, match="not found"):
        store_update(spark, store, "LOAD <file:///nope/missing.nt>")
    r = store_update(spark, store, "LOAD SILENT <file:///nope/missing.nt>")
    assert r["ops"][0]["quads"] == 0
    (tmp_path / "x.weird").write_text("")
    with pytest.raises(ValueError, match="extension"):
        store_update(spark, store, f"LOAD <{tmp_path / 'x.weird'}>")
    with pytest.raises(ValueError, match="bracketed"):
        parse_update("LOAD ex:not-a-file")


def test_modify_using_dataset(spark, tmp_path):
    """USING / USING NAMED (§3.1.3): the WHERE dataset becomes the
    explicit dataset — USING graphs merge into the default graph,
    USING NAMED graphs are the only ones GRAPH clauses see — while
    templates still target their own graphs."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 { ex:a ex:tag "one" }
                      GRAPH ex:g2 { ex:b ex:tag "two" }
                      GRAPH ex:g3 { ex:c ex:tag "three" } }''')
    # WHERE sees ONLY ex:g1 via USING: ex:b/ex:c do not match
    store_update(spark, store, '''
        INSERT { ex:hit ex:saw ?s } USING ex:g1 WHERE { ?s ex:tag ?o }
    ''')
    st = _state(spark, store)
    assert (DEFAULT_GRAPH, "ex:hit", "ex:saw", "ex:a") in st
    assert not any(q[3] in ("ex:b", "ex:c") for q in st if q[2] == "ex:saw")

    # USING NAMED: GRAPH ?g in the WHERE ranges over exactly that set,
    # and the bound graph variable can drive a variable-graph template
    store_update(spark, store, '''
        DELETE { GRAPH ?g { ?s ex:tag ?o } }
        USING NAMED ex:g2
        WHERE { GRAPH ?g { ?s ex:tag ?o } }
    ''')
    st2 = _state(spark, store)
    assert not any(q[0] == "ex:g2" for q in st2)          # g2 emptied
    assert any(q[0] == "ex:g3" for q in st2)              # g3 untouched
    assert any(q[0] == "ex:g1" for q in st2)              # g1 untouched


def test_modify_graph_clause_needs_using_named(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, "INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b } }")
    with pytest.raises(ValueError, match="USING NAMED"):
        store_update(spark, store, '''
            INSERT { ex:x ex:q ?g } WHERE { GRAPH ?g { ?s ex:p ?o } }
        ''')


def test_create_graph(spark, tmp_path):
    store = str(tmp_path / "store")
    store_update(spark, store, "INSERT DATA { GRAPH ex:g1 { ex:a ex:p ex:b } }")
    # creating a fresh graph is a metadata no-op
    r = store_update(spark, store, "CREATE GRAPH ex:new")
    assert r["ops"][0]["op"] == "create"
    # existing graph: spec error, suppressed by SILENT
    with pytest.raises(ValueError, match="already in store"):
        store_update(spark, store, "CREATE GRAPH ex:g1")
    store_update(spark, store, "CREATE SILENT GRAPH ex:g1")
    # store contents untouched throughout
    assert _state(spark, store) == {("ex:g1", "ex:a", "ex:p", "ex:b")}


def test_add_overlapping_content_keeps_set_semantics(spark, tmp_path):
    """r7 ADVICE fix: ADD of a source sharing quads with the target
    must not leave duplicate N-Quads lines — graph-scoped BAG reads
    (counts) would double-count.  Checked at the raw line level."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:src { ex:a ex:p "1" . ex:b ex:p "2" }
                      GRAPH ex:dst { ex:a ex:p "1" . ex:c ex:p "3" } } ;
        ADD GRAPH ex:src TO GRAPH ex:dst''')
    parsed = rdfio.read_nquads_store(spark, store, graph="ex:dst")
    rows = [tuple(r) for r in parsed.select("s", "o").collect()]
    # bag read: exactly one row per quad, no line-level duplicates
    assert sorted(rows) == [("ex:a", "1"), ("ex:b", "2"), ("ex:c", "3")]
    # re-ADD after the source graph is REWRITTEN (new part-file names —
    # the scenario that defeated the old deterministic-copy-name dedup)
    store_update(spark, store, '''
        DELETE DATA { GRAPH ex:src { ex:b ex:p "2" } } ;
        INSERT DATA { GRAPH ex:src { ex:b ex:p "2" } } ;
        ADD GRAPH ex:src TO GRAPH ex:dst''')
    rows = [tuple(r) for r in rdfio.read_nquads_store(
        spark, store, graph="ex:dst").select("s", "o").collect()]
    assert sorted(rows) == [("ex:a", "1"), ("ex:b", "2"), ("ex:c", "3")]


def test_numeric_graph_names_survive_read_and_update(spark, tmp_path):
    """Graph names that look like numbers keep their spelling: the
    store reads its partition column as a string, so ``0042`` is not
    inferred as the integer 42 (which a later update of the graph
    would then write back under the wrong name)."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH <0042> { ex:a ex:p "1" }
                      GRAPH <0007> { ex:b ex:p "2" } }''')
    assert _state(spark, store) == {
        ("0042", "ex:a", "ex:p", "1"), ("0007", "ex:b", "ex:p", "2"),
    }
    scoped = rdfio.read_nquads_store(spark, store, graph="0042")
    assert [r["g"] for r in scoped.collect()] == ["0042"]
    store_update(spark, store, 'INSERT DATA { GRAPH <0042> { ex:c ex:p "3" } }')
    assert _state(spark, store) == {
        ("0042", "ex:a", "ex:p", "1"), ("0042", "ex:c", "ex:p", "3"),
        ("0007", "ex:b", "ex:p", "2"),
    }
    assert sorted(rdfio.store_graph_dirs(store)) == ["0007", "0042"]


def _tasks(spark, group: str, fn) -> int:
    """Spark tasks of every stage of every job ``fn`` submits, counted
    under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(sid)
            n += info.numTasks if info is not None else 0
    return n


def test_graph_scoped_ops_cost_follows_touched_graphs(spark, tmp_path):
    """A graph-scoped read, INSERT DATA, DELETE DATA and a constant-graph
    DELETE WHERE list and scan only the graph they touch.  The store holds more graphs than
    Spark's 32-path parallel-discovery threshold, so listing the whole
    store would be a Spark job with a task per graph directory."""
    import os
    from urllib.parse import unquote, urlparse

    from kgspark.sparql import store_sparql

    store = str(tmp_path / "store")
    n_graphs = 41
    rdfio.write_nquads_store(spark.createDataFrame(
        [(f"ex:g{i}", f"ex:s{i}", "ex:p", f"v{i}", "literal", "", "")
         for i in range(n_graphs)],
        rdfio.QUADS_PARSED_DDL,
    ), store)
    assert len(rdfio.store_graph_dirs(store)) == n_graphs
    bound = 12

    scoped = rdfio.read_nquads_store(spark, store, graph="ex:g7")
    graph_dir = rdfio.store_graph_dirs(store)["ex:g7"]
    files = scoped.inputFiles()
    assert files and all(
        os.path.dirname(unquote(urlparse(f).path)) == graph_dir for f in files
    ), files

    rows: list = []
    read = _tasks(spark, "store-scoped-read", lambda: rows.extend(store_sparql(
        spark, store, "SELECT ?s ?o WHERE { ?s ex:p ?o }", graph="ex:g7",
    ).collect()))
    assert [(r["s"], r["o"]) for r in rows] == [("ex:s7", "v7")]
    insert = _tasks(spark, "store-insert-data", lambda: store_update(
        spark, store, 'INSERT DATA { GRAPH ex:g7 { ex:x ex:p "new" } }'))
    delete = _tasks(spark, "store-delete-data", lambda: store_update(
        spark, store, 'DELETE DATA { GRAPH ex:g7 { ex:s7 ex:p "v7" } }'))
    assert max(read, insert, delete) <= bound, (read, insert, delete)
    assert _state(spark, store) == {
        (f"ex:g{i}", f"ex:s{i}", "ex:p", f"v{i}")
        for i in range(n_graphs) if i != 7
    } | {("ex:g7", "ex:x", "ex:p", "new")}
    # a DELETE WHERE whose patterns all name a constant graph
    where = _tasks(spark, "store-delete-where", lambda: store_update(
        spark, store, "DELETE WHERE { GRAPH ex:g7 { ?s ex:p ?o } }"))
    assert where <= bound, where
    assert _state(spark, store) == {
        (f"ex:g{i}", f"ex:s{i}", "ex:p", f"v{i}")
        for i in range(n_graphs) if i != 7
    }


def _full_state(spark, store):
    return {tuple(r) for r in rdfio.read_nquads_store(spark, store).collect()}


def test_delete_data_matches_whole_rdf_terms(spark, tmp_path):
    """DELETE DATA removes only quads whose terms are equal: an IRI and
    a literal with the same text, or one literal in two languages, are
    different terms."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 {
          ex:a ex:p ex:b . ex:a ex:p "ex:b" .
          ex:a rdfs:label "chat"@en . ex:a rdfs:label "chat"@fr }
          GRAPH ex:g2 { ex:z ex:p ex:z } }''')
    store_update(spark, store, '''
        DELETE DATA { GRAPH ex:g1 {
          ex:a ex:p "ex:b" . ex:a rdfs:label "chat"@en } }''')
    assert _full_state(spark, store) == {
        ("ex:g1", "ex:a", "ex:p", "ex:b", "iri", "", ""),
        ("ex:g1", "ex:a", "rdfs:label", "chat", "literal", "fr", ""),
        ("ex:g2", "ex:z", "ex:p", "ex:z", "iri", "", ""),
    }


def test_data_literal_keeps_iri_text(spark, tmp_path):
    """A literal that spells a full IRI is stored as written: only IRIs
    are compacted to prefixed names, and DELETE DATA of the same literal
    finds it."""
    store = str(tmp_path / "store")
    lit = "http://example.org/kg#x"
    store_update(spark, store, f'INSERT DATA {{ GRAPH ex:g1 {{ ex:a ex:p "{lit}" }} }}')
    assert _full_state(spark, store) == {
        ("ex:g1", "ex:a", "ex:p", lit, "literal", "", ""),
    }
    store_update(spark, store, f'''
        INSERT DATA {{ GRAPH ex:g1 {{ ex:a ex:q "keep" }} }} ;
        DELETE DATA {{ GRAPH ex:g1 {{ ex:a ex:p "{lit}" }} }}''')
    assert _state(spark, store) == {("ex:g1", "ex:a", "ex:q", "keep")}


def test_delete_where_compacts_bracketed_iris(spark, tmp_path):
    """DELETE WHERE matches a full bracketed IRI against the compact
    form the store holds, in graph and subject position; a literal
    spelling an IRI is not compacted."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA {
          GRAPH <http://example.org/kg#g1> { <http://example.org/kg#a> ex:p "v" }
          GRAPH ex:g2 { ex:a ex:p "w" . ex:b ex:p "x" } }''')
    assert _state(spark, store) == {
        ("ex:g1", "ex:a", "ex:p", "v"), ("ex:g2", "ex:a", "ex:p", "w"),
        ("ex:g2", "ex:b", "ex:p", "x"),
    }
    r = store_update(spark, store,
                     "DELETE WHERE { GRAPH <http://example.org/kg#g1> { ?s ?p ?o } }")
    assert r["ops"][0]["quads"] == 1
    assert sorted(rdfio.store_graph_dirs(store)) == ["ex:g2"]
    r = store_update(spark, store,
                     "DELETE WHERE { GRAPH ?g { <http://example.org/kg#a> ?p ?o } }")
    assert r["ops"][0]["quads"] == 1
    assert _state(spark, store) == {("ex:g2", "ex:b", "ex:p", "x")}
    (op,) = parse_update(
        'DELETE WHERE { GRAPH ?g { ?s ?p "http://example.org/kg#a" } }')
    assert op["patterns"] == [("?g", "?s", "?p", "http://example.org/kg#a")]


def test_store_emptied_by_delete_reads_empty(spark, tmp_path):
    """When a DELETE empties the last graph, the store directory is left
    with no graph; a full read gives the empty quad frame, not a
    text-source schema error."""
    store = str(tmp_path / "store")
    store_update(spark, store, 'INSERT DATA { GRAPH ex:g1 { ex:a ex:p "v" } }')
    store_update(spark, store, 'DELETE DATA { GRAPH ex:g1 { ex:a ex:p "v" } }')
    assert rdfio.store_graph_dirs(store) == {}
    df = rdfio.read_nquads_store(spark, store)
    assert df.collect() == []
    assert df.columns == ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    r = store_update(spark, store, "DELETE WHERE { ?s ?p ?o }")
    assert r["ops"][0]["quads"] == 0


def test_delete_where_matches_object_term_kind(spark, tmp_path):
    """DELETE WHERE matches the object as an RDF term: a literal that
    spells an IRI is not that IRI, a language tag and a datatype are
    part of the literal, and ``quads`` counts the quads removed."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 {
          ex:a ex:p ex:b . ex:a ex:p "ex:b" .
          ex:a ex:q "chat"@en . ex:a ex:q "chat"@fr .
          ex:a ex:r "5"^^xsd:integer . ex:a ex:r "5" } }''')

    def kinds():
        return {
            (r["p"], r["o"], r["o_kind"], r["o_lang"], r["o_datatype"])
            for r in rdfio.read_nquads_store(spark, store).collect()
        }

    r = store_update(spark, store,
                     'DELETE WHERE { GRAPH ex:g1 { ex:a ex:p "ex:b" } }')
    assert r["ops"][0]["quads"] == 1
    assert {k for k in kinds() if k[0] == "ex:p"} == {
        ("ex:p", "ex:b", "iri", "", "")}
    r = store_update(spark, store,
                     'DELETE WHERE { GRAPH ex:g1 { ex:a ex:q "chat"@fr } }')
    assert r["ops"][0]["quads"] == 1
    r = store_update(spark, store,
                     'DELETE WHERE { GRAPH ex:g1 { ex:a ex:r "5" } }')
    assert r["ops"][0]["quads"] == 1
    assert kinds() == {
        ("ex:p", "ex:b", "iri", "", ""),
        ("ex:q", "chat", "literal", "en", ""),
        ("ex:r", "5", "literal", "", "xsd:integer"),
    }
    # a variable object deletes the matched quad with its own term kind
    r = store_update(spark, store,
                     "DELETE WHERE { GRAPH ex:g1 { ex:a ex:q ?o } }")
    assert r["ops"][0]["quads"] == 1
    r = store_update(spark, store,
                     "DELETE WHERE { GRAPH ex:g1 { ex:a ex:p ex:b } }")
    assert r["ops"][0]["quads"] == 1
    assert kinds() == {("ex:r", "5", "literal", "", "xsd:integer")}


def test_modify_deletes_constant_object_term(spark, tmp_path):
    """The modify form's constant template object matches as an RDF
    term (a literal that spells an IRI is not that IRI), and
    ``deleted`` counts the store quads removed, not the templates."""
    store = str(tmp_path / "store")
    store_update(spark, store, '''
        INSERT DATA { GRAPH ex:g1 {
          ex:a ex:p ex:b . ex:a ex:p "ex:b" . ex:c ex:q "ex:b" } }''')

    def terms():
        return {
            (r["s"], r["p"], r["o"], r["o_kind"])
            for r in rdfio.read_nquads_store(spark, store).collect()
        }

    r = store_update(spark, store, '''
        DELETE { GRAPH ex:g1 { ex:a ex:p "ex:b" } }
        WHERE { ex:a ex:p ?o }''')
    assert r["ops"][0]["deleted"] == 1
    assert terms() == {
        ("ex:a", "ex:p", "ex:b", "iri"),
        ("ex:c", "ex:q", "ex:b", "literal"),
    }
    # a template object the store does not hold removes nothing
    r = store_update(spark, store, '''
        DELETE { GRAPH ex:g1 { ex:a ex:p "nope" } }
        WHERE { ex:a ex:p ?o }''')
    assert r["ops"][0]["deleted"] == 0
    assert len(terms()) == 2
