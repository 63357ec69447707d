"""RDF round-trip gates (O9–O11 reference parity): serialize the
pipeline's triples to N-Triples / Turtle, parse them back with the
vectorized kernels, and require exact set equality."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from kgspark import rdfio
from kgspark.pipeline import run_pipeline


def _spo(df):
    return {(r["s"], r["p"], r["o"]) for r in df.select("s", "p", "o").collect()}


def test_ntriples_roundtrip(spark, sf_dir):
    triples = run_pipeline(spark, sf_dir).triples.localCheckpoint()
    lines = rdfio.to_ntriples(triples)
    back = rdfio.parse_ntriples(lines)
    assert _spo(back) == _spo(triples)
    # o_kind classification matches the predicate convention
    bad = back.filter(
        (F.col("p").isin(rdfio.LITERAL_PREDICATES) & (F.col("o_kind") != "literal"))
        | (~F.col("p").isin(rdfio.LITERAL_PREDICATES) & (F.col("o_kind") != "iri"))
    ).count()
    assert bad == 0


def test_turtle_roundtrip(spark, sf_dir):
    triples = run_pipeline(spark, sf_dir).triples.localCheckpoint()
    lines = rdfio.to_turtle(triples)
    back = rdfio.parse_turtle(lines)
    assert _spo(back) == _spo(triples)


def test_backslash_literals_roundtrip_lossless(spark):
    """Adversarial literals: a real backslash followed by 'n' must NOT
    parse back as a newline (single-pass unescape), for both
    serializations."""
    vals = [
        "back\\nslash",        # real backslash + 'n'
        "double\\\\n",         # two backslashes + 'n'
        "trailing\\",          # trailing backslash
        "real\nnewline",       # real newline (escaped by the writer)
        'quote"and\\"mix',     # quote after a backslash
        "\\",                  # lone backslash
        "tab\there",           # raw tab rides through unescaped
    ]
    triples = spark.createDataFrame(
        [(f"ex:s{i}", "rdfs:label", v) for i, v in enumerate(vals)],
        "s string, p string, o string",
    )
    want = _spo(triples)
    nt = rdfio.to_ntriples(triples).localCheckpoint()
    assert _spo(rdfio.parse_ntriples(nt)) == want
    assert _spo(rdfio.parse_turtle(rdfio.to_turtle(triples))) == want


def test_parser_handles_escapes_and_garbage(spark):
    rows = [
        ('<http://a/s> <http://purl.org/dc/terms/language> "li\\"ne\\\\x" .',),
        ("<http://a/s> <http://a/p> <http://a/o> .",),
        ("this is not a triple",),
        ("@prefix ex: <http://example.org/kg#> .",),
    ]
    lines = spark.createDataFrame(rows, "line string")
    got = rdfio.parse_ntriples(lines).collect()
    assert len(got) == 2
    lit = [r for r in got if r["o_kind"] == "literal"][0]
    assert lit["o"] == 'li"ne\\x'
    # turtle parser skips @prefix and garbage too
    tgot = rdfio.parse_turtle(lines).collect()
    assert len(tgot) == 2


def _full(df):
    cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    return {tuple(r) for r in df.select(*cols).collect()}


def test_rdfxml_roundtrip_full_term(spark, sf_dir):
    """O9: RDF/XML subset round-trip is lossless including @lang tags
    and datatypes."""
    t = run_pipeline(spark, sf_dir).triples_full.localCheckpoint()
    back = rdfio.parse_rdfxml(rdfio.to_rdfxml(t))
    assert _full(back) == _full(t)


def test_rdfxml_adversarial_literals(spark):
    """XML-special characters and newlines in literals survive the
    escape/unescape cycle."""
    vals = [
        ('ex:s1', 'rdfs:label', 'a<b&c>d"e', 'literal', 'en', ''),
        ('ex:s2', 'rdfs:label', 'line1\nline2', 'literal', '', ''),
        ('ex:s3', 'ex:score', '42', 'literal', '', 'xsd:integer'),
        ('ex:s4', 'ex:mentions', 'ex://src/a_b', 'iri', '', ''),
        ('ex:s5', 'rdfs:label', '&amp; already-escaped-looking', 'literal', '', ''),
    ]
    t = spark.createDataFrame(
        vals, "s string, p string, o string, o_kind string, o_lang string, o_datatype string"
    )
    back = rdfio.parse_rdfxml(rdfio.to_rdfxml(t))
    assert _full(back) == _full(t)


def _quad(df):
    cols = ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    return {tuple(r) for r in df.select(*cols).collect()}


def test_nquads_roundtrip_carries_graph(spark, sf_dir):
    """O11: N-Quads round-trip is lossless INCLUDING the named graph —
    a graph-scoped export/import preserves per-doc graph boundaries."""
    q = run_pipeline(spark, sf_dir).quads.localCheckpoint()
    back = rdfio.parse_nquads(rdfio.to_nquads(q))
    assert _quad(back) == _quad(q)
    # graphs really are plural (per-doc graphs + the proxy root)
    assert back.select("g").distinct().count() > 1


def test_trig_roundtrip_carries_graph(spark, sf_dir):
    q = run_pipeline(spark, sf_dir).quads.localCheckpoint()
    back = rdfio.parse_trig(rdfio.to_trig(q))
    assert _quad(back) == _quad(q)


def test_quad_adversarial_literals(spark):
    """@lang, ^^datatype, and escape-heavy literals survive the quad
    round-trip per graph in both formats."""
    vals = [
        ("ex:graph/1", "ex:s1", "rdfs:label", "back\\nslash", "literal", "en", ""),
        ("ex:graph/1", "ex:s2", "ex:score", "42", "literal", "", "xsd:integer"),
        ("ex:graph/2", "ex:s1", "rdfs:label", 'q"uote\nnl', "literal", "", ""),
        ("ex:graph/2", "ex:s3", "ex:mentions", "ex://src/a_b", "iri", "", ""),
        ("http://other.example/g", "ex:s4", "ex:mentions", "ex:s5", "iri", "", ""),
    ]
    q = spark.createDataFrame(
        vals,
        "g string, s string, p string, o string, o_kind string, "
        "o_lang string, o_datatype string",
    )
    assert _quad(rdfio.parse_nquads(rdfio.to_nquads(q))) == _quad(q)
    assert _quad(rdfio.parse_trig(rdfio.to_trig(q))) == _quad(q)


def test_nquads_store_partition_pruned_graph_fetch(spark, sf_dir, tmp_path):
    """O5/O6 at file level: the per-graph partitioned N-Quads store —
    a graph-scoped read prunes to that graph's partition (PartitionFilters
    in the scan), and the full round-trip is lossless."""
    store = str(tmp_path / "nq_store")
    q = run_pipeline(spark, sf_dir).quads.localCheckpoint()
    rdfio.write_nquads_store(q, store)

    back = rdfio.read_nquads_store(spark, store)
    assert _quad(back) == _quad(q)

    # graph-scoped fetch: partition pruning reaches the scan (the
    # predicate must ride BELOW the parse kernel — filters don't push
    # through MapInPandas, so read_nquads_store applies it to the raw
    # partition column)
    one_g = q.select("g").filter(F.col("g") != "ex://graph/root").first()["g"]
    scoped = rdfio.read_nquads_store(spark, store, graph=one_g)
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(g" in plan, plan[:2000]
    got = {t[1:] for t in _quad(scoped)}
    want = {t[1:] for t in _quad(q.filter(F.col("g") == one_g))}
    assert got == want and len(want) > 0

    # per-graph replace: overwriting one graph's partition leaves the
    # other graphs' files untouched (dynamic partition overwrite)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        edited = q.filter(F.col("g") == one_g).withColumn(
            "s", F.concat(F.col("s"), F.lit("#v2"))
        )
        rdfio.write_nquads_store(edited, store, mode="overwrite")
        after = rdfio.read_nquads_store(spark, store)
        # the edited graph changed...
        assert {t[1:] for t in _quad(after.filter(F.col("g") == one_g))} == {
            t[1:] for t in _quad(edited)
        }
        # ...and every other graph is byte-identical
        assert _quad(after.filter(F.col("g") != one_g)) == _quad(
            q.filter(F.col("g") != one_g)
        )
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_property_based_literal_roundtrips(spark):
    """Randomized sweep: literals over the escape-relevant alphabet
    (backslash, quotes, newlines, XML specials, multibyte unicode)
    must survive every writer→parser cycle losslessly.  Examples are
    pre-drawn with a fixed seed so the property runs as ONE Spark job
    per format over the whole batch, not per-example jobs."""
    import random

    rng = random.Random(20260817)
    chars = list("abc\\\"\n\t\r<>&'#{} .@^") + ["é", "∀", "𝄞"]
    examples = [
        "".join(rng.choice(chars) for _ in range(rng.randint(0, 12)))
        for _ in range(120)
    ]
    rows = [
        ("ex:s%d" % i, "rdfs:label", v, "literal",
         ("en" if i % 3 == 0 else ""), ("" if i % 3 == 0 else
                                        ("xsd:string" if i % 3 == 1 else "")))
        for i, v in enumerate(examples)
    ]
    from kgspark import rdfio

    t = spark.createDataFrame(rows, rdfio.PARSED_DDL)
    want = {tuple(r) for r in t.collect()}
    for to_fn, parse_fn in [
        (rdfio.to_ntriples, rdfio.parse_ntriples),
        (rdfio.to_turtle, rdfio.parse_turtle),
        (rdfio.to_rdfxml, rdfio.parse_rdfxml),
    ]:
        got = {tuple(r) for r in parse_fn(to_fn(t)).collect()}
        assert got == want, to_fn.__name__


def test_jsonld_roundtrip_full_term(spark, sf_dir):
    """The NDJSON JSON-LD profile round-trips the full term model
    (incl. @language / @type) losslessly."""
    from kgspark.pipeline import run_pipeline_cached

    t = run_pipeline_cached(spark, sf_dir).triples_full
    want = {tuple(r) for r in t.collect()}
    got = {tuple(r) for r in rdfio.parse_jsonld(rdfio.to_jsonld(t)).collect()}
    assert got == want


def test_jsonld_adversarial_literals(spark):
    rows = [
        ("ex:s1", "rdfs:label", 'quote " and \\ backslash', "literal", "", ""),
        ("ex:s2", "rdfs:label", "tab\there\nnewline\rcr", "literal", "en", ""),
        ("ex:s3", "ex:score", "42", "literal", "", "xsd:integer"),
        ("ex:s4", "ex:knows", "ex:s1", "iri", "", ""),
        ("ex:s5", "rdfs:label", '{"@id": "fake json"}', "literal", "", ""),
    ]
    t = spark.createDataFrame(rows, rdfio.PARSED_DDL)
    got = {tuple(r) for r in rdfio.parse_jsonld(rdfio.to_jsonld(t)).collect()}
    assert got == {tuple(r) for r in rows}


def test_replace_graphs_subset_and_concurrent_writers(spark, tmp_path):
    """Round-5 (verdict #4): graph-replace through the store must (a)
    replace ONLY the graphs present in the write, and (b) serialize
    concurrent overlapping writers (writerd semantics) — after
    interleaved replaces a reader sees exactly one writer's payload per
    graph, never a torn mix."""
    import threading

    from kgspark import rdfio

    path = str(tmp_path / "store")

    def quads(rows):
        return spark.createDataFrame(
            [(g, s, "rdfs:label", o, "literal", "", "") for g, s, o in rows],
            "g string, " + rdfio.PARSED_DDL,
        )

    # seed: three graphs
    rdfio.write_nquads_store(
        quads([("doc://1", "ex:a", "seed1"), ("doc://2", "ex:b", "seed2"),
               ("doc://3", "ex:c", "keep3")]),
        path,
    )
    # subset replace: doc://1 only — doc://2 and doc://3 untouched
    rdfio.replace_graphs(quads([("doc://1", "ex:a", "v2")]), path)
    got = {
        (r["g"], r["o"])
        for r in rdfio.read_nquads_store(spark, path).collect()
    }
    assert got == {("doc://1", "v2"), ("doc://2", "seed2"),
                   ("doc://3", "keep3")}

    # concurrent overlapping replaces: writer A and B both rewrite
    # doc://1 and doc://2 with 3-statement payloads, several rounds
    errs: list[Exception] = []

    def writer(tag: str):
        try:
            for i in range(4):
                payload = quads([
                    ("doc://1", f"ex:{tag}{i}s{k}", f"{tag}{i}")
                    for k in range(3)
                ] + [
                    ("doc://2", f"ex:{tag}{i}s{k}", f"{tag}{i}")
                    for k in range(3)
                ])
                rdfio.replace_graphs(payload, path)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ta = threading.Thread(target=writer, args=("A",))
    tb = threading.Thread(target=writer, args=("B",))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs

    final = rdfio.read_nquads_store(spark, path).collect()
    by_graph: dict[str, set[str]] = {}
    for r in final:
        by_graph.setdefault(r["g"], set()).add(r["o"])
    # untouched graph survives every replace
    assert by_graph["doc://3"] == {"keep3"}
    # each rewritten graph holds EXACTLY one writer-round's payload:
    # 3 statements, all carrying the same tag — no torn mix
    for g in ("doc://1", "doc://2"):
        vals = by_graph[g]
        assert len(vals) == 1, (g, vals)
        assert next(iter(vals)) in {f"{t}{i}" for t in "AB" for i in range(4)}
    # the lock file never leaks into the parsed output
    assert all(r["s"] for r in final)


def test_store_write_lock_times_out(tmp_path):
    from kgspark.rdfio import _StoreWriteLock

    path = str(tmp_path / "store")
    with _StoreWriteLock(path):
        import pytest as _pytest

        with _pytest.raises(TimeoutError):
            with _StoreWriteLock(path, timeout=0.2):
                pass


def test_turtle_document_parser_real_world(spark):
    """Round-5 (verdict #5): @prefix/@base, multiline statements,
    ';'/',' lists, comments, typed/lang literals, numeric and boolean
    shorthand — the document-level grammar the line kernel lacks."""
    from kgspark import rdfio

    doc = """
    @prefix ex: <http://example.org/kg#> .
    @prefix dc: <http://purl.org/dc/terms/> .
    @base <http://example.org/kg#> .

    # a real-world-shaped document
    ex:a a ex:Person ;
         <http://www.w3.org/2000/01/rdf-schema#label> "alice"@en ,
                                                      "alicia"@es ;
         dc:language "en" ;
         ex:score 7 ;
         ex:knows <rel-b> .
    <http://example.org/kg#b>
        ex:note "multi\\nline \\"quoted\\""^^ex:Note ;
        ex:active true .
    """
    docs = spark.createDataFrame([(doc,)], "text string")
    got = {
        tuple(r)
        for r in rdfio.parse_turtle_docs(docs).collect()
    }
    assert got == {
        ("ex:a", "rdf:type", "ex:Person", "iri", "", ""),
        ("ex:a", "rdfs:label", "alice", "literal", "en", ""),
        ("ex:a", "rdfs:label", "alicia", "literal", "es", ""),
        ("ex:a", "dc:language", "en", "literal", "", ""),
        ("ex:a", "ex:score", "7", "literal", "", "xsd:integer"),
        ("ex:a", "ex:knows", "ex:rel-b", "iri", "", ""),
        ("ex:b", "ex:note", 'multi\nline "quoted"', "literal", "", "ex:Note"),
        ("ex:b", "ex:active", "true", "literal", "", "xsd:boolean"),
    }


def test_turtle_document_roundtrip_via_writer(spark, sf_dir):
    """to_turtle output + an explicit @prefix header parses back to the
    exact source statement set through the DOCUMENT parser."""
    from kgspark import pipeline, rdfio

    t = pipeline.run_pipeline_cached(spark, sf_dir).triples.limit(200)
    lines = [r["line"] for r in rdfio.to_turtle(t).collect()]
    header = "".join(
        f"@prefix {p} <{full}> .\n" for p, full in rdfio.PREFIXES.items()
    )
    doc = header + "\n".join(lines)
    docs = spark.createDataFrame([(doc,)], "text string")
    got = {
        (r["s"], r["p"], r["o"])
        for r in rdfio.parse_turtle_docs(docs).collect()
    }
    want = {tuple(r) for r in t.select("s", "p", "o").collect()}
    assert got == want


def test_turtle_document_fuzz_value_error_only():
    """Junk documents raise ValueError (or parse) — never any other
    exception type (mirrors the SPARQL fuzz gate)."""
    import random

    from kgspark.rdfio import _turtle_doc_triples

    rng = random.Random(20260817)
    frags = ["@prefix", "@base", "ex:", "ex:a", "<http://x/y>", "<rel>",
             '"lit"', '"l\\"it"', "@en", "^^", "xsd:int", "a", ";", ",",
             ".", "42", "3.14", "true", "_:b1", "#c", "(", ")", "[", "]",
             "PREFIX", "<", ">", '"open', "\\", "|"]
    for _ in range(500):
        doc = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 12)))
        try:
            _turtle_doc_triples(doc)
        except ValueError:
            pass
        except Exception as e:  # pragma: no cover
            raise AssertionError(
                f"turtle parser crashed on {doc!r}: {type(e).__name__}: {e}"
            )


def test_turtle_docs_kernel_quarantines_malformed(spark):
    from kgspark import rdfio

    docs = spark.createDataFrame(
        [("ex:a ex:knows ex:b .",),      # valid (fixed-prefix compact)
         ("totally not turtle <<<",),    # dropped
         ("@prefix q: <http://q/> . q:x q:y q:z .",)],
        "text string",
    )
    got = {tuple(r) for r in rdfio.parse_turtle_docs(docs).collect()}
    assert got == {
        ("ex:a", "ex:knows", "ex:b", "iri", "", ""),
        ("http://q/x", "http://q/y", "http://q/z", "iri", "", ""),
    }


def test_jsonld_expanded_documents(spark):
    """Round-5 (verdict #5): the expanded-document profile — arrays of
    node objects, value objects, @type lists, typed scalars, nested
    node objects minting blank ids."""
    from kgspark import rdfio

    doc = """
    [
      {"@id": "http://example.org/kg#a",
       "@type": ["http://example.org/kg#Person"],
       "http://www.w3.org/2000/01/rdf-schema#label":
           [{"@value": "alice", "@language": "en"}],
       "http://example.org/kg#score": [{"@value": 7}],
       "http://example.org/kg#knows": [{"@id": "http://example.org/kg#b"}],
       "http://example.org/kg#address":
           [{"http://example.org/kg#city": [{"@value": "york"}]}]}
    ]
    """
    docs = spark.createDataFrame([(doc,)], "text string")
    got = {tuple(r) for r in rdfio.parse_jsonld_expanded(docs).collect()}
    assert got == {
        ("ex:a", "rdf:type", "ex:Person", "iri", "", ""),
        ("ex:a", "rdfs:label", "alice", "literal", "en", ""),
        ("ex:a", "ex:score", "7", "literal", "", "xsd:integer"),
        ("ex:a", "ex:knows", "ex:b", "iri", "", ""),
        ("ex:a", "ex:address", "_:b1", "iri", "", ""),
        ("_:b1", "ex:city", "york", "literal", "", ""),
    }
    # malformed documents quarantine, valid NDJSON-expanded mix still parses
    bad = spark.createDataFrame(
        [("{not json",), ('[{"@id": "ex:x", "ex:p": [{"@value": "v"}]}]',)],
        "text string",
    )
    got2 = {tuple(r) for r in rdfio.parse_jsonld_expanded(bad).collect()}
    assert got2 == {("ex:x", "ex:p", "v", "literal", "", "")}


def test_ttl_term_rejects_leading_dash_local(spark):
    # PN_LOCAL may not begin with '-' (round-6 ADVICE): ex:-x is
    # illegal Turtle and must serialize bracketed, not as a bare
    # prefixed name external parsers reject.
    t = spark.createDataFrame(
        [("ex:-x", "rdf:type", "ex:Thing"), ("ex:x-y", "rdf:type", "ex:Thing")],
        "s string, p string, o string",
    )
    lines = [r["line"] for r in rdfio.to_turtle(t).collect()]
    dash = next(l for l in lines if "-x" in l and "x-y" not in l)
    ok = next(l for l in lines if "x-y" in l)
    assert dash.startswith("<http://example.org/kg#-x>")
    assert ok.startswith("ex:x-y ")  # interior dash stays prefixed
    # roundtrip still exact through the in-repo parser
    back = rdfio.parse_turtle(rdfio.to_turtle(t))
    assert {(r["s"], r["p"], r["o"]) for r in back.collect()} == {
        ("ex:-x", "rdf:type", "ex:Thing"), ("ex:x-y", "rdf:type", "ex:Thing")
    }


def test_store_write_lock_breaks_stale_holder(tmp_path):
    # Round-6 ADVICE: a lockfile left by a SIGKILLed writer (dead pid)
    # must be broken automatically instead of spinning to TimeoutError.
    import subprocess

    from kgspark.rdfio import _StoreWriteLock

    store = str(tmp_path / "store")
    os.makedirs(store, exist_ok=True)
    proc = subprocess.Popen(["true"])
    proc.wait()
    lockfile = os.path.join(store, "_store.lock")
    with open(lockfile, "w") as f:
        f.write(str(proc.pid))  # a pid that is verifiably dead
    t0 = time.monotonic()
    with _StoreWriteLock(store, timeout=10.0):
        pass  # acquired by breaking the stale lock
    assert time.monotonic() - t0 < 5.0
    assert not os.path.exists(lockfile)


def test_store_write_lock_respects_live_holder(tmp_path):
    from kgspark.rdfio import _StoreWriteLock

    store = str(tmp_path / "store")
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, "_store.lock"), "w") as f:
        f.write(str(os.getpid()))  # live pid — NOT stale
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        with _StoreWriteLock(store, timeout=0.3):
            pass


def test_jsonld_compacted_context_features():
    """@context machinery (round 6): prefix maps, term definitions with
    @type: @id coercion / datatype coercion / @language, @vocab for
    bare terms, @base for relative @id, term aliasing, @graph."""
    from kgspark.rdfio import _jsonld_compacted_triples

    doc = """
    {"@context": {
        "ex": "http://example.org/kg#",
        "name": {"@id": "http://www.w3.org/2000/01/rdf-schema#label",
                 "@language": "en"},
        "knows": {"@id": "ex:knows", "@type": "@id"},
        "age": {"@id": "ex:age",
                "@type": "http://www.w3.org/2001/XMLSchema#integer"},
        "@vocab": "http://example.org/kg#",
        "@base": "http://example.org/base/"},
     "@graph": [
       {"@id": "ex:a", "@type": "Person", "name": "Alice",
        "knows": "other", "age": "42", "score": 7},
       {"@id": "ex:b", "name": {"@value": "bob", "@language": "fr"}}
     ]}
    """
    got = set(_jsonld_compacted_triples(doc))
    assert got == {
        # @vocab expands the bare @type term; ex: prefix round-trips
        ("ex:a", "rdf:type", "ex:Person", "iri", "", ""),
        # term alias + @language coercion on a plain string
        ("ex:a", "rdfs:label", "Alice", "literal", "en", ""),
        # @type: @id coercion resolves the plain string against @base
        ("ex:a", "ex:knows", "http://example.org/base/other", "iri", "", ""),
        # datatype coercion (full-IRI datatype compacts to xsd:)
        ("ex:a", "ex:age", "42", "literal", "", "xsd:integer"),
        # bare term property through @vocab; native JSON int
        ("ex:a", "ex:score", "7", "literal", "", "xsd:integer"),
        # explicit value object overrides the term default
        ("ex:b", "rdfs:label", "bob", "literal", "fr", ""),
    }


def test_jsonld_compacted_rejects_unsupported():
    from kgspark.rdfio import _jsonld_compacted_triples

    for bad in [
        '{"@context": "http://remote.example/ctx"}',   # remote context
        '{"@context": {"@import": "x"}}',              # keyword in context
        '{"@context": {"t": {"@container": "@index"}}}',  # index container
        '{"@context": {}, "@reverse": {}}',            # @reverse node key
        '{"@graph": "notalist"}',
        "[1, 2]",
        "{not json",
    ]:
        with pytest.raises(ValueError):
            _jsonld_compacted_triples(bad)


def test_jsonld_compacted_fuzz_valueerror_only():
    """Fuzz gate: arbitrary JSON-ish soup either parses or raises
    ValueError — never any other exception type (the kernel's
    quarantine contract)."""
    import random

    from kgspark.rdfio import _jsonld_compacted_triples

    rng = random.Random(66)
    frag = ['{', '}', '[', ']', '"@context"', '"@id"', '"@graph"', '"ex"',
            '"http://x#"', ':', ',', '"@type"', '"@value"', '"v"', '5',
            'true', 'null', '"@vocab"', '"a:b"']
    for _ in range(500):
        s = " ".join(rng.choice(frag) for _ in range(rng.randrange(1, 12)))
        try:
            _jsonld_compacted_triples(s)
        except ValueError:
            pass


def test_jsonld_compacted_kernel_quarantines(spark):
    """A batch mixing a good document and junk yields only the good
    document's triples — malformed docs drop, no crash."""
    from kgspark import rdfio

    good = '{"@context": {"ex": "http://example.org/kg#"}, "@id": "ex:a", "ex:p": {"@id": "ex:b"}}'
    docs = spark.createDataFrame(
        [(good,), ('{"@context": "http://remote/ctx"}',), ("junk{",)],
        "text string",
    )
    rows = rdfio.parse_jsonld_compacted(docs).collect()
    assert {(r["s"], r["p"], r["o"]) for r in rows} == {("ex:a", "ex:p", "ex:b")}


def test_turtle_bnode_property_lists_and_collections():
    """Round-6 grammar extension: [ p o ; ... ] anon nodes (subject and
    object, nested), ( ... ) collections as rdf:first/rest chains,
    ( ) == rdf:nil, deterministic _:anon_N minting in parse order."""
    from kgspark.rdfio import _turtle_doc_triples as T

    hdr = "@prefix ex: <http://example.org/kg#> .\n"
    out = T(hdr + 'ex:s ex:meta [ ex:a "x" ; ex:b 3 , true ] .')
    assert ("ex:s", "ex:meta", "_:anon_1", "iri", "", "") in out
    assert ("_:anon_1", "ex:a", "x", "literal", "", "") in out
    assert ("_:anon_1", "ex:b", "3", "literal", "", "xsd:integer") in out
    assert ("_:anon_1", "ex:b", "true", "literal", "", "xsd:boolean") in out

    out = T(hdr + "[ ex:p [ ex:q ex:o ] ] .")
    assert ("_:anon_1", "ex:p", "_:anon_2", "iri", "", "") in out
    assert ("_:anon_2", "ex:q", "ex:o", "iri", "", "") in out

    out = T(hdr + 'ex:s ex:vals ( 1 "two"@en ex:three ) ; ex:none ( ) .')
    assert ("ex:s", "ex:vals", "_:anon_1", "iri", "", "") in out
    assert ("_:anon_1", "rdf:first", "1", "literal", "", "xsd:integer") in out
    assert ("_:anon_1", "rdf:rest", "_:anon_2", "iri", "", "") in out
    assert ("_:anon_2", "rdf:first", "two", "literal", "en", "") in out
    assert ("_:anon_3", "rdf:rest", "rdf:nil", "iri", "", "") in out
    assert ("ex:s", "ex:none", "rdf:nil", "iri", "", "") in out

    # collection as subject
    out = T(hdr + "( 1 2 ) ex:len 2 .")
    assert ("_:anon_1", "ex:len", "2", "literal", "", "xsd:integer") in out


def test_turtle_bnode_malformed_value_error():
    import pytest as _pytest

    from kgspark.rdfio import _turtle_doc_triples as T

    hdr = "@prefix ex: <http://example.org/kg#> .\n"
    for bad in [
        "ex:s ex:p [ ex:a 1 .",      # unclosed bracket
        "ex:s ex:p ( 1 2 .",          # unclosed collection
        "ex:s ex:p ] .",              # stray close
        "[ ] .",                      # bare anon statement (no triples)
        "ex:s ex:p " + "[ ex:q " * 120 + "1" + " ]" * 120 + " .",  # depth
    ]:
        with _pytest.raises(ValueError):
            T(hdr + bad)


# round-6c: JSON-LD @list + collection reassembly


def test_jsonld_expanded_list(spark):
    doc = (
        '[{"@id": "http://example.org/kg#a",'
        ' "http://example.org/kg#order":'
        ' [{"@list": [{"@value": "x"}, {"@value": 2},'
        '             {"@id": "http://example.org/kg#b"}]}],'
        ' "http://example.org/kg#empty": [{"@list": []}]}]'
    )
    docs = spark.createDataFrame([(doc,)], "text string")
    got = {tuple(r) for r in rdfio.parse_jsonld_expanded(docs).collect()}
    assert ("ex:a", "ex:empty", "rdf:nil", "iri", "", "") in got
    firsts = {r for r in got if r[1] == "rdf:first"}
    assert {(r[2], r[3], r[5]) for r in firsts} == {
        ("x", "literal", ""), ("2", "literal", "xsd:integer"),
        ("ex:b", "iri", ""),
    }
    rests = [r for r in got if r[1] == "rdf:rest"]
    assert len(rests) == 3 and sum(r[2] == "rdf:nil" for r in rests) == 1


def test_jsonld_compacted_list_container_and_inline(spark):
    doc = (
        '{"@context": {"ex": "http://example.org/kg#",'
        ' "ks": {"@id": "http://example.org/kg#ks", "@container": "@list"}},'
        ' "@id": "ex:a", "ks": [1, 2],'
        ' "ex:names": {"@list": ["u", "v"]}}'
    )
    docs = spark.createDataFrame([(doc,)], "text string")
    parsed = rdfio.parse_jsonld_compacted(docs)
    out = {
        (r["s"], r["p"], r["pos"], r["o"], r["o_datatype"])
        for r in rdfio.unroll_lists(parsed).collect()
    }
    assert out == {
        ("ex:a", "ex:ks", 0, "1", "xsd:integer"),
        ("ex:a", "ex:ks", 1, "2", "xsd:integer"),
        ("ex:a", "ex:names", 0, "u", ""),
        ("ex:a", "ex:names", 1, "v", ""),
    }


def test_jsonld_scope_bnodes_keeps_docs_apart(spark):
    mk = ('{"@context": {"ex": "http://example.org/kg#"},'
          ' "@id": "ex:%s", "ex:l": {"@list": ["%s1", "%s2"]}}')
    docs = spark.createDataFrame(
        [(mk % ("a", "a", "a"),), (mk % ("b", "b", "b"),)], "text string"
    )
    parsed = rdfio.parse_jsonld_compacted(docs, scope_bnodes=True)
    out = {
        (r["s"], r["pos"], r["o"])
        for r in rdfio.unroll_lists(parsed).collect()
    }
    assert out == {("ex:a", 0, "a1"), ("ex:a", 1, "a2"),
                   ("ex:b", 0, "b1"), ("ex:b", 1, "b2")}


def test_unroll_lists_cycle_guard(spark):
    rows = [
        ("ex:a", "ex:l", "_:c1", "iri", "", ""),
        ("_:c1", "rdf:first", "x", "literal", "", ""),
        ("_:c1", "rdf:rest", "_:c2", "iri", "", ""),
        ("_:c2", "rdf:first", "y", "literal", "", ""),
        ("_:c2", "rdf:rest", "_:c1", "iri", "", ""),  # cycle
    ]
    t = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, o_lang string,"
        " o_datatype string",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_len"):
        rdfio.unroll_lists(t, max_len=8)


def test_unroll_lists_no_lists_is_empty(spark):
    t = spark.createDataFrame(
        [("ex:a", "ex:p", "v", "literal", "", "")],
        "s string, p string, o string, o_kind string, o_lang string,"
        " o_datatype string",
    )
    assert rdfio.unroll_lists(t).count() == 0


def test_compact_store_merges_small_files(spark, tmp_path):
    """8-way-written store → compaction rewrites each multi-file graph
    to ONE file with the exact same parsed content; a graph already at
    one file is untouched (same inode set)."""
    import os

    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    rows = [(f"ex:g{i % 3}", f"ex:s{i}", "ex:p", f"v{i}",
             "literal", "", "") for i in range(60)]
    q = spark.createDataFrame(
        rows,
        "g string, s string, p string, o string, o_kind string,"
        " o_lang string, o_datatype string",
    )
    rdfio.write_nquads_store(q.repartition(8), store)
    one = spark.createDataFrame(
        [("ex:solo", "ex:x", "ex:p", "y", "iri", "", "")],
        "g string, s string, p string, o string, o_kind string,"
        " o_lang string, o_datatype string",
    )
    rdfio.replace_graphs(one.coalesce(1), store)

    before = {
        tuple(r) for r in rdfio.read_nquads_store(spark, store).collect()
    }
    dirs = rdfio.store_graph_dirs(store)
    solo_files = sorted(os.listdir(dirs["ex:solo"]))

    result = rdfio.compact_store(spark, store)
    assert sorted(g for g, _, _ in result) == ["ex:g0", "ex:g1", "ex:g2"]
    assert all(b > 1 and a == 1 for _, b, a in result)
    after = {
        tuple(r) for r in rdfio.read_nquads_store(spark, store).collect()
    }
    assert after == before
    # the single-file graph was not rewritten
    assert sorted(os.listdir(dirs["ex:solo"])) == solo_files
    # idempotent: second pass finds nothing to do
    assert rdfio.compact_store(spark, store) == []


def test_compact_store_recovers_crashed_swap(spark, tmp_path):
    """r7 ADVICE fix: a compaction that crashed between parking a graph
    aside and swapping the rewrite in must NOT lose the graph — the
    next compact_store restores the aside copy before clearing the
    staging dir (the old code deleted staging unconditionally, losing
    the graph's only copy)."""
    import os
    import shutil

    store = str(tmp_path / "store")
    rows = [("ex:g0", f"ex:s{i}", "ex:p", f"v{i}", "literal", "", "")
            for i in range(20)]
    q = spark.createDataFrame(
        rows,
        "g string, s string, p string, o string, o_kind string,"
        " o_lang string, o_datatype string",
    )
    rdfio.write_nquads_store(q.repartition(4), store)
    before = {tuple(r) for r in rdfio.read_nquads_store(spark, store).collect()}

    # simulate the crash window: graph parked aside, staging present,
    # real dir missing
    dirs = rdfio.store_graph_dirs(store)
    gdir = dirs["ex:g0"]
    aside = os.path.join(store, "." + os.path.basename(gdir) + ".gc")
    os.rename(gdir, aside)
    os.makedirs(os.path.join(store, "_compact_tmp"), exist_ok=True)

    result = rdfio.compact_store(spark, store)
    after = {tuple(r) for r in rdfio.read_nquads_store(spark, store).collect()}
    assert after == before
    # the aside copy is gone (either restored-then-compacted or dropped
    # post-swap) and no staging remains
    assert not any(e.endswith(".gc") for e in os.listdir(store))
    assert not os.path.isdir(os.path.join(store, "_compact_tmp"))
    assert result and result[0][0] == "ex:g0"


def test_scoped_store_read_edge_cases(spark, tmp_path):
    """Graph-scoped reads of absent graphs, mixed present/absent lists
    and lists with duplicates give exactly the present graphs' rows —
    the filtered full read — and an all-absent scope keeps the quad
    schema."""
    store = str(tmp_path / "store")
    rdfio.write_nquads_store(spark.createDataFrame(
        [(g, f"ex:s{k}", "ex:p", f"{g}-{k}", "literal", "", "")
         for g in ("ex:g1", "ex:g2", "ex:g3") for k in range(3)],
        rdfio.QUADS_PARSED_DDL,
    ), store)
    full = rdfio.read_nquads_store(spark, store)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    empty = rdfio.read_nquads_store(spark, store, graph="ex:absent")
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame(
        [], rdfio.QUADS_PARSED_DDL).schema
    for scope, want in [
        (["ex:g1", "ex:absent"], ["ex:g1"]),
        (["ex:g2", "ex:g2", "ex:g1", "ex:g2"], ["ex:g1", "ex:g2"]),
        ({"ex:g3"}, ["ex:g3"]),
    ]:
        got = rows(rdfio.read_nquads_store(spark, store, graph=scope))
        assert got == rows(full.filter(F.col("g").isin(want))), scope
        assert len(got) == 3 * len(want)


def test_line_breaking_literals_survive_the_store(spark, tmp_path):
    """Literals holding CR, CRLF, TAB and LF are written escaped, so
    Spark's line reader (which splits on CR as well as LF) reads each
    stored statement back whole — through the writer and through an
    INSERT DATA request."""
    from kgspark.sparql import store_update

    store = str(tmp_path / "store")
    vals = ["a\rb", "c\r\nd", "e\tf", "g\nh", "\r"]
    rows = [("ex:g1", f"ex:s{i}", "rdfs:label", v, "literal", "", "")
            for i, v in enumerate(vals)]
    rdfio.write_nquads_store(
        spark.createDataFrame(rows, rdfio.QUADS_PARSED_DDL), store)
    assert _quad(rdfio.read_nquads_store(spark, store)) == set(rows)

    store_update(spark, store,
                 'INSERT DATA { GRAPH <ex:g2> { <ex:s9> <rdfs:label> "x\ry" } }')
    assert [tuple(r) for r in rdfio.read_nquads_store(
        spark, store, graph="ex:g2").collect()] == [
        ("ex:g2", "ex:s9", "rdfs:label", "x\ry", "literal", "", "")]


def test_compaction_is_anchored_at_the_iri_start(spark, tmp_path):
    """An IRI that embeds a known namespace after its start is not a
    prefixed name: every line format, the store and the document
    parser read it back unchanged, and a namespace at the start still
    compacts."""
    embedded = "http://a.org/?u=http://example.org/kg#x"
    q = spark.createDataFrame([
        ("ex:g1", embedded, "ex:ref", embedded, "iri", "", ""),
        (embedded, "ex:s1", "rdfs:label", "v", "literal", "", embedded),
    ], rdfio.QUADS_PARSED_DDL)
    want = _quad(q)
    t = q.drop("g")
    want_t = {r[1:] for r in want}
    assert _quad(rdfio.parse_nquads(rdfio.to_nquads(q))) == want
    assert _quad(rdfio.parse_trig(rdfio.to_trig(q))) == want
    assert _full(rdfio.parse_ntriples(rdfio.to_ntriples(t))) == want_t
    assert _full(rdfio.parse_turtle(rdfio.to_turtle(t))) == want_t
    store = str(tmp_path / "store")
    rdfio.write_nquads_store(q, store)
    assert _quad(rdfio.read_nquads_store(spark, store)) == want

    line = f"<{embedded}> <http://example.org/kg#p> <http://example.org/kg#o> ."
    lines = spark.createDataFrame([(line,)], "line string")
    docs = spark.createDataFrame([(line,)], "text string")
    got = _full(rdfio.parse_ntriples(lines))
    assert got == {(embedded, "ex:p", "ex:o", "iri", "", "")}
    assert _full(rdfio.parse_turtle(lines)) == got
    assert _full(rdfio.parse_turtle_docs(docs)) == got
    assert rdfio.compact_str(embedded) == embedded
    assert rdfio.compact_str("http://example.org/kg#x") == "ex:x"
