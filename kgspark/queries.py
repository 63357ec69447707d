"""Spark-side builders for the driver-contract queries
(__spark_entry__.queries()).  Each builder takes (spark, sf_dir) and
returns a DataFrame whose column names/types line up exactly with the
DuckDB oracle SQL in oracle_sql.py / __spark_entry__.oracle_sql().

Cross-engine conventions (see oracle_sql.py): floats become
floor(1e6*x) BIGINT per row *before* any aggregation; every computed
column is aliased.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cc as cc_mod
from . import extract, fixtures
from . import generate as gen
from . import grammar as G
from .pipeline import run_pipeline_cached
from .session import local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def e6(col):
    """floor(1e6 * x) as BIGINT — the shared float-output convention."""
    return F.floor(col * F.lit(1000000.0)).cast("bigint")


# --- KG pipeline queries -----------------------------------------------------
def kg_spans_flat(spark, sf_dir):
    return fixtures.flat_spans(spark, sf_dir).select(
        "doc_id", "span_pos", "kind", "text", "media_ref", "offset"
    )


def kg_span_invariant(spark, sf_dir):
    """Per-document span-sequence signature (BASELINE.json:15 invariant):
    md5 over the ordered (kind|text|media_ref|offset) lines."""
    ds = fixtures.docs_spans(spark, sf_dir)
    sig = F.md5(
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    "|", s["kind"], s["text"], s["media_ref"],
                    s["offset"].cast("string"),
                ),
            ),
            "\n",
        )
    )
    return ds.select(
        "doc_id", F.size("spans").alias("n_spans"), sig.alias("sig")
    )


def kg_mentions(spark, sf_dir):
    flat = fixtures.flat_spans(spark, sf_dir)
    return extract.mentions_df(flat).select(
        "doc_id", "lang", "source", "span_pos", "mention_ord",
        "mention_text", "norm_text", "mention_iri",
    )


def kg_mention_counts(spark, sf_dir):
    m = extract.mentions_df(fixtures.flat_spans(spark, sf_dir))
    return m.groupBy("norm_text").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs")
    )


def kg_link_edges(spark, sf_dir):
    edges = run_pipeline_cached(spark, sf_dir).edges
    return edges.select(
        "norm_a", "norm_b",
        e6(F.col("jaccard")).alias("jaccard_e6"),
        F.round(F.col("cosine") * F.lit(1000000.0)).cast("bigint").alias("cosine_e6"),
    )


def kg_entities(spark, sf_dir):
    return run_pipeline_cached(spark, sf_dir).entities


def kg_entity_attrs(spark, sf_dir):
    return run_pipeline_cached(spark, sf_dir).entity_attrs


def kg_triples(spark, sf_dir):
    return run_pipeline_cached(spark, sf_dir).triples


def kg_media_features(spark, sf_dir):
    # closed-form media rows (fixtures.media_spans_direct) — no text
    # chunk is synthesized; same rows as the explode path (tested)
    ms = fixtures.media_spans_direct(spark, sf_dir)
    return extract.media_features_from(ms).select(
        "doc_id", "span_pos", "media_ref", "media_kind", "ref_bytes",
        "vec_id", "content_fp",
    )


# --- TPC-H plan-shape fixtures ----------------------------------------------
# Not part of the KG chain: these read the TPC-H tables and exist so the
# optimizer behaviour the engine's session relies on (parquet pushdown and
# column pruning, broadcast dimension joins, semi-join decorrelation,
# disjunctive predicate splitting) stays pinned by plan tests and oracles.
def tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .withColumn("rev_e6", e6(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(e6(F.col("l_quantity"))).alias("sum_qty_e6"),
            F.sum("rev_e6").alias("revenue_e6"),
            F.count("*").alias("n"),
        )
    )


def revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(e6(F.col("o_totalprice"))).alias("revenue_e6"),
            F.count("*").alias("n_orders"),
        )
    )


def customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def tpch_q3_topk(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join (segment-filtered customers ⋈ orders
    ⋈ lineitem) with date band filters, revenue aggregation, top-10 —
    the multi-join + agg + top-k composite (O19/O26/O31)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # scalar-subquery shape without a driver round-trip at plan-build
    # time: the 1-row min(segment) aggregate joins back as a broadcast —
    # the oracle's (SELECT min(c_mktsegment) FROM customer), lazily
    seg_df = c.agg(F.min("c_mktsegment").alias("_seg"))
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    return (
        c.join(F.broadcast(seg_df), c.c_mktsegment == F.col("_seg"))
        .drop("_seg")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(e6(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_e6"
            )
        )
        .orderBy(F.desc("revenue_e6"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "revenue_e6",
        )
    )


def top10_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", e6(F.col("o_totalprice")).alias("totalprice_e6"))
    )


def tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape — order-priority checking: count the
    orders of one quarter that had at least one LATE lineitem
    (l_shipdate more than 60 days after the order date; the fixture
    lineitem has no commit/receipt dates so lateness is vs the order
    date).  The EXISTS decorrelates to a LEFT SEMI join with the
    non-equi lateness predicate INSIDE the join condition, so the
    probe side never materializes matched multiplicity — the shape
    that distinguishes semi-join from join+distinct at scale.  Date
    arithmetic on epoch micros (integer-exact both engines)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
    )
    Q_LO = 820454400000000  # 1996-01-01 UTC in micros
    Q_HI = 828316800000000  # 1996-04-01 UTC in micros
    orders = orders.filter(
        (F.col("od_us") >= Q_LO) & (F.col("od_us") < Q_HI)
    )
    late = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("sd_us"),
    )
    sixty_days_us = 60 * 86400 * 1000000
    j = orders.join(
        late,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("sd_us") > F.col("od_us") + F.lit(sixty_days_us)),
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


def tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape — local-supplier revenue per nation
    (customer and supplier in the SAME nation), 6-table join:
    region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier.
    Catalyst broadcasts every dimension (region/nation/customer/
    supplier at fixture scale; on a real corpus AQE keeps the small
    ones broadcast and shuffles the big ones) so the fact table
    streams through BroadcastHashJoins — the canonical star-join plan.
    Revenue on the e6 integer grid from the raw doubles, floor AFTER
    the per-row product like revenue_by_nation."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    rev = F.expr(
        "CAST(floor(1000000 * l_extendedprice * (1 - l_discount)) AS BIGINT)"
    )
    j = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.select("n_name", "r_name", rev.alias("rev_e6"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("rev_e6").cast("bigint").alias("revenue_e6"),
            F.count("*").cast("bigint").alias("n_lineitems"),
        )
    )


def tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape — promotion revenue share: of one
    month's lineitem revenue, the fraction from PROMO-type parts.
    Part is broadcast (a dimension); the month filter prunes the fact
    scan BEFORE the join (pushed to the parquet reader).  The share is
    published on the e6 grid as promo_rev_e6 DIV (total_rev_e6 DIV
    1e6) — a pure-integer form both engines compute identically, and
    one that cannot overflow (multiplying promo_rev_e6 by 1e6 first
    would pass 2^63 on a 100 TB fact table)."""
    li = _t(spark, sf_dir, "lineitem")
    # filter on the RAW column (plain comparisons push to the parquet
    # reader as PushedFilters; a unix_micros() wrapper would not)
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.expr(
        "CAST(floor(1000000 * l_extendedprice * (1 - l_discount)) AS BIGINT)"
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    agg = j.select(
        rev.alias("rev_e6"),
        F.when(F.col("p_type") == "PROMO", rev)
        .otherwise(F.lit(0).cast("bigint"))
        .alias("promo_e6"),
    ).agg(
        F.sum("promo_e6").cast("bigint").alias("promo_rev_e6"),
        F.sum("rev_e6").cast("bigint").alias("total_rev_e6"),
    )
    return agg.selectExpr(
        "promo_rev_e6",
        "total_rev_e6",
        "CAST(promo_rev_e6 DIV (total_rev_e6 DIV 1000000) AS BIGINT)"
        " AS promo_share_e6",
    )


def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape — discounted revenue under an OR of
    brand/size/quantity conjunctions.  The equi key (partkey) carries
    the join; the disjunction stays a post-join filter Catalyst splits:
    the part-only conjuncts (brand OR-list, size >= 1) push into the
    broadcast side's scan, the mixed ones evaluate after the hash
    probe — the shape that verifies disjunctive predicate splitting
    rather than forcing a nested-loop join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.expr(
            "CAST(floor(1000000 * l_extendedprice * (1 - l_discount))"
            " AS BIGINT)"
        ).alias("rev_e6"),
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.sum("rev_e6").cast("bigint").alias("revenue_e6"),
        F.count("*").cast("bigint").alias("n_lineitems"),
    )


# --- training-data-pipeline operators (text analysis) -------------------------
def doc_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10) — the standard
    training-data-pipeline assignment, keyed on a hash of the DOC ID
    (never random()): reruns, resumes, and any partitioning produce the
    identical split, and adding documents never reassigns existing ones.
    Uses the grammar's int64 hash family so the DuckDB oracle reproduces
    the assignment value-exactly."""
    docs = _t(spark, sf_dir, "documents")
    h = (F.lit(G.hash_a(1)) * F.col("doc_id") + F.lit(G.hash_b(1))) % F.lit(
        G.HASH_P
    )
    bucket = h % 100
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def doc_pack_assign(spark, sf_dir):
    """Sequence packing (concat-and-chunk) — the standard LLM
    training-data step after splitting: documents are concatenated in a
    deterministic order and cut into fixed-capacity training sequences;
    each document is assigned (seq_id, offset) of its starting token.

    Scale shape: a GLOBAL ordered cumulative sum would be one
    sequential scan of the corpus — instead documents hash into
    PACK_SHARDS independent packing shards and the running token count
    is a per-(split, shard) window cumsum: embarrassingly parallel
    across shards, one shuffle, deterministic at any parallelism
    (doc_id is unique ⇒ the window order is total).  Sequence identity
    is (split, shard, seq_id)."""
    docs = _t(spark, sf_dir, "documents")
    h_split = (
        F.lit(G.hash_a(1)) * F.col("doc_id") + F.lit(G.hash_b(1))
    ) % F.lit(G.HASH_P) % 100
    split = (
        F.when(h_split < 80, F.lit("train"))
        .when(h_split < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    shard = (
        (F.lit(G.hash_a(2)) * F.col("doc_id") + F.lit(G.hash_b(2)))
        % F.lit(G.HASH_P) % G.PACK_SHARDS
    ).cast("int")
    d = docs.select(
        "doc_id", split.alias("split"), shard.alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start")
    return d.select("doc_id", "split", "shard", "n_tok", start).select(
        "doc_id", "split", "shard", "n_tok",
        F.expr(f"start DIV {G.PACK_CAPACITY}").cast("bigint").alias("seq_id"),
        (F.col("start") % G.PACK_CAPACITY).cast("bigint").alias("seq_off"),
    )


# --- RDF round-trip + triple/quad-table queries --------------------------------
_TERM_COLS = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]


def rdf_ntriples_roundtrip(spark, sf_dir):
    """Serialize the FULL-TERM triples to N-Triples (@lang tags,
    ^^datatypes), parse back with the vectorized kernel — oracle is the
    independent DuckDB full-term triple oracle, so the round-trip must
    be lossless including language tags and datatypes."""
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    return rdfio.parse_ntriples(rdfio.to_ntriples(t)).select(*_TERM_COLS)


def rdf_turtle_roundtrip(spark, sf_dir):
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    return rdfio.parse_turtle(rdfio.to_turtle(t)).select(*_TERM_COLS)


def rdf_jsonld_roundtrip(spark, sf_dir):
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    return rdfio.parse_jsonld(rdfio.to_jsonld(t)).select(*_TERM_COLS)


def xml_transform(spark, sf_dir):
    """O12 XSLT-analogue: deterministically render each document as a
    one-line XML payload (native exprs), then template-transform it to
    full-term triples through the registered ``xml`` kernel; the
    DuckDB oracle derives the same triples directly from the table."""
    from .processors.xml import XML_TRIPLES_DDL, xml_transform_kernel

    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    xml = F.concat(
        F.lit('<doc id="'), F.col("doc_id").cast("string"),
        F.lit('"><title xml:lang="'), F.col("lang"), F.lit('">'),
        F.array_join(F.slice(toks, 1, 3), " "),
        F.lit("</title><lang>"), F.col("lang"),
        F.lit("</lang><size>"), F.size(toks).cast("string"),
        F.lit("</size></doc>"),
    )
    lines = docs.select(xml.alias("line"))
    return lines.mapInPandas(xml_transform_kernel, schema=XML_TRIPLES_DDL).select(
        *_TERM_COLS
    )


def rdf_xml_roundtrip(spark, sf_dir):
    """O9: serialize to the RDF/XML subset, parse back with the Arrow
    kernel — full-term lossless vs the independent DuckDB oracle."""
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    return rdfio.parse_rdfxml(rdfio.to_rdfxml(t)).select(*_TERM_COLS)


def kg_triples_full(spark, sf_dir):
    """The D3 full term model: (s, p, o, o_kind, o_lang, o_datatype)."""
    return run_pipeline_cached(spark, sf_dir).triples_full


_QUAD_COLS = ["g", "s", "p", "o", "o_kind", "o_lang", "o_datatype"]


def kg_quads_full(spark, sf_dir):
    """The D4 named-graph quad model: (g, s, p, o, o_kind, o_lang,
    o_datatype) — one row per distinct quad across doc graphs + root."""
    return run_pipeline_cached(spark, sf_dir).quads.select(*_QUAD_COLS)


def rdf_nquads_roundtrip(spark, sf_dir):
    """O11 graph-carrying round-trip: quads → N-Quads lines (graph IRI
    as the 4th term) → vectorized parse — lossless incl. the named
    graph, @lang tags and ^^datatypes; oracle is the independent DuckDB
    quad oracle."""
    from . import rdfio

    q = run_pipeline_cached(spark, sf_dir).quads
    return rdfio.parse_nquads(rdfio.to_nquads(q)).select(*_QUAD_COLS)


def rdf_trig_roundtrip(spark, sf_dir):
    """O11 TriG-subset round-trip: one `<g> {{ s p o . }}` block per
    line, Turtle term syntax — same lossless quad-level oracle."""
    from . import rdfio

    q = run_pipeline_cached(spark, sf_dir).quads
    return rdfio.parse_trig(rdfio.to_trig(q)).select(*_QUAD_COLS)


def kg_graph_counts(spark, sf_dir):
    """Named-graph cardinalities (D4): one row per doc graph + the
    proxy root graph."""
    return run_pipeline_cached(spark, sf_dir).quads.groupBy("g").agg(
        F.count("*").alias("n")
    )


def kg_entity_class(spark, sf_dir):
    """O25 rulebase-driven class selection per entity."""
    p = run_pipeline_cached(spark, sf_dir)
    return gen.entity_classes(p.mentions, p.labels)


def kg_entity_props(spark, sf_dir):
    """O24 full D7 form: multi-predicate property selection via the
    broadcast PROPERTY_RULES table (priority + lang-pref window)."""
    return run_pipeline_cached(spark, sf_dir).entity_props


def kg_props_triples(spark, sf_dir):
    """The D7→D3 step: the property index rendered as proxy-graph
    triples (one lang-tagged/plain literal per entity per target
    predicate) — what a spindle-style generate stage would write for
    the property rulebase's winners."""
    props = run_pipeline_cached(spark, sf_dir).entity_props
    return props.select(
        F.col("entity_id").alias("s"),
        F.col("pred").alias("p"),
        F.col("value").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.col("value_lang").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )


def kg_entity_cooccurrence(spark, sf_dir):
    """Entity co-occurrence graph: canonical-entity pairs appearing in
    the same document, with document counts — the edge layer a
    downstream KG-analytics stage (centrality, relatedness) consumes.
    Scale shape: the self-join key is doc_id, so block size = entities
    per document (small and bounded by document length), never corpus-
    global; pairs are canonicalized (a < b) before the count groupBy
    (map-side combined)."""
    p = run_pipeline_cached(spark, sf_dir)
    doc_ents = (
        p.mentions.join(p.labels.withColumnRenamed("node", "norm_text"), "norm_text")
        .join(p.comps.select("label", "entity_id"), "label")
        .select("doc_id", "entity_id")
        .distinct()
    )
    a = doc_ents.alias("a")
    b = doc_ents.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
        )
        .groupBy(
            F.col("a.entity_id").alias("entity_a"),
            F.col("b.entity_id").alias("entity_b"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


def kg_bgp_match(spark, sf_dir):
    """SPARQL BGP over the constructed graph (the store's query side):
    every Commerce-class entity with its label and score —
    {?e rdf:type ex:Commerce . ?e rdfs:label ?l . ?e ex:score ?n}
    compiled to filtered scans + equi-joins on the shared variable."""
    from .bgp import bgp_match

    t = run_pipeline_cached(spark, sf_dir).triples
    return bgp_match(
        t,
        [
            ("?e", "rdf:type", "ex:Commerce"),
            ("?e", "rdfs:label", "?l"),
            ("?e", "ex:score", "?n"),
        ],
    )


def kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL over the constructed graph: every document's
    language, with its media references when present — documents too
    short to carry a media span bind NULL (left-join semantics).
    {?d dc:language ?lang . OPTIONAL {?d ex:hasMedia ?media}}"""
    from .bgp import bgp_match

    t = run_pipeline_cached(spark, sf_dir).triples
    return bgp_match(
        t,
        [("?d", "dc:language", "?lang")],
        optionals=[[("?d", "ex:hasMedia", "?media")]],
    )


def kg_entity_media(spark, sf_dir):
    """Per-entity license + representative media (spindle license.c /
    media.c analogue — round-3 verdict missing #4): rights and media
    kinds map through broadcast rule tables, one priority window per
    entity picks the winners; NULL media for entities whose documents
    carry no media span."""
    p = run_pipeline_cached(spark, sf_dir)
    media = fixtures.media_spans_direct(spark, sf_dir).select(
        "doc_id", "media_ref"
    ).distinct()
    return gen.entity_media(
        p.mentions, p.labels, flat=None, members=p.comps, media=media
    )


def kg_media_triples(spark, sf_dir):
    """D7→D3 rendering of the license/media selection: one ex:license
    triple per entity plus one ex:bestMedia triple when media exists —
    the proxy-graph form of kg_entity_media (same pattern as
    kg_props_triples)."""
    em = kg_entity_media(spark, sf_dir)
    lic = em.select(
        F.col("entity_id").alias("s"),
        F.lit(G.P_LICENSE).alias("p"),
        F.col("license").alias("o"),
    )
    med = em.filter(F.col("best_media").isNotNull()).select(
        F.col("entity_id").alias("s"),
        F.lit(G.P_BEST_MEDIA).alias("p"),
        F.col("best_media").alias("o"),
    )
    return lic.unionByName(med)


def kg_bgp_filter(spark, sf_dir):
    """SPARQL FILTER + SELECT DISTINCT over the constructed graph
    (round-3 verdict #2 — the first thing a store user writes after
    their first BGP): Commerce entities scoring ≥ 3 whose label starts
    a–m.  {?e rdf:type ex:Commerce . ?e rdfs:label ?l . ?e ex:score ?n
    FILTER(xsd:integer(?n) >= 3 && regex(?l, '^[a-m]'))} — the filters
    are plain column predicates, so Catalyst pushes each into the one
    pattern scan that binds its variable (plan-gated)."""
    from .bgp import bgp_match

    t = run_pipeline_cached(spark, sf_dir).triples
    return bgp_match(
        t,
        [
            ("?e", "rdf:type", "ex:Commerce"),
            ("?e", "rdfs:label", "?l"),
            ("?e", "ex:score", "?n"),
        ],
        filters=["CAST(n AS INT) >= 3", "l rlike '^[a-m]'"],
        select=["e", "l", "n"],
        distinct=True,
    )


def kg_bgp_union(spark, sf_dir):
    """SPARQL UNION of BGP groups: Commerce entity labels ∪ document
    languages — branches bind DISJOINT variables, exercising the
    NULL-padding of the solution-mapping union (bag semantics)."""
    from .bgp import bgp_union

    t = run_pipeline_cached(spark, sf_dir).triples
    return bgp_union(
        t,
        [
            {"patterns": [("?e", "rdf:type", "ex:Commerce"),
                          ("?e", "rdfs:label", "?l")]},
            {"patterns": [("?d", "dc:language", "?lang")]},
        ],
    )


def kg_sameas_closure(spark, sf_dir):
    """SPARQL property path ?x (owl:sameAs|^owl:sameAs)+ ?y — Spindle's
    coref closure reached from the query surface (round-3 verdict #3).
    Compiled onto the CC machinery (large-star/small-star, O(log n)
    rounds), NOT pair doubling; the DuckDB oracle re-derives the same
    relation with a recursive CTE over the undirected edge set.
    FILTER(?x < ?y) halves the symmetric output and drops the
    cycle-induced self-pairs."""
    from .bgp import bgp_match

    t = run_pipeline_cached(spark, sf_dir).triples
    return bgp_match(
        t,
        [("?x", "(owl:sameAs|^owl:sameAs)+", "?y")],
        filters=["x < y"],
        select=["x", "y"],
    )


def kg_sparql_topk(spark, sf_dir):
    """The SPARQL TEXT front-end end-to-end (kgspark/sparql.py): a
    SELECT with FILTER + ORDER BY + LIMIT as a store consumer would
    write it, parsed and compiled onto bgp_match.  ORDER BY+LIMIT plan
    as TakeOrdered (per-partition top-k, no global sort); the ORDER BY
    key (?n DESC, ?l, ?e) is a total order so the LIMIT cut is
    deterministic on both engines."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT DISTINCT ?e ?l ?n WHERE {
          ?e rdf:type ex:Commerce .
          ?e rdfs:label ?l .
          ?e ex:score ?n .
          FILTER(xsd:integer(?n) >= 2)
        } ORDER BY DESC(?n) ?l ?e LIMIT 25
        """,
    )


def kg_sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT through the text front-end: re-root Commerce
    entities under a summary vocabulary.  Output is a GRAPH (distinct
    s,p,o); one solution-set scan per template pattern, unioned —
    no joins beyond the WHERE group's own."""
    from .sparql import sparql_construct

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_construct(
        t,
        """
        CONSTRUCT { ?e rdf:type ex:Summary .
                    ?e rdfs:label ?l .
                    ?e ex:score ?n }
        WHERE { ?e rdf:type ex:Commerce .
                ?e rdfs:label ?l .
                ?e ex:score ?n }
        """,
    )


def kg_sparql_groupby(spark, sf_dir):
    """SPARQL aggregation through the text front-end: per-class entity
    count + integer-exact score sum.  Plans as partial+final hash
    aggregate around one shuffle on the class variable (map-side
    combine); SUM casts to BIGINT so both engines aggregate exactly."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?t (COUNT(DISTINCT ?e) AS ?n) (SUM(?s) AS ?total)
        WHERE { ?e rdf:type ?t . ?e ex:score ?s }
        GROUP BY ?t
        """,
    )


def kg_sameas_degree(spark, sf_dir):
    """Closure DEGREE without materializing the closure: the number of
    nodes reachable from ?x over (owl:sameAs|^owl:sameAs)+ equals ?x's
    component size (self included — the 2-cycle makes (x,x) hold), so
    the query is a label-size aggregate joined back: LINEAR in nodes
    where the pair relation is Θ(Σ|component|²).  Measured reality at
    sf0.1: the coref graph's giant component makes the bare closure
    171.6 M pairs while this degree view is 28.6 k rows — THE
    scale-correct form of a closure query feeding an aggregate."""
    from .bgp import symmetric_closure_pairs  # noqa: F401 (same relation)
    from . import cc as cc_mod

    t = run_pipeline_cached(spark, sf_dir).triples
    e = t.filter(F.col("p") == "owl:sameAs").select(
        F.col("s").alias("norm_a"), F.col("o").alias("norm_b")
    )
    nodes = (
        e.select(F.col("norm_a").alias("node"))
        .unionByName(e.select(F.col("norm_b").alias("node")))
        .distinct()
    )
    labels = cc_mod.connected_components(e, nodes)
    # component size via ONE window over the label key — the old
    # groupBy + join-back shape paid a second exchange for the same
    # partitioning (guide §2.4: two operations keyed the same way
    # share one exchange)
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("x"),
        F.count("*").over(w).cast("bigint").alias("n_reach"),
    )


def kg_sparql_lang(spark, sf_dir):
    """SPARQL LANG() filter over the full-term model: English-tagged
    labels only — the language tag rides as a hidden column of the
    object binding and never surfaces in the result."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        'SELECT ?e ?l WHERE { ?e rdfs:label ?l . FILTER(LANG(?l) = "en") }',
    )


def kg_sparql_graph(spark, sf_dir):
    """SPARQL GRAPH clause over the quad store (D4): per-named-graph
    mention-edge counts — the graph name binds as a variable and the
    count is a GROUP BY aggregate, all through the text front-end."""
    from .sparql import sparql_select

    q = kg_quads_full(spark, sf_dir)
    return sparql_select(
        q,
        """
        SELECT ?g (COUNT(*) AS ?n)
        WHERE { GRAPH ?g { ?d ex:mentions ?m } }
        GROUP BY ?g
        """,
    )


def kg_predicate_counts(spark, sf_dir):
    return run_pipeline_cached(spark, sf_dir).triples.groupBy("p").agg(
        F.count("*").alias("n")
    )


def kg_sparql_path_seq(spark, sf_dir):
    """SPARQL sequence property path through the text front-end (r5):
    ``?d ex:mentions/^owl:sameAs/rdfs:label ?l`` — doc → mentioned
    source proxy → (INVERSE sameAs) canonical entity → label, in ONE
    pattern.  The sequence compiles to a chain of equi-joins on the
    intermediate nodes (the spec's fresh-variable translation,
    bgp._path_frame) with the inverse step a free column swap;
    constants stay pushed down, no closure materialization involved."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        "SELECT DISTINCT ?d ?l WHERE "
        "{ ?d ex:mentions/^owl:sameAs/rdfs:label ?l }",
    )


def kg_sparql_path_star(spark, sf_dir):
    """SPARQL zero-or-more path (r5): ``?x owl:sameAs* ?y`` — each
    Commerce entity with every scored node reachable over DIRECTED
    sameAs edges, incl. itself (ZeroLengthPath).  The star frame is the
    doubling closure ∪ the identity over all graph terms
    (bgp._step_frame); the DuckDB oracle re-derives it with a recursive
    CTE ∪ identity.  Closure materialization rides under the
    MAX_CLOSURE_PAIRS guard."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT DISTINCT ?x ?y WHERE {
          ?x rdf:type ex:Commerce .
          ?x owl:sameAs* ?y .
          ?y ex:score ?n
        }
        """,
    )


def kg_sparql_subquery(spark, sf_dir):
    """SPARQL subquery (r5): ``{ SELECT … GROUP BY … }`` nested inside
    the WHERE group — entities whose class has at least 100 instances.
    The subquery aggregates once (partial+final hash aggregate), joins
    back on the shared ?t variable, and the outer FILTER references the
    subquery-bound count."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT DISTINCT ?e ?t WHERE {
          ?e rdf:type ?t
          { SELECT ?t (COUNT(*) AS ?n) WHERE { ?x rdf:type ?t } GROUP BY ?t }
          FILTER(?n >= 100)
        }
        """,
    )


def kg_sparql_union_nested(spark, sf_dir):
    """SPARQL nested-group UNION (r5): ``{ {A} UNION {B} . pattern }``
    — the union INSIDE a group, joined against a further pattern on the
    shared variable (round-4 parser only allowed top-level UNION)."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT DISTINCT ?e ?t ?v WHERE {
          { ?e rdfs:label ?v } UNION { ?e dc:language ?v } .
          ?e rdf:type ?t
        }
        """,
    )


def kg_sparql_avg(spark, sf_dir):
    """SPARQL AVG through the text front-end (r5; round-4 verdict #6):
    per-class mean score.  AVG is defined as exact-BIGINT SUM / COUNT
    divided in DOUBLE — the same two exact integers divide on both
    engines, so the IEEE-754 quotient is bit-identical; the registry
    surface bridges it to floor(1e6·x) BIGINT like every float
    output."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    out = sparql_select(
        t,
        """
        SELECT ?t (AVG(?s) AS ?avg_score)
        WHERE { ?e rdf:type ?t . ?e ex:score ?s }
        GROUP BY ?t
        """,
    )
    return out.select(
        "t",
        F.floor(F.lit(1e6) * F.col("avg_score")).cast("bigint").alias("avg_e6"),
    )


def rdf_turtle_doc_roundtrip(spark, sf_dir):
    """Round-5: the DOCUMENT-level Turtle grammar end-to-end — the full
    triple set serialized by to_turtle, sharded into 16 multi-statement
    documents each carrying an explicit @prefix header, then re-parsed
    by the document parser (mapInPandas; @prefix expansion → canonical
    compaction).  Lossless ⇒ equals the independent triple oracle.
    Grouping is collect_list per shard — bounded by shard count, all
    distributed."""
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    header = "".join(
        f"@prefix {p} <{full}> .\n" for p, full in sorted(rdfio.PREFIXES.items())
    )
    docs = (
        rdfio.to_turtle(t)
        .withColumn("shard", F.pmod(F.xxhash64("line"), F.lit(16)))
        .groupBy("shard")
        .agg(
            F.concat(
                F.lit(header), F.concat_ws("\n", F.collect_list("line"))
            ).alias("text")
        )
    )
    return rdfio.parse_turtle_docs(docs).select(*_TERM_COLS).distinct()


def rdf_jsonld_expanded_roundtrip(spark, sf_dir):
    """Round-5: the JSON-LD EXPANDED-document profile — the NDJSON
    writer's node objects wrapped into 16 array documents, re-parsed by
    the expanded-document parser.  Lossless ⇒ equals the triple
    oracle."""
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    docs = (
        rdfio.to_jsonld(t)
        .withColumn("shard", F.pmod(F.xxhash64("line"), F.lit(16)))
        .groupBy("shard")
        .agg(
            F.concat(
                F.lit("["), F.concat_ws(",\n", F.collect_list("line")),
                F.lit("]"),
            ).alias("text")
        )
    )
    return rdfio.parse_jsonld_expanded(docs).select(*_TERM_COLS).distinct()


def kg_sparql_optional_filter(spark, sf_dir):
    """Round-5: the OPTIONAL-with-body-FILTER idiom — the FILTER
    belongs to the OPTIONAL group (non-matching rows KEEP their outer
    binding with NULL, they are not removed), then COALESCE defaults
    the unbound variable.  Exercises full group bodies inside OPTIONAL
    plus BOUND/COALESCE at the driver gate."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT DISTINCT ?e ?sc WHERE {
          ?e rdf:type ex:Commerce .
          OPTIONAL { ?e ex:score ?n FILTER(xsd:integer(?n) >= 3) }
          BIND(COALESCE(?n, "none") AS ?sc)
        }
        """,
    )


def kg_sparql_group_concat(spark, sf_dir):
    """Round-5: GROUP_CONCAT with explicit separator + SAMPLE — per
    Commerce entity, the sorted '|'-joined list of its scores and one
    deterministic sample.  GROUP_CONCAT sorts the collected values
    before joining (the spec leaves order open; sorting makes it
    engine-deterministic, matched by the oracle's ORDER BY inside
    string_agg); SAMPLE = MIN, a valid arbitrary-value choice."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?e (GROUP_CONCAT(?n ; SEPARATOR "|") AS ?scores)
               (SAMPLE(?n) AS ?one)
        WHERE { ?e rdf:type ex:Commerce . ?e ex:score ?n }
        GROUP BY ?e
        """,
    )


def doc_quota_sample(spark, sf_dir, k: int = 10):
    """Round-5 curation op: BALANCED subcorpus selection — per
    (lang, source) stratum, keep exactly the k lowest-HASH documents
    (hash family index 3), so the sample is deterministic, add-only
    stable (a new doc displaces at most one slot in its own stratum)
    and source-balanced regardless of stratum skew.  The rn ≤ k filter
    plans as WindowGroupLimit — per-partition top-k, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    h = (F.lit(G.hash_a(3)) * F.col("doc_id") + F.lit(G.hash_b(3))) % F.lit(G.HASH_P)
    w = Window.partitionBy("lang", "source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "lang", "source", F.col("rn").cast("int").alias("rn"))
    )


def kg_sparql_update(spark, sf_dir):
    """SPARQL UPDATE verbs (round-6, O5/O6 write path): build a store
    from the nation table (one named graph per region), run one
    ';'-chained update request exercising all four verbs — CLEAR
    GRAPH, DELETE WHERE (implicit per-graph pattern), DELETE DATA
    (GRAPH form), INSERT DATA (default-graph + GRAPH forms) — under a
    single writer lock, then read the end state back.  The oracle
    recomputes pre-state ± delta in DuckDB."""
    import tempfile

    from . import rdfio
    from .sparql import store_update

    nat = _t(spark, sf_dir, "nation")
    quads = nat.select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    store = tempfile.mkdtemp(prefix="kgspark_upd_")
    rdfio.write_nquads_store(quads, store)
    store_update(spark, store, '''
        CLEAR GRAPH ex:reg0 ;
        DELETE WHERE { ?s ex:name "CHINA" } ;
        DELETE DATA { GRAPH ex:reg1 { ex:nat1 ex:name "ARGENTINA" } } ;
        INSERT DATA {
          ex:extra ex:name "ATLANTIS" .
          GRAPH ex:reg9 { ex:nat99 ex:flag ex:new }
        }
    ''')
    return rdfio.read_nquads_store(spark, store).select("g", "s", "p", "o")


def rdf_jsonld_compacted_roundtrip(spark, sf_dir):
    """Round-6: the JSON-LD COMPACTED profile — prefixed-name node
    objects under an inline @context prefix map (the shape real-world
    JSON-LD overwhelmingly ships in), wrapped into 16 @graph documents
    and re-parsed with full context expansion.  Lossless ⇒ equals the
    triple oracle."""
    from . import rdfio

    t = run_pipeline_cached(spark, sf_dir).triples_full
    ctx = rdfio.jsonld_context_json()
    docs = (
        rdfio.to_jsonld_compacted(t)
        .withColumn("shard", F.pmod(F.xxhash64("line"), F.lit(16)))
        .groupBy("shard")
        .agg(
            F.concat(
                F.lit('{"@context": ' + ctx + ', "@graph": ['),
                F.concat_ws(",\n", F.collect_list("line")),
                F.lit("]}"),
            ).alias("text")
        )
    )
    return rdfio.parse_jsonld_compacted(docs).select(*_TERM_COLS).distinct()


def kg_sparql_select_expr(spark, sf_dir):
    """Round-6: (expr AS ?v) SELECT projections and expression ORDER BY
    keys through the text front-end — label lengths and a score
    arithmetic column, longest-label-first with a total tie-break so
    the LIMIT cut is engine-deterministic."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?e ?l (STRLEN(?l) AS ?len) (xsd:integer(?n) * 2 AS ?n2)
        WHERE { ?e rdfs:label ?l . ?e ex:score ?n }
        ORDER BY DESC(STRLEN(?l)) ?e ?l (xsd:integer(?n)) LIMIT 30
        """,
    )


def kg_sparql_optional_exists(spark, sf_dir):
    """Round-6 (ADVICE #1): EXISTS over an OPTIONAL-unbound shared
    variable — compatible-solution semantics.  The OPTIONAL body keeps
    only labels starting with "c", so ?l is UNBOUND for the rest; an
    unbound shared variable is compatible-with-anything, so those rows
    survive the EXISTS iff the group is (anywhere) non-empty — the
    plain equi-semi-join used to silently drop them.  Bound ?l rows
    survive iff that exact label occurs (trivially true), keeping both
    row shapes in the result."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?x ?l WHERE {
          ?x rdf:type ex:Commerce .
          OPTIONAL { ?x rdfs:label ?l . FILTER(STRSTARTS(?l, "c")) }
          FILTER EXISTS { ?e rdfs:label ?l }
        }
        """,
    )


def kg_sparql_builtins(spark, sf_dir):
    """Round-6: the expanded scalar-builtin surface in one query —
    nested same-shape translation (CONCAT(UCASE(SUBSTR(…)), …)), IF,
    STRLEN, MD5, ABS and FLOOR over xsd:integer casts.  ORDER BY
    (?e, ?l, score) is total over the distinct triple rows, so the
    LIMIT cut is engine-deterministic."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?e ?l (CONCAT(UCASE(SUBSTR(?l, 1, 1)), SUBSTR(?l, 2)) AS ?cap)
               (IF(STRLEN(?l) >= 6, "long", "short") AS ?sz)
               (MD5(?l) AS ?h)
               (ABS(xsd:integer(?n) - 50) AS ?dist)
               (FLOOR(xsd:integer(?n) / 7) AS ?bucket)
        WHERE { ?e rdfs:label ?l . ?e ex:score ?n }
        ORDER BY ?e ?l (xsd:integer(?n)) LIMIT 40
        """,
    )


def kg_sparql_term_fns(spark, sf_dir):
    """Round-6: term-inspection builtins over the full-term model —
    isIRI rides the hidden __kind_ carrier the way LANG rides __lang_;
    LANGMATCHES does case-insensitive basic range filtering.  Counts
    per predicate of objects that are IRIs or English-tagged
    literals."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?p (COUNT(*) AS ?n)
        WHERE { ?s ?p ?o
                FILTER(isIRI(?o) || LANGMATCHES(LANG(?o), "en")) }
        GROUP BY ?p ORDER BY ?p
        """,
    )


def kg_sparql_construct_where(spark, sf_dir):
    """Round-6: the CONSTRUCT WHERE { … } shorthand (SPARQL 1.1
    §10.2.2) — the BGP is its own template; result is the distinct
    (s, p, o) union of both pattern instantiations."""
    from .sparql import sparql_construct

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_construct(
        t, "CONSTRUCT WHERE { ?e rdfs:label ?l . ?e ex:score ?n }"
    )


def kg_sparql_load(spark, sf_dir):
    """Round-6: the LOAD verb (SPARQL 1.1 Update §3.1.4 — Twine's
    file-inject path on the text surface).  The engine serializes the
    nation table as an N-Triples dataset DIRECTORY (so the load-back
    is a distributed multi-file scan, the 100 TB shape), then LOADs it
    into a named graph of a seeded store and reads the end state."""
    import tempfile

    from . import rdfio
    from .sparql import store_update

    nat = _t(spark, sf_dir, "nation")
    triples = nat.select(
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    base = tempfile.mkdtemp(prefix="kgspark_load_")
    src = f"{base}/nations.nt"
    rdfio.to_ntriples(triples).write.mode("overwrite").text(src)
    store = f"{base}/store"
    store_update(spark, store, f'''
        INSERT DATA {{ ex:seed ex:p ex:q }} ;
        LOAD <file://{src}> INTO GRAPH ex:loaded
    ''')
    return rdfio.read_nquads_store(spark, store).select("g", "s", "p", "o")


def kg_sparql_from(spark, sf_dir):
    """Round-6: FROM / FROM NAMED dataset clauses (SPARQL 1.1 §13.2)
    on the store surface.  The store holds one graph per region; the
    query's dataset makes regions 1+2 the merged default graph and
    region 3 the only GRAPH-visible named graph.  Each side of the
    dataset is a partition-PRUNED read of only its graphs'
    directories — at 100 TB the dataset clause is what turns a
    whole-store scan into a few-directory scan."""
    import tempfile

    from . import rdfio
    from .sparql import store_sparql

    nat = _t(spark, sf_dir, "nation")
    quads = nat.select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    store = tempfile.mkdtemp(prefix="kgspark_from_")
    rdfio.write_nquads_store(quads, store)
    out = store_sparql(spark, store, """
        SELECT ?g ?s ?o
        FROM ex:reg1
        FROM ex:reg2
        FROM NAMED ex:reg3
        WHERE { { ?s ex:name ?o } UNION { GRAPH ?g { ?s ex:name ?o } } }
    """)
    return out.select(
        F.coalesce(F.col("g"), F.lit("")).alias("g"), "s", "o"
    )


def kg_sparql_modify(spark, sf_dir):
    """Round-6: the general DELETE/INSERT…WHERE modify form.  WHERE
    matches over the MERGED default graph (all regions' names starting
    with "C"), the DELETE template strips those names from graph
    ex:reg1 only, and the INSERT template writes the lower-cased form
    into ex:reg1 for EVERY solution (template instantiation is
    graph-independent, per spec) — the oracle recomputes
    (pre-state − dels) ∪ ins in SQL."""
    import tempfile

    from . import rdfio
    from .sparql import store_update

    nat = _t(spark, sf_dir, "nation")
    quads = nat.select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    store = tempfile.mkdtemp(prefix="kgspark_mod_")
    rdfio.write_nquads_store(quads, store)
    store_update(spark, store, '''
        DELETE { GRAPH ex:reg1 { ?s ex:name ?o } }
        INSERT { GRAPH ex:reg1 { ?s ex:lname ?u } }
        WHERE { ?s ex:name ?o . FILTER(STRSTARTS(?o, "C")) .
                BIND(LCASE(?o) AS ?u) }
    ''')
    return rdfio.read_nquads_store(spark, store).select("g", "s", "p", "o")


def doc_resample(spark, sf_dir):
    """Round-6: deterministic source-weighted corpus resampling — the
    mixture-reweighting stage of a training-data pipeline (up-sample
    valuable sources, down-sample the rest) with NO randomness:
    weight_e6 = 500k + (srcnum % 4)·500k ∈ {0.5, 1, 1.5, 2}×; integer
    copies = weight div 1e6; the fractional copy decided per doc by
    the grammar affine hash (family index 200).  One output row per
    emitted copy — explode(sequence) keeps the blow-up
    vectorized and bounded by the weight table, and the whole stage
    is map-only (zero shuffle) at any scale."""
    a, b = G.hash_a(200), G.hash_b(200)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "500000 + (CAST(substring(source, 4) AS BIGINT) % 4) * 500000"
        ).alias("w_e6"),
        F.expr(f"(({a} * doc_id + {b}) % {G.HASH_P}) % 1000000").alias("h"),
    ).select(
        "doc_id",
        "source",
        "w_e6",
        F.expr("w_e6 DIV 1000000 + IF(h < w_e6 % 1000000, 1, 0)").alias(
            "n_copies"
        ),
    ).filter(F.col("n_copies") > 0)
    return docs.select(
        "doc_id",
        "source",
        F.col("w_e6").cast("bigint").alias("weight_e6"),
        F.explode(F.expr("sequence(1, n_copies)")).alias("copy_id"),
    ).withColumn("copy_id", F.col("copy_id").cast("int"))


def doc_bigram_surprisal(spark, sf_dir):
    """Round-6: corpus-trained bigram surprisal — an integer-exact
    perplexity proxy for quality filtering.  Per-bigram surprisal =
    bitlen(prefix_count div bigram_count) ≈ log2 of the inverse
    conditional probability (log2 quantized, since a float ln() would
    flap across engines); the doc score is the exact integer mean
    ×1e6.  Scale shape: per-doc
    bigram counts FIRST (map-side combine slims every later shuffle),
    corpus counts derived from those (never re-reads text), then two
    shuffle joins on the open-vocabulary bigram key — no broadcast,
    no Python, no arrays carried through any join."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("toks"),
    )
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "arrays_zip(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id", F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2")
        )
    )
    db = bi.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    bc = db.groupBy("w1", "w2").agg(F.sum("tf").alias("bt"))
    uc = bc.groupBy("w1").agg(F.sum("bt").alias("ut"))
    sc = (
        db.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .select(
            "doc_id",
            "tf",
            (F.col("tf") * F.length(F.bin(F.expr("ut DIV bt")))).alias("s"),
        )
    )
    return (
        sc.groupBy("doc_id")
        .agg(F.sum("tf").alias("nb"), F.sum("s").alias("sp"))
        .select(
            "doc_id",
            F.col("nb").cast("bigint").alias("n_bigrams"),
            F.col("sp").cast("bigint").alias("surprisal"),
            F.expr("CAST((1000000 * sp) DIV nb AS BIGINT)").alias(
                "avg_surprisal_e6"
            ),
        )
    )


def doc_chunk(spark, sf_dir):
    """Round-6: overlapping token-window chunking (the RAG /
    context-window prep stage): chunks of 16 tokens at stride 12
    (4-token overlap), n_chunks = 1 + ceil(max(0, n-16)/12) so the
    final partial chunk is kept and no chunk starts past the end.
    Pure per-document explode(sequence) + slice/array_join — map-only
    (zero shuffle) at any corpus size, all JVM-side."""
    docs = _t(spark, sf_dir, "documents")
    C, S = 16, 12
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("toks"),
    ).filter(F.size("toks") >= 1)
    chunks = toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(0, CASE WHEN size(toks) <= {C} THEN 0 "
                f"ELSE (size(toks) - {C} + {S} - 1) DIV {S} END)"
            )
        ).alias("chunk_id"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * S + 1).cast("int").alias("start_tok"),
        F.expr(f"size(slice(toks, chunk_id * {S} + 1, {C}))")
        .cast("int").alias("n_tok"),
        F.expr(f"array_join(slice(toks, chunk_id * {S} + 1, {C}), ' ')")
        .alias("chunk_text"),
    )


def rdf_turtle_bnode_roundtrip(spark, sf_dir):
    """Round-6: Turtle anonymous-bnode property lists "[ p o ; ... ]"
    and collections "( ... )" end-to-end.  Each document row is
    serialized as one statement
        ex:d<id> ex:meta [ ex:lang "<lang>" ; ex:source "<src>" ] ;
                 ex:sig ( <n_chars> true ) .
    sharded into 16 multi-statement documents, re-parsed by the
    document parser (mapInPandas), and aggregated with anon labels
    normalized to "_:" (labels are document-scoped and order-minted;
    the multiset of label-erased triples is the deterministic
    contract).  Exercises: nested bracket under ';', ','-free lists,
    integer/boolean shorthand inside a collection, rdf:nil tail."""
    from . import rdfio

    docs = _t(spark, sf_dir, "documents")
    stmt = F.format_string(
        'ex:d%s ex:meta [ ex:lang "%s" ; ex:source "%s" ] ; '
        "ex:sig ( %s true ) .",
        F.col("doc_id").cast("string"),
        "lang",
        "source",
        F.col("n_chars").cast("string"),
    )
    header = "@prefix ex: <http://example.org/kg#> .\n"
    sharded = (
        docs.select(stmt.alias("line"))
        .withColumn("shard", F.pmod(F.xxhash64("line"), F.lit(16)))
        .groupBy("shard")
        .agg(
            F.concat(
                F.lit(header), F.concat_ws("\n", F.collect_list("line"))
            ).alias("text")
        )
    )
    parsed = rdfio.parse_turtle_docs(sharded)
    norm = lambda c: F.when(  # noqa: E731
        (F.col("o_kind") == "iri") & F.col(c).startswith("_:"), F.lit("_:")
    ).otherwise(F.col(c))
    return (
        parsed.select(
            F.when(F.col("s").startswith("_:"), F.lit("_:"))
            .otherwise(F.col("s")).alias("s"),
            "p",
            norm("o").alias("o"),
            "o_kind",
            "o_lang",
            "o_datatype",
        )
        .groupBy("s", "p", "o", "o_kind", "o_lang", "o_datatype")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# --- round-6c: the shared char-code hash, ASK and DESCRIBE -------------------
def _charcode_expr(col: str) -> str:
    """SQL for the char-level rolling hash of a token column — the
    grammar's charcode(t): fold (31*acc + ascii(c)) % HASH_P over the
    characters.  Pure int64 (31 * (P-1) + 255 < 2^63), identical in
    Spark and DuckDB (list_reduce with a prepended 0 seed)."""
    return (
        f"aggregate(transform(split({col}, ''),"
        " c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT),"
        f" (a, c) -> (a * 31 + c) % {G.HASH_P})"
    )


def kg_sparql_ask(spark, sf_dir):
    """SPARQL ASK through the text front-end (kgspark/sparql.py
    sparql_ask): boolean existence over the KG — one positive probe
    (a filtered two-pattern group) and one vacuous probe, each
    compiling to limit(1) + count > 0 (the scan stops at the first
    match; no full-table aggregate).  Booleans are cast to int for the
    cross-engine hash."""
    from .sparql import sparql_ask

    t = run_pipeline_cached(spark, sf_dir).triples
    yes = sparql_ask(
        t,
        """
        ASK { ?e rdf:type ex:Commerce .
              ?e ex:score ?n .
              FILTER(xsd:integer(?n) >= 2) }
        """,
    )
    no = sparql_ask(t, "ASK { ?e rdf:type ex:NoSuchClass }")
    return yes.select(
        F.lit("commerce_scored").alias("q"), F.col("ask").cast("int").alias("ask")
    ).unionByName(
        no.select(F.lit("nosuch").alias("q"), F.col("ask").cast("int").alias("ask"))
    )


def kg_sparql_describe(spark, sf_dir):
    """SPARQL DESCRIBE through the text front-end (kgspark/sparql.py
    sparql_describe): outgoing-edge description of every resource
    matched by the WHERE group — the solution set's distinct subjects
    semi-joined back against the triple frame (one shuffle, no
    collect)."""
    from .sparql import sparql_describe

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_describe(
        t,
        """
        DESCRIBE ?e WHERE { ?e rdf:type ex:Commerce .
                            ?e ex:score ?n .
                            FILTER(xsd:integer(?n) >= 3) }
        """,
    )


def kg_sparql_isnumeric(spark, sf_dir):
    """Round-6c: isNumeric() over the full-term model — true only for
    objects whose hidden __dt_ carrier holds a numeric xsd datatype
    (the proxy ex:score literals, grammar.DT_INTEGER), never for plain
    literals or IRIs with numeric-looking lexical forms."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?p (COUNT(*) AS ?n)
        WHERE { ?s ?p ?o . FILTER(ISNUMERIC(?o)) }
        GROUP BY ?p ORDER BY ?p
        """,
    )


def kg_sparql_sameterm(spark, sf_dir):
    """Round-6c: sameTerm() — RDF-term identity (lexical + language
    tag + datatype, riding the hidden carriers of both object
    bindings).  Counts ordered co-mention pairs per document: the
    self-join of ex:mentions edges minus the diagonal, i.e.
    m·(m−1) for a document with m distinct mentions."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?d (COUNT(*) AS ?np)
        WHERE { ?d ex:mentions ?a . ?d ex:mentions ?b .
                FILTER(!SAMETERM(?a, ?b)) }
        GROUP BY ?d ORDER BY ?d
        """,
    )


def kg_sparql_encode(spark, sf_dir):
    """Round-6c: ENCODE_FOR_URI over chained BINDs — the mention IRI's
    path remainder (STRAFTER of its STR form) percent-encoded; the
    '/' between source and normalized text becomes %2F.  Later BINDs
    reference earlier BIND targets (sequential withColumn order)."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?d ?enc WHERE {
          ?d ex:mentions ?m .
          BIND(STR(?m) AS ?ms)
          BIND(STRAFTER(?ms, "ex://") AS ?tail)
          BIND(ENCODE_FOR_URI(?tail) AS ?enc)
        }
        """,
    )


def kg_sparql_term_ctors(spark, sf_dir):
    """Round-6c: term-constructor BINDs — STRLANG/STRDT/IRI mint a new
    literal/IRI binding WITH hidden __lang_/__dt_/__kind_ carriers, so
    the downstream LANG()/DATATYPE()/isIRI()/isNumeric() filters
    observe the constructed term, not just its lexical value."""
    from .sparql import sparql_select

    t = kg_triples_full(spark, sf_dir)
    return sparql_select(
        t,
        """
        SELECT ?e ?lab ?score2 WHERE {
          ?e rdfs:label ?l . ?e ex:score ?sc .
          BIND(STRLANG(STR(?l), "x-kg") AS ?lab)
          BIND(STRDT(STR(?sc), xsd:integer) AS ?score2)
          BIND(IRI(STR(?e)) AS ?ei)
          FILTER(LANGMATCHES(LANG(?lab), "x-kg") && ISLITERAL(?lab)
                 && DATATYPE(?score2) = "xsd:integer"
                 && ISNUMERIC(?score2) && ISIRI(?ei))
        }
        """,
    )


def rdf_jsonld_list_roundtrip(spark, sf_dir):
    """Round-6c: JSON-LD ordered collections, label-free roundtrip —
    one compacted document per region carrying the region's nations
    twice: an inline {"@list": […]} of name strings and an
    @list-container term of integer keys.  parse_jsonld_compacted
    builds the rdf:first/rdf:rest chains over document-scoped blank
    nodes; rdfio.unroll_lists walks them back into positional rows, so
    the contract compares (s, p, pos, o, o_datatype) with no blank
    label ever surfacing."""
    from . import rdfio

    nat = _t(spark, sf_dir, "nation")
    per_region = nat.groupBy("n_regionkey").agg(
        F.sort_array(
            F.collect_list(F.struct("n_nationkey", "n_name"))
        ).alias("ns")
    )
    names = F.concat_ws(
        ",", F.transform("ns", lambda x: F.concat(F.lit('"'), x["n_name"], F.lit('"')))
    )
    keys = F.concat_ws(
        ",", F.transform("ns", lambda x: x["n_nationkey"].cast("string"))
    )
    docs = per_region.select(
        F.concat(
            F.lit('{"@context": {"ex": "http://example.org/kg#",'
                  ' "natkeys": {"@id": "http://example.org/kg#natkeys",'
                  ' "@container": "@list"}},'
                  ' "@id": "ex:region'),
            F.col("n_regionkey").cast("string"),
            F.lit('", "ex:natnames": {"@list": ['),
            names,
            F.lit(']}, "natkeys": ['),
            keys,
            F.lit("]}"),
        ).alias("text")
    )
    parsed = rdfio.parse_jsonld_compacted(docs, scope_bnodes=True)
    return rdfio.unroll_lists(parsed).select(
        "s", "p", "pos", "o", "o_datatype"
    )


def kg_label_index(spark, sf_dir):
    """Round-6c: label SEARCH-INDEX build (O7 extension — the
    entities/attrs index sink as an inverted index): label token →
    (n_entities, order-insensitive id-hash checksum over the posting
    list).  The checksum pins the posting CONTENT without shipping the
    list through the contract: sum of each entity id's rolling char
    hash mod FP_MOD — commutative, so partitioning-invariant and
    replayable in SQL."""
    attrs = kg_entity_attrs(spark, sf_dir).select("entity_id", "label")
    postings = attrs.select(
        "entity_id",
        F.explode(
            F.expr("filter(split(label, ' '), t -> t != '')")
        ).alias("token"),
    ).distinct()
    ehash = (
        "aggregate(split(entity_id, ''), CAST(0 AS BIGINT),"
        f" (acc, c) -> (acc * 31 + ascii(c)) % {G.FP_MOD})"
    )
    return (
        postings.withColumn("eh", F.expr(ehash))
        .groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("n_entities"),
            F.expr(f"CAST(sum(eh) % {G.FP_MOD} AS BIGINT)").alias("postings_hash"),
        )
    )


def doc_surprisal_heldout(spark, sf_dir):
    """Round-6c: HELD-OUT bigram surprisal — the methodologically
    correct form of the perplexity quality filter: the language model
    (bigram counts) trains on the even-doc_id half and scores the odd
    half, so no document scores its own statistics (self-scoring bias
    makes duplicated boilerplate look fluent).  Out-of-vocabulary
    bigrams (absent from the train half) are counted per doc
    (n_oov) and excluded from the mean — the e6 average is over scored
    bigrams only; docs whose bigrams are all OOV drop out.  Same
    bitlen quantization and slim per-doc-counts-first plan as
    doc_bigram_surprisal."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("toks"),
    )
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "arrays_zip(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id", F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2")
        )
    )
    db = bi.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    train = db.filter("doc_id % 2 = 0")
    bc = train.groupBy("w1", "w2").agg(F.sum("tf").alias("bt"))
    uc = bc.groupBy("w1").agg(F.sum("bt").alias("ut"))
    held = db.filter("doc_id % 2 = 1")
    sc = (
        held.join(bc, ["w1", "w2"], "left")
        .join(uc, ["w1"], "left")
        .select(
            "doc_id",
            "tf",
            F.when(F.col("bt").isNull(), F.lit(0)).otherwise(F.col("tf")).alias("scored"),
            F.when(F.col("bt").isNull(), F.col("tf")).otherwise(F.lit(0)).alias("oov"),
            F.when(
                F.col("bt").isNull(), F.lit(0)
            ).otherwise(
                F.col("tf") * F.length(F.bin(F.expr("ut DIV bt")))
            ).alias("s"),
        )
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum("oov").cast("bigint").alias("n_oov"),
            F.sum("scored").cast("bigint").alias("n_scored"),
            F.sum("s").alias("sp"),
        )
        .filter(F.col("n_scored") > 0)
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            F.expr("CAST((1000000 * sp) DIV n_scored AS BIGINT)").alias(
                "avg_surprisal_e6"
            ),
        )
    )


def kg_sparql_values(spark, sf_dir):
    """Round-6c: VALUES inline data + MIN/MAX aggregates through the
    text front-end — the parameterized-query form consumers actually
    send (bind the class list, aggregate per class).  VALUES joins as
    a broadcast-able inline frame; MIN/MAX are exact on the integer
    scores."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?t (MIN(?si) AS ?lo) (MAX(?si) AS ?hi) (COUNT(*) AS ?n)
        WHERE { VALUES ?t { ex:Commerce ex:Data }
                ?e rdf:type ?t . ?e ex:score ?s
                BIND(xsd:integer(?s) AS ?si) }
        GROUP BY ?t
        """,
    )


def kg_sparql_path_nps(spark, sf_dir):
    """Round-6c: NEGATED PROPERTY SET path — all outgoing edges of
    Commerce entities EXCEPT rdf:type and ex:score
    (?e !(rdf:type|ex:score) ?o): SPARQL 1.1 §9.1 NPS compiled to one
    predicate-exclusion filter on the forward scan (no closure, no
    join beyond the type restriction) — a filter-pushdown plan at any
    store size."""
    from .sparql import sparql_select

    t = run_pipeline_cached(spark, sf_dir).triples
    return sparql_select(
        t,
        """
        SELECT ?e ?o WHERE {
          ?e rdf:type ex:Commerce .
          ?e !(rdf:type|ex:score) ?o
        }
        """,
    )


def doc_type_token_ratio(spark, sf_dir):
    """Round-6c: TYPE-TOKEN RATIO per document (lexical-diversity
    quality signal — templated/spam text scores low): distinct words /
    words on the e6 integer grid.  Pure per-document map (array
    distinct inside the row) — zero shuffle beyond the scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), t -> t != ''))")
        .cast("bigint")
        .alias("n_tokens"),
        F.expr("size(array_distinct(filter(split(text, ' '), t -> t != '')))")
        .cast("bigint")
        .alias("n_types"),
    ).filter(F.col("n_tokens") > 0).withColumn(
        "ttr_e6", F.expr("CAST((1000000 * n_types) DIV n_tokens AS BIGINT)")
    )


def kg_class_cooccurrence(spark, sf_dir):
    """Round-6c: CLASS-LEVEL CO-OCCURRENCE MATRIX — how often entity
    CLASSES co-occur (the schema-level affinity readout: does Commerce
    cluster with Data?).  The entity-pair frame joins the slim
    (entity, class) table once per side, then one aggregate; class
    pairs are canonicalized (class_a <= class_b) so the matrix is
    upper-triangular with no double counting."""
    pairs = kg_entity_cooccurrence(spark, sf_dir).select(
        "entity_a", "entity_b", "n_docs"
    )
    cls = kg_entity_class(spark, sf_dir).select("entity_id", "class")
    joined = pairs.join(
        cls.select(
            F.col("entity_id").alias("entity_a"), F.col("class").alias("ca")
        ),
        "entity_a",
    ).join(
        cls.select(
            F.col("entity_id").alias("entity_b"), F.col("class").alias("cb")
        ),
        "entity_b",
    )
    return (
        joined.select(
            F.least("ca", "cb").alias("class_a"),
            F.greatest("ca", "cb").alias("class_b"),
            "n_docs",
        )
        .groupBy("class_a", "class_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("n_docs").cast("bigint").alias("n_doc_links"),
        )
    )


def doc_search_topk(spark, sf_dir):
    """Round-6c: TOP-K DOCUMENT SEARCH — BM25-shaped integer scoring
    for a fixed query ('order data table'): score(d) =
    Σ_t tf(t,d) · bitlen(N div df(t)), a log2-quantized idf summed
    over matching query terms; top-10 by (score DESC, doc_id).  Plan:
    the query-term filter prunes the
    postings BEFORE any join (the inverted-index read pattern — at
    100 TB only the 3 query postings lists move), df joins back on the
    3-row term frame (broadcast), two-phase top-k caps the shuffle at
    k rows per partition."""
    QUERY = ["order", "data", "table"]
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        toks.filter(F.col("term").isin(QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = (
        toks.filter(F.col("term").isin(QUERY))
        .select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n")).select("n")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * F.length(F.bin(F.expr("n DIV df")))
            ).cast("bigint").alias("score"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
    )
    local_w = Window.partitionBy("_pid").orderBy(F.desc("score"), F.asc("doc_id"))
    survivors = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= 10)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "score", "n_terms_hit", F.col("rank").cast("int").alias("rank"))
    )


def kg_entity_provenance(spark, sf_dir):
    """Round-6: per-entity provenance summary — for every canonical
    proxy, how many mentions/documents/sources support it and the
    first/last supporting doc (the spindle-style provenance record a
    store consumer uses to audit where a proxy came from).

    Scale shape: one join of mentions to the (norm_text → label) frame,
    one join to the per-label entity ids, then a single groupBy on
    entity_id — all linear in mention count; the distinct-doc/source
    counts are per-group aggregates, never a global distinct."""
    p = run_pipeline_cached(spark, sf_dir)
    eids = p.comps.select("label", "entity_id")
    mm = (
        p.mentions.join(p.labels.withColumnRenamed("node", "norm_text"), "norm_text")
        .withColumnRenamed("label", "root")
        .join(eids.withColumnRenamed("label", "root"), "root")
    )
    return mm.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_mentions"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


def kg_void_summary(spark, sf_dir):
    """Round-6: VoID dataset descriptor (the W3C VoID statistics a
    Twine-style store publishes alongside the graph): triple count,
    distinct subjects / predicates / objects, distinct classes in use
    and entity (proxy) count — one summary row.

    Scale shape: one pass over the distinct triple set; the four
    COUNT(DISTINCT ...) columns are a single expand-aggregate (Spark
    plans multi-distinct via expand, still one shuffle); no driver
    iteration."""
    t = run_pipeline_cached(spark, sf_dir).triples
    return t.agg(
        F.count("*").cast("bigint").alias("n_triples"),
        F.countDistinct("s").cast("bigint").alias("n_subjects"),
        F.countDistinct("p").cast("bigint").alias("n_predicates"),
        F.countDistinct("o").cast("bigint").alias("n_objects"),
        F.countDistinct(
            F.when(F.col("p") == G.P_TYPE, F.col("o"))
        ).cast("bigint").alias("n_classes"),
        F.countDistinct(
            F.when(
                F.col("s").startswith(G.ENTITY_IRI_PREFIX), F.col("s")
            )
        ).cast("bigint").alias("n_entities"),
    )


def kg_graph_hash(spark, sf_dir):
    """Round-6: per-graph canonical content hash — the graph-identity
    primitive behind change detection and replica verification (does
    graph g hold byte-identical content on two stores without shipping
    the triples?).  Each distinct quad renders to its canonical string
    (s|p|o|kind|lang|datatype, NULL fields as '') and folds through the
    grammar's char-level rolling hash; per-graph combine is BIT_XOR —
    commutative and overflow-free, so the hash is independent of
    partitioning, task order, and row order by construction.

    Scale shape: one distinct + one aggregate, both keyed by g; the
    combine is associative so map-side partials apply.  No arrays, no
    driver iteration."""
    q = run_pipeline_cached(spark, sf_dir).quads
    canon = (
        "concat_ws('|', g, s, p, o, o_kind,"
        " coalesce(o_lang, ''), coalesce(o_datatype, ''))"
    )
    return (
        q.select(
            "g",
            F.expr(_charcode_expr(canon)).alias("h"),
        )
        .distinct()
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n_quads"),
            F.expr("bit_xor(h)").cast("bigint").alias("graph_hash"),
        )
    )


def doc_zorder_key(spark, sf_dir):
    """Round-6: Z-ORDER (Morton) export layout key — the
    multidimensional clustering trick warehouse layouts use so range
    predicates on EITHER dimension prune file-level min/max zones.
    Two 4-bit bucket codes per document — language bucket
    (charcode(lang) mod 16) and log2 length bucket (bitlen(n_chars)
    capped at 15) — bit-interleave into one 8-bit z-key; writing the
    corpus sorted/partitioned by zkey co-locates documents that agree
    on both dimensions.  Pure per-row integer arithmetic with literal
    shift counts: map-only, zero shuffle, identical in both engines."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.expr(_charcode_expr("lang")) % 16).cast("bigint").alias("lang_b"),
        F.least(
            F.length(F.bin(F.col("n_chars"))).cast("bigint"), F.lit(15)
        ).alias("len_b"),
    )
    z = None
    for k in range(4):
        hi = F.expr(f"(shiftright(len_b, {k}) & 1) * {1 << (2 * k + 1)}")
        lo = F.expr(f"(shiftright(lang_b, {k}) & 1) * {1 << (2 * k)}")
        z = hi + lo if z is None else z + hi + lo
    return base.select(
        "doc_id", "lang_b", "len_b", z.cast("bigint").alias("zkey")
    )


def kg_store_merge(spark, sf_dir):
    """Round-6: DataFrame-level CDC MERGE into the store
    (rdfio.merge_quads — the Delta-style upsert surface; SPARQL
    INSERT/DELETE DATA covers driver-typed ground quads, this covers
    the pipeline-emitted arbitrarily-large delta frame).  Build a
    per-region nation store, merge one delta that exercises every
    semantic branch — retract existing rows (even nation keys), retract
    an absent quad (no-op), add a duplicate of a surviving quad
    (no-op), add new quads (every 5th key), and add into a graph the
    store has never seen — then read the end state back.  The oracle
    recomputes (base \\ retracts) ∪ adds in DuckDB."""
    import tempfile

    from . import rdfio

    nat = _t(spark, sf_dir, "nation")
    quads = nat.select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    store = tempfile.mkdtemp(prefix="kgspark_merge_")
    rdfio.write_nquads_store(quads, store)

    retracts = quads.filter(
        F.expr("CAST(substring(s, 7) AS BIGINT) % 2 = 0")
    ).withColumn("op", F.lit("retract"))
    ghost = spark.range(1).select(
        F.lit("ex:reg0").alias("g"), F.lit("ex:nat999").alias("s"),
        F.lit("ex:name").alias("p"), F.lit("NOWHERE").alias("o"),
        F.lit("literal").alias("o_kind"), F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"), F.lit("retract").alias("op"),
    )
    dup = quads.filter(F.col("s") == "ex:nat1").withColumn(
        "op", F.lit("add")
    )
    news = nat.filter(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:upd").alias("p"),
        F.concat(F.lit("v"), F.col("n_nationkey").cast("string")).alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    ).withColumn("op", F.lit("add"))
    fresh = spark.range(1).select(
        F.lit("ex:regnew").alias("g"), F.lit("ex:meta").alias("s"),
        F.lit("ex:created").alias("p"), F.lit("true").alias("o"),
        F.lit("literal").alias("o_kind"), F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"), F.lit("add").alias("op"),
    )
    delta = retracts.unionByName(ghost).unionByName(dup) \
        .unionByName(news).unionByName(fresh)
    rdfio.merge_quads(spark, delta, store)
    return rdfio.read_nquads_store(spark, store).select("g", "s", "p", "o")


def kg_component_size_hist(spark, sf_dir):
    """Round-6: sameAs-component SIZE DISTRIBUTION — the CC
    observability readout (the number every KG-construction operator
    dashboard watches: a forming giant component shows up here as a
    high bucket long before the closure query melts down).  Bucket =
    bitlen(component size), so bucket k holds sizes in [2^(k-1), 2^k);
    emits component and node counts per bucket.  Linear: one CC label
    aggregate + one bucket aggregate, nothing pairwise."""
    from . import cc as cc_mod

    t = run_pipeline_cached(spark, sf_dir).triples
    e = t.filter(F.col("p") == "owl:sameAs").select(
        F.col("s").alias("norm_a"), F.col("o").alias("norm_b")
    )
    nodes = (
        e.select(F.col("norm_a").alias("node"))
        .unionByName(e.select(F.col("norm_b").alias("node")))
        .distinct()
    )
    labels = cc_mod.connected_components(e, nodes)
    sizes = labels.groupBy("label").agg(F.count("*").alias("size"))
    return (
        sizes.select(
            F.length(F.bin(F.col("size"))).cast("int").alias("bucket"),
            "size",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_components"),
            F.sum("size").cast("bigint").alias("n_nodes"),
        )
    )


def kg_store_diff(spark, sf_dir):
    """Round-6: two-store ANTI-ENTROPY DIFF (rdfio.store_diff — the
    replica-repair readout that closes the hash → diff → merge
    replication loop): store A = per-region nation graphs; store B =
    A after a merge that empties reg1 (→ only_a), updates reg3
    (→ changed), and creates regnew (→ only_b); every other region
    graph compares equal WITHOUT its triples ever being shipped —
    the diff exchanges one (graph, count, hash) row per graph."""
    import tempfile

    from . import rdfio

    nat = _t(spark, sf_dir, "nation")
    quads = nat.select(
        F.concat(F.lit("ex:reg"), F.col("n_regionkey").cast("string")).alias("g"),
        F.concat(F.lit("ex:nat"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("ex:name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"),
    )
    store_a = tempfile.mkdtemp(prefix="kgspark_diff_a_")
    store_b = tempfile.mkdtemp(prefix="kgspark_diff_b_")
    rdfio.write_nquads_store(quads, store_a)
    rdfio.write_nquads_store(quads, store_b)
    retract_reg1 = quads.filter(F.col("g") == "ex:reg1").withColumn(
        "op", F.lit("retract")
    )
    upd_reg3 = spark.range(1).select(
        F.lit("ex:reg3").alias("g"), F.lit("ex:meta").alias("s"),
        F.lit("ex:touched").alias("p"), F.lit("yes").alias("o"),
        F.lit("literal").alias("o_kind"), F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"), F.lit("add").alias("op"),
    )
    fresh = spark.range(1).select(
        F.lit("ex:regnew").alias("g"), F.lit("ex:meta").alias("s"),
        F.lit("ex:created").alias("p"), F.lit("true").alias("o"),
        F.lit("literal").alias("o_kind"), F.lit("").alias("o_lang"),
        F.lit("").alias("o_datatype"), F.lit("add").alias("op"),
    )
    rdfio.merge_quads(
        spark, retract_reg1.unionByName(upd_reg3).unionByName(fresh), store_b
    )
    return rdfio.store_diff(spark, store_a, store_b)


def kg_parse_error_stats(spark, sf_dir):
    """Round-6: INGEST ERROR OBSERVABILITY — the drop-rate metric over
    the quarantine policy (the parse kernels silently drop malformed
    lines; production ingest needs that rate on a dashboard, not
    silent).  Build N-Quads text from the nation table, deterministically
    corrupt the lines of every 7th nation key, run the real
    mapInPandas N-Quads parser, and report total / parsed / dropped /
    drop-rate-e6 in one row.  The oracle recomputes the same counts
    arithmetically — pinning that the parser drops EXACTLY the
    malformed lines, no more, no fewer."""
    from . import rdfio

    nat = _t(spark, sf_dir, "nation")
    good = F.concat(
        F.lit("<http://ex/nat"), F.col("n_nationkey").cast("string"),
        F.lit("> <http://ex/name> \""), F.col("n_name"),
        F.lit("\" <http://ex/reg"), F.col("n_regionkey").cast("string"),
        F.lit("> ."),
    )
    lines = nat.select(
        F.when(F.col("n_nationkey") % 7 == 0, F.lit("<bad"))
        .otherwise(good)
        .alias("line")
    ).localCheckpoint(eager=False)
    parsed = rdfio.parse_nquads(lines)
    totals = lines.agg(F.count("*").cast("bigint").alias("n_lines"))
    ok = parsed.agg(F.count("*").cast("bigint").alias("n_parsed"))
    return (
        totals.crossJoin(ok)
        .selectExpr(
            "n_lines",
            "n_parsed",
            "CAST(n_lines - n_parsed AS BIGINT) AS n_dropped",
            "CAST((n_lines - n_parsed) * 1000000 DIV n_lines AS BIGINT)"
            " AS drop_rate_e6",
        )
    )


def kg_attr_coverage(spark, sf_dir):
    """Round-6: KG COMPLETENESS metric — per-predicate coverage of the
    property index: for each target predicate, how many entities carry
    a value and what fraction of the full entity set that is (e6
    grid).  The quality readout a KG build publishes per release
    (dropping coverage on a predicate flags an upstream rule or
    extraction regression).  Linear: one aggregate over the property
    index + the (1-row) entity count broadcast."""
    p = run_pipeline_cached(spark, sf_dir)
    props = p.entity_props
    n_entities = (
        p.comps
        .agg(F.count("*").cast("bigint").alias("n_entities"))
    )
    per_pred = props.groupBy("pred").agg(
        F.count_distinct("entity_id").cast("bigint").alias("n_with_value")
    )
    return per_pred.join(F.broadcast(n_entities)).selectExpr(
        "pred",
        "n_with_value",
        "n_entities",
        "CAST(n_with_value * 1000000 DIV n_entities AS BIGINT)"
        " AS coverage_e6",
    )


def kg_label_collisions(spark, sf_dir):
    """Round-6: NEAR-NAME AMBIGUITY metric — distinct entities whose
    display labels share a 4-char prefix (exact-label collisions are
    structurally impossible here: CC canonicalization mints one entity
    per normalized name, verified by this query's development — so the
    actionable readout is the near-name group feeding a human
    disambiguation queue).  One aggregate over the attrs index,
    collision groups only."""
    attrs = run_pipeline_cached(spark, sf_dir).entity_attrs
    return (
        attrs.select(
            F.expr("substring(label, 1, 4)").alias("label_prefix"),
            "entity_id",
        )
        .groupBy("label_prefix")
        .agg(F.count_distinct("entity_id").cast("bigint").alias("n_entities"))
        .filter(F.col("n_entities") > 1)
    )


def doc_prefix_dup_groups(spark, sf_dir):
    """Round-6: PREFIX-DUPLICATE detection — documents sharing an
    identical first-200-char prefix (the truncation-duplicate class
    exact whole-text dedup misses: one copy cut off mid-stream, a
    retry that appended).  Group key is the charcode rolling hash of
    the prefix — slim BIGINT rows through the shuffle, never text —
    and groups publish size + min doc id (the keeper rule).  Linear;
    collision groups only."""
    docs = _t(spark, sf_dir, "documents")
    pref = docs.select(
        "doc_id",
        F.expr(_charcode_expr("substring(text, 1, 200)")).alias("pcode"),
    )
    return (
        pref.groupBy("pcode")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )
