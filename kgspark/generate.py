"""Generate/materialize stage (SURVEY.md §3.3; spindle-generate
analogue: ``spindle/generate/{generate,props,classes,index}.c`` `[U~]`).

Inputs: mentions + component labels (norm_text → label) from cc.py.
Outputs, all derived from ONE aggregation per component
(``entity_components``):
* ``entities``      — (entity_id, member_iri) membership (D6),
* ``entity_attrs``  — index rows (D7: label via language-preference
  aggregate argmax O24/O28, counts, score),
* ``proxy_triples`` — the proxy graph: owl:sameAs membership, rdf:type,
  rdfs:label (Twine writes these into the spindle root graph).

Deterministic id mint (O34): entity_id = sha256(min member IRI)[:32]
— documented deviation from Twine's random UUID proxies so reruns and
parallelism changes are byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import exprs as X
from . import grammar as G
from .session import local_frame


def _member_iris(mentions: DataFrame, labels: DataFrame) -> DataFrame:
    """One row per distinct (label, norm_text, mention_iri) with the
    IRI's mention count and its best display-label candidate."""
    return (
        mentions.join(labels.withColumnRenamed("node", "norm_text"), "norm_text")
        .groupBy("label", "norm_text", "mention_iri")
        .agg(
            F.count("*").alias("n"),
            F.min(F.struct(X.lang_rank(F.col("lang")).alias("rank"),
                           "norm_text", "lang")).alias("name"),
        )
    )


def entity_components(
    mentions: DataFrame, labels: DataFrame, rules: DataFrame | None = None
) -> DataFrame:
    """One row per component — (label, entity_id, name, name_lang,
    class, n_members, n_mentions) — from a single aggregation over the
    member IRIs:

    * entity_id: minted from the min member IRI (O34);
    * name: min of (LANG_PREF rank, norm_text, lang) over the members'
      mentions (O24/O28; unknown languages rank last, lang asc breaks
      the remaining tie);
    * class: min of (-rule_score, class) over the rules matched by the
      members' first tokens (O25; the rulebase is reduced to its best
      rule per token and broadcast, so a token with several rules
      cannot multiply the counted rows).

    Every other generate output is a projection of this frame, or — the
    membership — a join of it back onto the distinct member IRIs, so no
    per-component member array is ever built."""
    if rules is None:
        rules = rulebase_df(mentions.sparkSession)
    best_rule = rules.groupBy("tok").agg(
        F.min(F.struct(
            (-F.coalesce("rule_score", F.lit(G.DEFAULT_CLASS_SCORE))).alias("neg"),
            F.coalesce("class", F.lit(G.DEFAULT_CLASS)).alias("class"),
        )).alias("rule")
    )
    default_rule = F.struct(F.lit(-G.DEFAULT_CLASS_SCORE).alias("neg"),
                            F.lit(G.DEFAULT_CLASS).alias("class"))
    comps = (
        _member_iris(mentions, labels)
        .withColumn("tok", F.split("norm_text", " ").getItem(0))
        .join(F.broadcast(best_rule), "tok", "left")
        .groupBy("label")
        .agg(
            F.min("mention_iri").alias("min_member"),
            F.count("*").alias("n_members"),
            F.sum("n").alias("n_mentions"),
            F.min("name").alias("name"),
            F.min(F.coalesce("rule", default_rule)).alias("rule"),
        )
    )
    return comps.select(
        "label",
        X.entity_id_from_min_member(F.col("min_member")).alias("entity_id"),
        F.col("name.norm_text").alias("name"),
        F.col("name.lang").alias("name_lang"),
        F.col("rule.class").alias("class"),
        "n_members",
        "n_mentions",
    )


def entity_membership(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """(entity_id, member_iri, label, norm_text) for every distinct
    mention IRI: the member IRIs joined back onto their component."""
    if comps is None:
        comps = entity_components(mentions, labels)
    return _member_iris(mentions, labels).join(
        comps.select("label", "entity_id"), "label"
    ).select(
        "entity_id", F.col("mention_iri").alias("member_iri"), "label", "norm_text"
    )


def entities_df(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    return entity_membership(mentions, labels, comps=comps).select(
        "entity_id", "member_iri"
    )


def entity_attrs_df(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """D7 index rows (one per entity): the component's display label
    and class (spindle index rows carry the proxy's class), member and
    mention counts, score = n_mentions."""
    if comps is None:
        comps = entity_components(mentions, labels)
    return comps.select(
        "entity_id",
        F.col("name").alias("label"),
        F.col("name_lang").alias("label_lang"),
        "class",
        "n_members",
        "n_mentions",
        F.col("n_mentions").alias("score"),
    )


def rulebase_df(spark, ttl_path: str | None = None) -> DataFrame:
    """The D7 class rulebase as a (tiny) DataFrame — broadcast into the
    class-selection join.  With ``ttl_path``, the rules are loaded from
    a rulebase.ttl artifact through the engine's own Turtle parser
    (spindle's config model — see kgspark/rulebase.py); otherwise from
    the grammar constants (identical content, round-trip-tested)."""
    if ttl_path is not None:
        from .rulebase import load_class_rules

        return load_class_rules(spark, ttl_path)
    return local_frame(
        spark, G.CLASS_RULES, "tok string, class string, rule_score int"
    )


def property_rules_df(spark, ttl_path: str | None = None) -> DataFrame:
    """The D7 PROPERTY rulebase as a (tiny) DataFrame — broadcast into
    the per-predicate candidate join (spindle ``props.c`` map analogue).
    With ``ttl_path``, loaded via the engine's Turtle parser."""
    if ttl_path is not None:
        from .rulebase import load_property_rules

        return load_property_rules(spark, ttl_path)
    return local_frame(
        spark, G.PROPERTY_RULES,
        "pred string, shape string, priority int, lang_pref int",
    )


def entity_props(
    mentions: DataFrame,
    labels: DataFrame,
    members: DataFrame | None = None,
    rules: DataFrame | None = None,
) -> DataFrame:
    """O24 FULL D7 form: multi-predicate property selection driven by
    the broadcast PROPERTY_RULES table.  Every member mention
    contributes one candidate row per feature shape; the rulebase join
    attaches (target pred, priority, lang_pref); a single window per
    (entity, pred) picks the winner — priority asc, then LANG_PREF rank
    (only for lang_pref rules), then value asc, then lang asc (total
    order ⇒ deterministic at any parallelism).

    Returns (entity_id, pred, value, value_lang) — one row per entity
    per target predicate.  Scale shape: candidates are slim 4-column
    rows distinct-ed before the 5-row broadcast join; the window
    partitions on (entity_id, pred) — no global sort."""
    if members is None:
        members = entity_components(mentions, labels)
    m = mentions.join(
        labels.withColumnRenamed("node", "norm_text"), "norm_text"
    ).join(members.select("label", "entity_id").distinct(), "label")
    base = m.select("entity_id", "norm_text", "lang", "source")
    ntok = F.size(F.split("norm_text", " "))

    # ONE pass over the membership join: every row emits its 5 shape
    # candidates via a single explode (a union of per-shape branches
    # would replay the mention⋈label⋈member join chain once per shape)
    def sv(name, val):
        return F.struct(F.lit(name).alias("shape"), val.alias("value"))

    shapes_arr = F.array(
        F.when(ntok >= 2, sv("norm_multi", F.col("norm_text"))),
        sv("norm_any", F.col("norm_text")),
        sv("first_token", F.split("norm_text", " ").getItem(0)),
        sv("source", F.col("source")),
        sv("lang", F.col("lang")),
    )
    cands = (
        base.select("entity_id", "lang", F.explode(shapes_arr).alias("c"))
        .filter(F.col("c").isNotNull())
        .select("entity_id", F.col("c.shape").alias("shape"),
                F.col("c.value").alias("value"), "lang")
        .distinct()
    )
    if rules is None:
        rules = property_rules_df(mentions.sparkSession)
    joined = cands.join(F.broadcast(rules), "shape").withColumn(
        "lang_ord",
        F.when(F.col("lang_pref") == 1, X.lang_rank(F.col("lang"))).otherwise(
            F.lit(0)
        ),
    )
    w = Window.partitionBy("entity_id", "pred").orderBy(
        "priority", "lang_ord", "value", "lang"
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "entity_id",
            "pred",
            "value",
            F.when(F.col("lang_pref") == 1, F.col("lang"))
            .otherwise(F.lit(""))
            .alias("value_lang"),
        )
    )


def license_rules_df(spark) -> DataFrame:
    """Spindle ``license.c`` rulebase analogue as a broadcast dim."""
    return local_frame(
        spark, G.LICENSE_RULES,
        "rights_bucket int, license string, lic_rank int",
    )


def media_kind_rules_df(spark) -> DataFrame:
    """Spindle ``media.c`` kind-classification rulebase analogue."""
    return local_frame(
        spark, G.MEDIA_KIND_RULES,
        "kind_bucket int, media_class string, med_rank int",
    )


def entity_media(
    mentions: DataFrame,
    labels: DataFrame,
    flat: DataFrame,
    members: DataFrame | None = None,
    media: DataFrame | None = None,
) -> DataFrame:
    """Per-entity license + representative-media selection — the
    spindle ``license.c`` / ``media.c`` rule families (SURVEY O7/D7
    `[U~]`): rights statements on member documents map through the
    LICENSE_RULES table to a ranked license bucket, media references
    through MEDIA_KIND_RULES to a ranked kind class; one priority
    window per entity picks the winners (rank asc, value asc — total
    order, deterministic at any parallelism).

    Returns (entity_id, license, best_media, media_class); entities
    whose member documents carry no media span bind NULL media (the
    OPTIONAL semantics of the store's hasMedia edge).

    Scale shape: candidates are slim distinct rows before the ≤4-row
    broadcast rule joins; both windows partition on entity_id — no
    global sort, no skew beyond per-entity document counts."""
    if members is None:
        members = entity_components(mentions, labels)
    m = mentions.join(
        labels.withColumnRenamed("node", "norm_text"), "norm_text"
    ).join(members.select("label", "entity_id").distinct(), "label")
    docs = m.select("entity_id", "doc_id", "source").distinct()
    spark = mentions.sparkSession

    src_num = F.regexp_extract("source", "([0-9]+)$", 1).cast("int")
    lic = (
        docs.select(
            "entity_id", (src_num % G.LICENSE_MOD).alias("rights_bucket")
        )
        .distinct()
        .join(F.broadcast(license_rules_df(spark)), "rights_bucket")
    )
    wl = Window.partitionBy("entity_id").orderBy("lic_rank", "license")
    best_lic = (
        lic.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("entity_id", "license")
    )

    if media is None:
        # derive (doc_id, media_ref) from the span frame; callers that
        # can produce the media rows without synthesizing text chunks
        # (fixtures.media_spans_direct) pass ``media`` directly (r7)
        media = (
            flat.filter(F.col("kind") == "media")
            .select("doc_id", "media_ref")
            .distinct()
        )
    med_num = F.regexp_extract("media_ref", "([0-9]+)$", 1).cast("int")
    med = (
        docs.select("entity_id", "doc_id")
        .distinct()
        .join(media, "doc_id")
        .select(
            "entity_id", "media_ref",
            (med_num % G.MEDIA_KIND_MOD).alias("kind_bucket"),
        )
        .distinct()
        .join(F.broadcast(media_kind_rules_df(spark)), "kind_bucket")
    )
    wm = Window.partitionBy("entity_id").orderBy("med_rank", "media_ref")
    best_med = (
        med.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "entity_id",
            F.col("media_ref").alias("best_media"),
            "media_class",
        )
    )
    return best_lic.join(best_med, "entity_id", "left")


def entity_classes(
    mentions: DataFrame,
    labels: DataFrame,
    comps: DataFrame | None = None,
    rules: DataFrame | None = None,
) -> DataFrame:
    """O25 rulebase-driven class per entity: the highest-scoring rule
    matched by a member's first token (aggregate argmax, class asc
    breaks ties — see ``entity_components``).  The rulebase join is a
    BroadcastHashJoin by construction (16-row dimension)."""
    if comps is None:
        comps = entity_components(mentions, labels, rules=rules)
    return comps.select("entity_id", "class")


def proxy_triples_full(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """Proxy-graph triples with the full D3 term model
    (s, p, o, o_kind, o_lang, o_datatype):

    * ``owl:sameAs``  member links            (IRI objects)
    * ``rdf:type``    rulebase-selected class (IRI; O25)
    * ``rdfs:label``  lang-TAGGED literal — the selected label's
                      language rides as the literal's @lang tag
    * ``ex:score``    xsd:integer-datatyped literal (spindle index
                      score analogue)

    Already a set, with no dedup: one sameAs row per distinct member
    IRI, and one row per other predicate per component.  ``comps``
    lets the caller share one ``entity_components`` frame."""
    if comps is None:
        comps = entity_components(mentions, labels)

    def term(p, o, kind, lang=F.lit(""), dtype=""):
        return F.struct(F.lit(p).alias("p"), o.alias("o"), F.lit(kind).alias("o_kind"),
                        lang.alias("o_lang"), F.lit(dtype).alias("o_datatype"))

    same_as = entity_membership(mentions, labels, comps=comps).select(
        F.col("entity_id").alias("s"),
        term(G.P_SAME_AS, F.col("member_iri"), "iri").alias("t"),
    )
    per_entity = comps.select(
        F.col("entity_id").alias("s"),
        F.explode(F.array(
            term(G.P_TYPE, F.col("class"), "iri"),
            term(G.P_LABEL, F.col("name"), "literal", lang=F.col("name_lang")),
            term(G.P_SCORE, F.col("n_mentions").cast("string"), "literal",
                 dtype=G.DT_INTEGER),
        )).alias("t"),
    )
    return same_as.unionByName(per_entity).select("s", "t.*")


def proxy_triples(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """Graph-agnostic (s,p,o) view of the proxy triples — still a set:
    the term columns dropped are a function of (s, p)."""
    return proxy_triples_full(mentions, labels, comps=comps).select("s", "p", "o")


def proxy_quads(
    mentions: DataFrame, labels: DataFrame, comps: DataFrame | None = None
) -> DataFrame:
    """Proxy triples in the spindle ROOT graph (D4): generated proxy
    descriptions all live in one named graph, distinct from the
    per-document source graphs.  Full term model."""
    return proxy_triples_full(mentions, labels, comps=comps).select(
        F.lit(G.ROOT_GRAPH).alias("g"),
        "s", "p", "o", "o_kind", "o_lang", "o_datatype",
    )


def graph_diff_by_g(
    new_quads: DataFrame, old_quads: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """D4 per-NAMED-GRAPH diff: (added, removed, dirty_graphs).  The
    twine_graph old/new pair at graph granularity — ``dirty_graphs``
    (1-col ``g``) is the trigger set for incremental regeneration:
    only documents whose graph changed need their downstream entities
    reprocessed (feed into ``incremental_entities``)."""
    cols = [c for c in new_quads.columns if c in old_quads.columns]
    added = new_quads.select(*cols).exceptAll(old_quads.select(*cols))
    removed = old_quads.select(*cols).exceptAll(new_quads.select(*cols))
    dirty = (
        added.select("g").unionByName(removed.select("g")).distinct()
    )
    return added, removed, dirty


def incremental_entities(
    prior_mentions: DataFrame,
    prior_labels: DataFrame,
    prior_attrs: DataFrame,
    mentions_all: DataFrame,
    labels_all: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spindle trigger semantics (O32) for the D7 attrs index — see
    ``_incremental_index`` for the shared trigger machinery."""
    return _incremental_index(
        prior_mentions, prior_labels, prior_attrs,
        mentions_all, labels_all, entity_attrs_df,
    )


def incremental_props(
    prior_mentions: DataFrame,
    prior_labels: DataFrame,
    prior_props: DataFrame,
    mentions_all: DataFrame,
    labels_all: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental regeneration of the multi-predicate property index
    (O24 full form) under the same spindle-trigger semantics as the
    attrs index: only changed components' (entity_id, pred) rows are
    recomputed; the merged table equals a from-scratch
    ``entity_props`` run (tested)."""
    return _incremental_index(
        prior_mentions, prior_labels, prior_props,
        mentions_all, labels_all, entity_props,
    )


def incremental_media(
    prior_mentions: DataFrame,
    prior_labels: DataFrame,
    prior_media: DataFrame,
    mentions_all: DataFrame,
    labels_all: DataFrame,
    flat_all: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental regeneration of the license/media selection index
    (spindle license.c/media.c analogue) under the same trigger
    semantics as attrs/props: the index is entity_id-keyed, so only
    changed components' rows are recomputed; the merged table equals a
    from-scratch ``entity_media`` run (tested).  ``flat_all`` supplies
    the media spans — regeneration restricts them via the changed
    components' member mentions inside entity_media's own joins."""
    return _incremental_index(
        prior_mentions, prior_labels, prior_media,
        mentions_all, labels_all,
        lambda m, l: entity_media(m, l, flat_all),
    )


def _incremental_index(
    prior_mentions: DataFrame,
    prior_labels: DataFrame,
    prior_rows: DataFrame,
    mentions_all: DataFrame,
    labels_all: DataFrame,
    regen,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spindle trigger semantics (O32; spindle ``triggers`` table
    `[U~]`): after a batch updates the coref graph, regenerate ONLY the
    entities whose component changed and retire the index rows of prior
    components that moved/merged; every untouched prior row is kept
    as-is (never recomputed).  Generic over any entity_id-keyed index
    table — ``regen(mentions, labels) -> DataFrame`` recomputes the
    changed components' rows (attrs, props, …).

    A node is *affected* when its label changed or it is new; an
    affected node touches BOTH its prior component (which must be
    retired — it may have merged away entirely) and its new component
    (which must be regenerated).

    Returns (changed_roots, new_rows, final_rows); final_rows equals
    a from-scratch ``regen`` over all data (tested), while only the
    changed components' rows were computed.
    """
    p = prior_labels.select(F.col("node"), F.col("label").alias("prior_label"))
    cur = labels_all.select("node", "label")
    affected = cur.join(p, "node", "left").filter(
        F.col("prior_label").isNull() | (F.col("prior_label") != F.col("label"))
    )
    # also count mention-multiplicity changes of existing nodes: any node
    # present in the new batch's mentions is affected (its counts change)
    new_mention_nodes = (
        mentions_all.join(prior_mentions, ["doc_id", "span_pos", "mention_ord"], "left_anti")
        .select(F.col("norm_text").alias("node"))
        .distinct()
        .join(cur, "node")
        .join(p, "node", "left")
    )
    affected = affected.unionByName(new_mention_nodes).distinct()

    changed_roots = affected.select("label").distinct()
    # retire: (a) prior components an affected node LEFT, and (b) prior
    # components an affected (possibly brand-new) node JOINED — the
    # latter share their label with a changed root, since an unchanged-
    # membership component keeps its (min-member) label
    stale_prior_roots = (
        affected.filter(F.col("prior_label").isNotNull())
        .select(F.col("prior_label").alias("label"))
        .unionByName(
            prior_labels.select("label").distinct().join(
                changed_roots, "label", "left_semi"
            )
        )
        .distinct()
    )

    # regenerate the changed components from the full current state
    changed_norms = labels_all.join(changed_roots, "label", "left_semi")
    changed_mentions = mentions_all.join(
        changed_norms.withColumnRenamed("node", "norm_text"),
        "norm_text",
        "left_semi",
    )
    new_rows = regen(changed_mentions, changed_norms)

    # retire prior rows of: (a) regenerated entity ids, (b) prior
    # components that were affected (their eid may have vanished)
    prior_eids = entity_components(prior_mentions, prior_labels).select(
        "label", "entity_id"
    )
    stale_eids = prior_eids.join(stale_prior_roots, "label", "left_semi").select(
        "entity_id"
    )
    untouched = prior_rows.join(
        new_rows.select("entity_id").unionByName(stale_eids).distinct(),
        "entity_id",
        "left_anti",
    )
    final_rows = untouched.unionByName(new_rows)
    return changed_roots, new_rows, final_rows
