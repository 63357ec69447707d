"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``kgspark`` package; this module is the
thin binding.  Column names/types are aligned pairwise between each
Spark builder (kgspark/queries.py) and its DuckDB SQL
(kgspark/oracle_sql.py); floats are emitted as floor(1e6*x) BIGINT on
both sides, timestamps as unix micros.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kgspark import oracle_sql as OS
from kgspark import queries as Q

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full KG-construction pipeline on sf0.001 —
    documents → interleaved spans → mention extraction → LSH-blocked
    link scoring → connected components → canonical entities → the
    final distinct (s,p,o) triple set."""
    from kgspark.pipeline import run_pipeline

    return run_pipeline(spark, SF_SMOKE).triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline (SURVEY.md §2.2/§2.4/§2.5; BASELINE.json north_star)
        "kg_spans_flat": Q.kg_spans_flat,           # O13/O29 span synthesis
        "kg_span_invariant": Q.kg_span_invariant,   # BASELINE.json:15
        "kg_mentions": Q.kg_mentions,               # O14 mapInPandas kernel
        "kg_mention_counts": Q.kg_mention_counts,   # O26
        "kg_link_edges": Q.kg_link_edges,           # O21+O22
        "kg_entities": Q.kg_entities,               # O20+O34
        "kg_entity_attrs": Q.kg_entity_attrs,       # O24/O25/O28 + O7
        "kg_triples": Q.kg_triples,                 # end-to-end (flagship)
        "kg_triples_full": Q.kg_triples_full,       # D3 full term model
        "kg_graph_counts": Q.kg_graph_counts,       # D4 named graphs
        "kg_entity_class": Q.kg_entity_class,       # O25 rulebase classes
        "kg_entity_props": Q.kg_entity_props,       # O24 property rulebase (r3)
        "kg_props_triples": Q.kg_props_triples,     # D7→D3 props as triples (r3)
        "kg_entity_cooccurrence": Q.kg_entity_cooccurrence,  # entity graph edges (r3)
        "kg_bgp_match": Q.kg_bgp_match,             # SPARQL BGP over triples (r3)
        "kg_bgp_optional": Q.kg_bgp_optional,       # SPARQL OPTIONAL (r3)
        "kg_bgp_filter": Q.kg_bgp_filter,           # SPARQL FILTER+SELECT DISTINCT (r4)
        "kg_bgp_union": Q.kg_bgp_union,             # SPARQL UNION (r4)
        "kg_sameas_closure": Q.kg_sameas_closure,   # property path (sameAs|^sameAs)+ (r4)
        "kg_sameas_degree": Q.kg_sameas_degree,     # closure degree, linear form (r4)
        "kg_entity_media": Q.kg_entity_media,       # license/media selection rules (r4)
        "kg_media_triples": Q.kg_media_triples,     # D7→D3 license/media triples (r4)
        "kg_sparql_topk": Q.kg_sparql_topk,         # SPARQL text front-end (r4)
        "kg_sparql_construct": Q.kg_sparql_construct,  # SPARQL CONSTRUCT (r4)
        "kg_sparql_groupby": Q.kg_sparql_groupby,      # SPARQL GROUP BY agg (r4)
        "kg_sparql_lang": Q.kg_sparql_lang,            # SPARQL LANG() filter (r4)
        "kg_sparql_graph": Q.kg_sparql_graph,          # SPARQL GRAPH clause (r4)
        "kg_sparql_path_seq": Q.kg_sparql_path_seq,    # sequence path p1/p2 (r5)
        "kg_sparql_path_star": Q.kg_sparql_path_star,  # zero-or-more path (r5)
        "kg_sparql_subquery": Q.kg_sparql_subquery,    # { SELECT … } subquery (r5)
        "kg_sparql_union_nested": Q.kg_sparql_union_nested,  # nested-group UNION (r5)
        "kg_sparql_avg": Q.kg_sparql_avg,              # AVG sum/count e6 bridge (r5)
        "kg_sparql_optional_filter": Q.kg_sparql_optional_filter,  # OPTIONAL{FILTER}+COALESCE (r5)
        "kg_sparql_group_concat": Q.kg_sparql_group_concat,  # GROUP_CONCAT/SAMPLE (r5)
        "kg_sparql_update": Q.kg_sparql_update,        # UPDATE verbs on the store (r6)
        "kg_sparql_modify": Q.kg_sparql_modify,        # DELETE/INSERT…WHERE (r6)
        "kg_sparql_select_expr": Q.kg_sparql_select_expr,  # (expr AS ?v) + ORDER BY expr (r6)
        "kg_sparql_optional_exists": Q.kg_sparql_optional_exists,  # null-compat EXISTS (r6)
        "kg_sparql_builtins": Q.kg_sparql_builtins,    # scalar-builtin surface (r6)
        "kg_sparql_term_fns": Q.kg_sparql_term_fns,    # isIRI/LANGMATCHES (r6)
        "kg_sparql_isnumeric": Q.kg_sparql_isnumeric,  # numeric-datatype test (r6c)
        "kg_sparql_sameterm": Q.kg_sparql_sameterm,    # RDF-term identity (r6c)
        "kg_sparql_encode": Q.kg_sparql_encode,        # ENCODE_FOR_URI chain (r6c)
        "kg_sparql_term_ctors": Q.kg_sparql_term_ctors,  # STRLANG/STRDT/IRI (r6c)
        "kg_sparql_construct_where": Q.kg_sparql_construct_where,  # §10.2.2 shorthand (r6)
        "kg_sparql_load": Q.kg_sparql_load,            # LOAD file-ingest verb (r6)
        "kg_sparql_from": Q.kg_sparql_from,            # FROM/FROM NAMED dataset (r6)
        "kg_media_features": Q.kg_media_features,   # O3 multimodal stub
        # TPC-H plan-shape fixtures: pin the optimizer behaviour the session
        # relies on (pushdown, broadcast dims, semi-join, OR splitting)
        "tpch_q1": Q.tpch_q1,                                       # pushdown + pruning
        "revenue_by_nation": Q.revenue_by_nation,                   # broadcast dim join
        "customers_without_orders": Q.customers_without_orders,     # anti-join
        "tpch_q3_topk": Q.tpch_q3_topk,                             # 3-way join + top-k
        "top10_orders": Q.top10_orders,                             # global top-k
        "tpch_q4": Q.tpch_q4,                                       # EXISTS semi-join
        "tpch_q5": Q.tpch_q5,                                       # 6-table star join
        "tpch_q14": Q.tpch_q14,                                     # pushed month filter
        "tpch_q19": Q.tpch_q19,                                     # OR-of-conjunctions join
        # store maintenance, KG quality metrics and corpus layout (r6e)
        "kg_store_merge": Q.kg_store_merge,                         # CDC MERGE upsert into store (r6e)
        "kg_store_diff": Q.kg_store_diff,                           # anti-entropy replica diff (r6e)
        "kg_parse_error_stats": Q.kg_parse_error_stats,             # ingest drop-rate metric (r6e)
        "kg_void_summary": Q.kg_void_summary,                       # VoID dataset stats (r6e)
        "kg_graph_hash": Q.kg_graph_hash,                           # canonical graph hash (r6e)
        "kg_component_size_hist": Q.kg_component_size_hist,         # CC size distribution (r6e)
        "kg_attr_coverage": Q.kg_attr_coverage,                     # KG completeness metric (r6e)
        "kg_label_collisions": Q.kg_label_collisions,               # label ambiguity metric (r6e)
        "doc_prefix_dup_groups": Q.doc_prefix_dup_groups,           # truncation-dup detector (r6e)
        "doc_zorder_key": Q.doc_zorder_key,                         # Morton export layout key (r6e)
        "kg_entity_provenance": Q.kg_entity_provenance,             # proxy provenance audit (r6e)
        # training-data-pipeline operators (text)
        "doc_split_assign": Q.doc_split_assign,             # det. train/val/test (r3)
        "doc_quota_sample": Q.doc_quota_sample,             # balanced per-stratum top-k (r5)
        "doc_resample": Q.doc_resample,                     # source-weighted resampling (r6)
        "doc_bigram_surprisal": Q.doc_bigram_surprisal,     # integer perplexity proxy (r6)
        "doc_chunk": Q.doc_chunk,                           # RAG token-window chunking (r6)
        "rdf_turtle_bnode_roundtrip": Q.rdf_turtle_bnode_roundtrip,  # [ ] / ( ) forms (r6)
        "doc_surprisal_heldout": Q.doc_surprisal_heldout,  # cross-split LM filter (r6c)
        "kg_sparql_values": Q.kg_sparql_values,        # VALUES + MIN/MAX aggs (r6c)
        "kg_sparql_path_nps": Q.kg_sparql_path_nps,    # negated property set (r6c)
        "doc_type_token_ratio": Q.doc_type_token_ratio,  # lexical diversity e6 (r6c)
        "kg_class_cooccurrence": Q.kg_class_cooccurrence,  # schema-level affinity (r6c)
        "kg_label_index": Q.kg_label_index,                    # O7 inverted label index (r6c)
        "doc_search_topk": Q.doc_search_topk,                  # BM25-shaped top-10 search (r6c)
        "kg_sparql_ask": Q.kg_sparql_ask,                    # ASK existence probes (r6)
        "kg_sparql_describe": Q.kg_sparql_describe,          # DESCRIBE outgoing edges (r6)
        "doc_pack_assign": Q.doc_pack_assign,               # sequence packing (r4)
        # RDF serialization round-trips (O9-O11 reference parity)
        "rdf_ntriples_roundtrip": Q.rdf_ntriples_roundtrip,
        "rdf_turtle_roundtrip": Q.rdf_turtle_roundtrip,
        "rdf_turtle_doc_roundtrip": Q.rdf_turtle_doc_roundtrip,  # @prefix doc grammar (r5)
        "rdf_xml_roundtrip": Q.rdf_xml_roundtrip,
        "rdf_jsonld_roundtrip": Q.rdf_jsonld_roundtrip,
        "rdf_jsonld_expanded_roundtrip": Q.rdf_jsonld_expanded_roundtrip,  # expanded profile (r5)
        "rdf_jsonld_compacted_roundtrip": Q.rdf_jsonld_compacted_roundtrip,
        "rdf_jsonld_list_roundtrip": Q.rdf_jsonld_list_roundtrip,  # @list chains + unroll (r6c)
        "xml_transform": Q.xml_transform,           # O12 XSLT-analogue
        "kg_predicate_counts": Q.kg_predicate_counts,
        # graph-carrying quad round-trips (O11 N-Quads/TriG, r3)
        "kg_quads_full": Q.kg_quads_full,           # D4 quad model
        "rdf_nquads_roundtrip": Q.rdf_nquads_roundtrip,
        "rdf_trig_roundtrip": Q.rdf_trig_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    out = {
        "kg_spans_flat": OS.SPANS_SQL,
        "kg_span_invariant": OS.SPAN_INVARIANT_SQL,
        "kg_mentions": OS.MENTIONS_SQL,
        "kg_mention_counts": OS.MENTION_COUNTS_SQL,
        "kg_link_edges": OS.EDGES_SQL,
        "kg_entities": OS.ENTITIES_SQL,
        "kg_entity_attrs": OS.ENTITY_ATTRS_SQL,
        "kg_triples": OS.TRIPLES_SQL,
        "kg_triples_full": OS.TRIPLES_FULL_SQL,
        "kg_graph_counts": OS.GRAPH_COUNTS_SQL,
        "kg_entity_class": OS.ENTITY_CLASS_SQL,
        "kg_entity_props": OS.ENTITY_PROPS_SQL,
        "kg_props_triples": OS.PROPS_TRIPLES_SQL,
        "kg_entity_cooccurrence": OS.ENTITY_COOCCURRENCE_SQL,
        "kg_bgp_match": OS.BGP_MATCH_SQL,
        "kg_bgp_optional": OS.BGP_OPTIONAL_SQL,
        "kg_bgp_filter": OS.BGP_FILTER_SQL,
        "kg_bgp_union": OS.BGP_UNION_SQL,
        "kg_sameas_closure": OS.SAMEAS_CLOSURE_SQL,
        "kg_sameas_degree": OS.SAMEAS_DEGREE_SQL,
        "kg_entity_media": OS.ENTITY_MEDIA_SQL,
        "kg_media_triples": OS.MEDIA_TRIPLES_SQL,
        "kg_sparql_topk": OS.SPARQL_TOPK_SQL,
        "kg_sparql_construct": OS.SPARQL_CONSTRUCT_SQL,
        "kg_sparql_groupby": OS.SPARQL_GROUPBY_SQL,
        "kg_sparql_lang": OS.SPARQL_LANG_SQL,
        "kg_sparql_graph": OS.SPARQL_GRAPH_SQL,
        "kg_sparql_path_seq": OS.SPARQL_PATH_SEQ_SQL,
        "kg_sparql_path_star": OS.SPARQL_PATH_STAR_SQL,
        "kg_sparql_subquery": OS.SPARQL_SUBQUERY_SQL,
        "kg_sparql_union_nested": OS.SPARQL_UNION_NESTED_SQL,
        "kg_sparql_avg": OS.SPARQL_AVG_SQL,
        "kg_sparql_optional_filter": OS.SPARQL_OPTIONAL_FILTER_SQL,
        "kg_sparql_group_concat": OS.SPARQL_GROUP_CONCAT_SQL,
        "kg_sparql_update": OS.KG_SPARQL_UPDATE_SQL,
        "kg_sparql_modify": OS.KG_SPARQL_MODIFY_SQL,
        "kg_sparql_from": OS.KG_SPARQL_FROM_SQL,
        "kg_sparql_select_expr": OS.SPARQL_SELECT_EXPR_SQL,
        "kg_sparql_optional_exists": OS.SPARQL_OPTIONAL_EXISTS_SQL,
        "kg_sparql_builtins": OS.SPARQL_BUILTINS_SQL,
        "kg_sparql_term_fns": OS.SPARQL_TERM_FNS_SQL,
        "kg_sparql_isnumeric": OS.SPARQL_ISNUMERIC_SQL,
        "kg_sparql_sameterm": OS.SPARQL_SAMETERM_SQL,
        "kg_sparql_encode": OS.SPARQL_ENCODE_SQL,
        "kg_sparql_term_ctors": OS.SPARQL_TERM_CTORS_SQL,
        "kg_sparql_construct_where": OS.SPARQL_CONSTRUCT_WHERE_SQL,
        "kg_sparql_load": OS.KG_SPARQL_LOAD_SQL,
        "doc_quota_sample": OS.DOC_QUOTA_SAMPLE_SQL,
        "doc_resample": OS.DOC_RESAMPLE_SQL,
        "doc_bigram_surprisal": OS.DOC_BIGRAM_SURPRISAL_SQL,
        "doc_chunk": OS.DOC_CHUNK_SQL,
        "rdf_turtle_bnode_roundtrip": OS.RDF_TURTLE_BNODE_SQL,
        "doc_surprisal_heldout": OS.DOC_SURPRISAL_HELDOUT_SQL,
        "kg_sparql_values": OS.SPARQL_VALUES_SQL,
        "kg_sparql_path_nps": OS.SPARQL_PATH_NPS_SQL,
        "doc_type_token_ratio": OS.DOC_TTR_SQL,
        "kg_class_cooccurrence": OS.KG_CLASS_COOCC_SQL,
        "kg_label_index": OS.KG_LABEL_INDEX_SQL,
        "doc_search_topk": OS.DOC_SEARCH_TOPK_SQL,
        "kg_void_summary": OS.KG_VOID_SUMMARY_SQL,
        "kg_graph_hash": OS.KG_GRAPH_HASH_SQL,
        "kg_store_merge": OS.KG_STORE_MERGE_SQL,
        "kg_store_diff": OS.KG_STORE_DIFF_SQL,
        "kg_parse_error_stats": OS.KG_PARSE_ERROR_STATS_SQL,
        "kg_attr_coverage": OS.KG_ATTR_COVERAGE_SQL,
        "kg_label_collisions": OS.KG_LABEL_COLLISIONS_SQL,
        "kg_component_size_hist": OS.KG_COMPONENT_SIZE_HIST_SQL,
        "kg_entity_provenance": OS.ENTITY_PROVENANCE_SQL,
        "kg_sparql_ask": OS.SPARQL_ASK_SQL,
        "kg_sparql_describe": OS.SPARQL_DESCRIBE_SQL,
        "kg_media_features": OS.MEDIA_FEATURES_SQL,
        "doc_prefix_dup_groups": OS.DOC_PREFIX_DUP_SQL,
        "doc_zorder_key": OS.DOC_ZORDER_KEY_SQL,
    }
    out.update(
        {
            "doc_split_assign": OS.DOC_SPLIT_SQL,
            "doc_pack_assign": OS.DOC_PACK_SQL,
            # round-trips must reproduce the independent FULL-TERM oracle
            # (lossless including @lang tags and ^^datatypes)
            "rdf_ntriples_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_turtle_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_turtle_doc_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_xml_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_jsonld_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_jsonld_expanded_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_jsonld_compacted_roundtrip": OS.TRIPLES_FULL_SQL,
            "rdf_jsonld_list_roundtrip": OS.JSONLD_LIST_SQL,
            "xml_transform": OS.XML_TRANSFORM_SQL,
            "kg_predicate_counts": OS.PREDICATE_COUNTS_SQL,
            # quad round-trips reproduce the independent QUAD oracle
            # (lossless including the named graph g)
            "kg_quads_full": OS.QUADS_FULL_SQL,
            "rdf_nquads_roundtrip": OS.QUADS_FULL_SQL,
            "rdf_trig_roundtrip": OS.QUADS_FULL_SQL,
        }
    )
    out.update(OS.TPCH_SQL)
    return out
