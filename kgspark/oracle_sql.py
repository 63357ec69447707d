"""DuckDB oracle-SQL builders for the driver's correctness gate.

Every SQL string here re-states, in DuckDB's dialect, the exact
deterministic spec from grammar.py that the Spark pipeline implements —
a third independent implementation (after the Spark engine and the
pure-pandas oracle).  The driver runs these side-by-side with
``queries()`` at sf0.01 and compares row-count + schema +
order-insensitive value hash.

Conventions for cross-engine hash equality:
* float outputs are emitted as ``floor(1e6 * x)`` BIGINT in BOTH
  engines (raw doubles never hash-compare);
* every computed column is aliased identically on both sides;
* all hashes are explicit int64 arithmetic (no engine hash builtins).

Tables referenced are the driver's pre-registered views: nation
documents embeddings.
"""

from __future__ import annotations

from . import grammar as G

# ---------------------------------------------------------------------------
# Interleaved spans (mirrors kgspark.fixtures.SPANS_EXPR exactly).
# ---------------------------------------------------------------------------
C = G.CHUNK_TOKENS

SPANS_CTE = f"""
doc_toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, source,
         string_split(text, ' ') AS toks,
         'media://vec/' || CAST(doc_id % {G.MEDIA_MOD} AS VARCHAR) AS mref
  FROM documents
),
chunks AS MATERIALIZED (
  SELECT doc_id, lang, source, mref, k,
         array_to_string(list_slice(toks, {C}*k + 1, {C}*k + {C}), ' ') AS chunk,
         CASE WHEN k = 0 THEN 0
              ELSE length(array_to_string(list_slice(toks, 1, {C}*k), ' ')) + 1
         END AS off
  FROM doc_toks,
       UNNEST(generate_series(0, CAST(ceil(len(toks) / {C}.0) AS INT) - 1)) AS t(k)
),
spans AS (
  SELECT doc_id, lang, source, 2*k + seq AS ord,
         CASE WHEN seq = 0 THEN 'text' ELSE 'media' END AS kind,
         CASE WHEN seq = 0 THEN chunk ELSE '' END AS text,
         CASE WHEN seq = 0 THEN '' ELSE mref END AS media_ref,
         CASE WHEN seq = 0 THEN off ELSE off + length(chunk) END AS "offset"
  FROM chunks, UNNEST([0, 1]) AS u(seq)
  WHERE seq = 0 OR (k + 1) % {G.MEDIA_EVERY} = 0
),
spans_pos AS MATERIALIZED (
  SELECT doc_id, lang, source,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT)
           AS span_pos,
         kind, text, media_ref, CAST("offset" AS INT) AS "offset"
  FROM spans
)
"""

SPANS_SQL = f"""
WITH {SPANS_CTE}
SELECT doc_id, span_pos, kind, text, media_ref, "offset"
FROM spans_pos
ORDER BY doc_id, span_pos
"""

# ---------------------------------------------------------------------------
# Mentions (mirrors processors/text.py kernel).
# ---------------------------------------------------------------------------
_PAT = G.MENTION_PATTERN

MENTIONS_CTE = f"""
runs AS (
  SELECT doc_id, lang, source, span_pos,
         regexp_extract_all(' ' || text || ' ', '{_PAT}', 1) AS ms
  FROM spans_pos WHERE kind = 'text'
),
mentions AS MATERIALIZED (
  SELECT doc_id, lang, source, span_pos,
         CAST(generate_subscripts(ms, 1) - 1 AS INT) AS mention_ord,
         unnest(ms) AS mention_text,
         unnest(ms) AS norm_text,
         '{G.MENTION_IRI_PREFIX}' || source || '/' || replace(unnest(ms), ' ', '_')
           AS mention_iri
  FROM runs
)
"""

MENTIONS_SQL = f"""
WITH {SPANS_CTE}, {MENTIONS_CTE}
SELECT doc_id, lang, source, span_pos, mention_ord, mention_text,
       norm_text, mention_iri
FROM mentions
ORDER BY doc_id, span_pos, mention_ord
"""

# ---------------------------------------------------------------------------
# Linking: distinct norms → token-block candidates → Jaccard/cosine scores
# (mirrors kgspark.link).
# ---------------------------------------------------------------------------
_TOKCODE = "(ascii(substr(t,1,1))*65536 + ascii(substr(t,2,1))*256 + length(t))::BIGINT"

NORMS_CTE = f"""
norms AS (SELECT DISTINCT norm_text AS norm FROM mentions),
ntok AS MATERIALIZED (
  SELECT norm,
         list_distinct(string_split(norm, ' ')) AS tokset,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split(norm, ' '), t -> {_TOKCODE})),
           (a, b) -> (a*31 + b) % {G.FP_MOD}
         ) % (SELECT count(*) FROM embeddings) AS vec_id
  FROM norms
)
"""

EDGES_CTE = f"""
inv AS (SELECT norm, unnest(tokset) AS tok FROM ntok),
cand AS MATERIALIZED (
  SELECT a.norm AS norm_a, b.norm AS norm_b
  FROM inv a JOIN inv b ON a.tok = b.tok AND a.norm < b.norm
  GROUP BY 1, 2
),
scored AS MATERIALIZED (
  SELECT norm_a, norm_b,
         len(list_intersect(na.tokset, nb.tokset))::DOUBLE
           / len(list_distinct(na.tokset || nb.tokset)) AS jaccard,
         CASE WHEN na.vec_id = nb.vec_id THEN 1.0
              ELSE list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[])
         END AS cosine
  FROM cand
  JOIN ntok na ON cand.norm_a = na.norm
  JOIN ntok nb ON cand.norm_b = nb.norm
  JOIN embeddings ea ON ea.vec_id = na.vec_id
  JOIN embeddings eb ON eb.vec_id = nb.vec_id
),
edges AS MATERIALIZED (
  SELECT * FROM scored
  WHERE jaccard >= {G.JACCARD_TAU}
     OR (jaccard >= {G.COSINE_JACCARD_MIN} AND cosine >= {G.COSINE_TAU})
)
"""

EDGES_SQL = f"""
WITH {SPANS_CTE}, {MENTIONS_CTE}, {NORMS_CTE}, {EDGES_CTE}
SELECT norm_a, norm_b,
       CAST(floor(1e6 * jaccard) AS BIGINT) AS jaccard_e6,
       CAST(round(1e6 * cosine) AS BIGINT) AS cosine_e6
FROM edges ORDER BY norm_a, norm_b
"""

# ---------------------------------------------------------------------------
# Connected components (recursive min-label closure) → entities / attrs /
# proxy triples (mirrors kgspark.cc + kgspark.generate).
# ---------------------------------------------------------------------------
CC_CTE = f"""
bidir AS MATERIALIZED (
  SELECT norm_a AS s, norm_b AS d FROM edges
  UNION
  SELECT norm_b AS s, norm_a AS d FROM edges
),
reach AS (
  SELECT norm AS node, norm AS label FROM norms
  UNION
  SELECT b.d AS node, r.label FROM reach r JOIN bidir b ON b.s = r.node
),
labels AS MATERIALIZED (SELECT node, min(label) AS label FROM reach GROUP BY node)
"""

ENTITIES_CTE = f"""
iris AS MATERIALIZED (SELECT DISTINCT norm_text, mention_iri FROM mentions),
memb AS MATERIALIZED (
  SELECT l.label, i.mention_iri, i.norm_text
  FROM iris i JOIN labels l ON i.norm_text = l.node
),
eids AS MATERIALIZED (
  SELECT label,
         '{G.ENTITY_IRI_PREFIX}' || substr(sha256(min(mention_iri)), 1, 32)
           || '{G.ENTITY_IRI_SUFFIX}' AS entity_id
  FROM memb GROUP BY label
),
entities AS MATERIALIZED (
  SELECT DISTINCT e.entity_id, m.mention_iri AS member_iri
  FROM memb m JOIN eids e USING (label)
)
"""

def _lang_rank_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN '{l}' THEN {i+1}" for i, l in enumerate(G.LANG_PREF)
    )
    return f"CASE {col} {whens} ELSE {len(G.LANG_PREF) + 1} END"

ATTRS_CTE = f"""
mm AS MATERIALIZED (
  SELECT m.*, l.label AS root
  FROM mentions m JOIN labels l ON m.norm_text = l.node
),
counts AS MATERIALIZED (
  SELECT root, count(DISTINCT mention_iri) AS n_members,
         count(*) AS n_mentions
  FROM mm GROUP BY root
),
ranked AS MATERIALIZED (
  SELECT root, norm_text, lang,
         row_number() OVER (
           PARTITION BY root
           ORDER BY {_lang_rank_sql('lang')}, norm_text
         ) AS rn
  FROM (SELECT DISTINCT root, norm_text, lang FROM mm)
),
attrs AS MATERIALIZED (
  SELECT e.entity_id, r.norm_text AS label, r.lang AS label_lang,
         ec.cls AS class, c.n_members, c.n_mentions,
         c.n_mentions AS score
  FROM counts c
  JOIN ranked r ON r.root = c.root AND r.rn = 1
  JOIN eids e ON e.label = c.root
  JOIN eclass ec ON ec.entity_id = e.entity_id
)
"""

# Property rulebase (O24 full D7 form; mirrors generate.entity_props).
_PROP_RULES_ROWS = ", ".join(
    f"('{p}', '{sh}', {pr}, {lp})" for p, sh, pr, lp in G.PROPERTY_RULES
)

PROPS_CTE = f"""
prules(pred, shape, prio, lang_pref) AS (VALUES {_PROP_RULES_ROWS}),
pcand AS MATERIALIZED (
  SELECT DISTINCT entity_id, shape, value, lang FROM (
    SELECT e.entity_id, 'norm_multi' AS shape, mm.norm_text AS value, mm.lang
    FROM mm JOIN eids e ON e.label = mm.root
    WHERE len(string_split(mm.norm_text, ' ')) >= 2
    UNION ALL
    SELECT e.entity_id, 'norm_any', mm.norm_text, mm.lang
    FROM mm JOIN eids e ON e.label = mm.root
    UNION ALL
    SELECT e.entity_id, 'first_token', string_split(mm.norm_text, ' ')[1], mm.lang
    FROM mm JOIN eids e ON e.label = mm.root
    UNION ALL
    SELECT e.entity_id, 'source', mm.source, mm.lang
    FROM mm JOIN eids e ON e.label = mm.root
    UNION ALL
    SELECT e.entity_id, 'lang', mm.lang, mm.lang
    FROM mm JOIN eids e ON e.label = mm.root
  )
),
eprops AS MATERIALIZED (
  SELECT entity_id, pred, value,
         CASE WHEN lang_pref = 1 THEN lang ELSE '' END AS value_lang
  FROM (
    SELECT c.entity_id, r.pred, c.value, c.lang, r.lang_pref,
           row_number() OVER (
             PARTITION BY c.entity_id, r.pred
             ORDER BY r.prio,
                      CASE WHEN r.lang_pref = 1
                           THEN {_lang_rank_sql('c.lang')} ELSE 0 END,
                      c.value, c.lang
           ) AS rn
    FROM pcand c JOIN prules r USING (shape)
  ) WHERE rn = 1
)
"""

# Rulebase class selection (O25; mirrors generate.entity_classes).
_RULES_ROWS = ", ".join(f"('{t}', '{c}', {s})" for t, c, s in G.CLASS_RULES)

ECLASS_CTE = f"""
rules(tok, cls, rscore) AS (VALUES {_RULES_ROWS}),
ecand AS MATERIALIZED (
  SELECT DISTINCT e.entity_id,
         coalesce(r.cls, '{G.DEFAULT_CLASS}') AS cls,
         coalesce(r.rscore, {G.DEFAULT_CLASS_SCORE}) AS rscore
  FROM memb m JOIN eids e USING (label)
  LEFT JOIN rules r ON r.tok = string_split(m.norm_text, ' ')[1]
),
eclass AS MATERIALIZED (
  SELECT entity_id, cls FROM ecand
  QUALIFY row_number() OVER (PARTITION BY entity_id
                             ORDER BY rscore DESC, cls ASC) = 1
)
"""

_KG_CTES = "WITH RECURSIVE " + ", ".join(
    [SPANS_CTE, MENTIONS_CTE, NORMS_CTE, EDGES_CTE, CC_CTE, ENTITIES_CTE,
     ECLASS_CTE, ATTRS_CTE]
)

# The full-term triple union (D3: o_kind/o_lang/o_datatype) — shared by
# the triple, quad-count, predicate-count and round-trip oracles.
_DOC_BRANCHES = f"""
    SELECT '{G.DOC_IRI_PREFIX}' || doc_id AS g,
           '{G.DOC_IRI_PREFIX}' || doc_id AS s, '{G.P_MENTIONS}' AS p,
           mention_iri AS o, 'iri' AS o_kind, '' AS o_lang, '' AS o_datatype
    FROM mentions
    UNION ALL
    SELECT '{G.DOC_IRI_PREFIX}' || doc_id, mention_iri, '{G.P_TYPE}',
           '{G.O_ENTITY_CLASS}', 'iri', '', '' FROM mentions
    UNION ALL
    SELECT '{G.DOC_IRI_PREFIX}' || doc_id, '{G.DOC_IRI_PREFIX}' || doc_id,
           '{G.P_HAS_MEDIA}', media_ref, 'iri', '', ''
    FROM spans_pos WHERE kind = 'media'
    UNION ALL
    SELECT '{G.DOC_IRI_PREFIX}' || doc_id, '{G.DOC_IRI_PREFIX}' || doc_id,
           '{G.P_LANGUAGE}', lang, 'literal', '', '' FROM doc_toks
"""

_PROXY_BRANCHES = f"""
    SELECT '{G.ROOT_GRAPH}' AS g, entity_id AS s, '{G.P_SAME_AS}' AS p,
           member_iri AS o, 'iri' AS o_kind, '' AS o_lang, '' AS o_datatype
    FROM entities
    UNION ALL
    SELECT '{G.ROOT_GRAPH}', entity_id, '{G.P_TYPE}', cls, 'iri', '', ''
    FROM eclass
    UNION ALL
    SELECT '{G.ROOT_GRAPH}', entity_id, '{G.P_LABEL}', label, 'literal',
           label_lang, '' FROM attrs
    UNION ALL
    SELECT '{G.ROOT_GRAPH}', entity_id, '{G.P_SCORE}',
           CAST(score AS VARCHAR), 'literal', '', '{G.DT_INTEGER}' FROM attrs
"""

_QUADS_UNION = f"({_DOC_BRANCHES} UNION ALL {_PROXY_BRANCHES})"

ENTITIES_SQL = f"""
{_KG_CTES}
SELECT entity_id, member_iri FROM entities ORDER BY entity_id, member_iri
"""

ENTITY_ATTRS_SQL = f"""
{_KG_CTES}
SELECT entity_id, label, label_lang, class, n_members, n_mentions, score
FROM attrs ORDER BY entity_id
"""

ENTITY_PROPS_SQL = f"""
{_KG_CTES}, {PROPS_CTE}
SELECT entity_id, pred, value, value_lang
FROM eprops ORDER BY entity_id, pred
"""

BGP_MATCH_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e, t2.o AS l, t3.o AS n
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'rdfs:label'
JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
"""

BGP_OPTIONAL_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS d, t1.o AS lang, t2.o AS media
FROM tri t1
LEFT JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:hasMedia'
WHERE t1.p = 'dc:language'
"""

# Per-entity license + representative media (spindle license.c/media.c
# analogue): independent re-derivation over the mention→label→entity
# chain with the same rule tables inlined as VALUES.
_ENTITY_MEDIA_BODY = f"""
WITH docs_e AS (
  SELECT DISTINCT e.entity_id, m.doc_id, m.source
  FROM mentions m
  JOIN labels l ON l.node = m.norm_text
  JOIN eids e USING (label)
),
lic AS (
  SELECT entity_id, license,
         row_number() OVER (PARTITION BY entity_id
                            ORDER BY lic_rank, license) AS rn
  FROM (SELECT DISTINCT d.entity_id, r.license, r.lic_rank
        FROM docs_e d
        JOIN (VALUES (0, 'ex:license/open', 1), (1, 'ex:license/attribution', 2), (2, 'ex:license/restricted', 3))
          AS r(rights_bucket, license, lic_rank)
          ON r.rights_bucket =
             CAST(regexp_extract(d.source, '([0-9]+)$', 1) AS INT)
               % 3)
),
med AS (
  SELECT entity_id, media_ref, media_class,
         row_number() OVER (PARTITION BY entity_id
                            ORDER BY med_rank, media_ref) AS rn
  FROM (SELECT DISTINCT d.entity_id, s.media_ref, r.media_class, r.med_rank
        FROM docs_e d
        JOIN spans_pos s ON s.doc_id = d.doc_id AND s.kind = 'media'
        JOIN (VALUES (0, 'image', 1), (1, 'audio', 2), (2, 'video', 3), (3, 'data', 4))
          AS r(kind_bucket, media_class, med_rank)
          ON r.kind_bucket =
             CAST(regexp_extract(s.media_ref, '([0-9]+)$', 1) AS INT)
               % 4)
)
SELECT l.entity_id, l.license, m.media_ref AS best_media, m.media_class
FROM (SELECT entity_id, license FROM lic WHERE rn = 1) l
LEFT JOIN (SELECT entity_id, media_ref, media_class FROM med WHERE rn = 1) m
  USING (entity_id)
"""

ENTITY_MEDIA_SQL = f"""
{_KG_CTES},
em AS ({_ENTITY_MEDIA_BODY})
SELECT entity_id, license, best_media, media_class FROM em
"""

MEDIA_TRIPLES_SQL = f"""
{_KG_CTES},
em AS ({_ENTITY_MEDIA_BODY})
SELECT entity_id AS s, 'ex:license' AS p, license AS o FROM em
UNION ALL
SELECT entity_id, 'ex:bestMedia', best_media FROM em
WHERE best_media IS NOT NULL
"""

# SPARQL FILTER + SELECT DISTINCT (round-4: the quilt-consumer surface).
# CAST + regex mirror the Spark side's CAST(n AS INT) / rlike exactly.
BGP_FILTER_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT DISTINCT t1.s AS e, t2.o AS l, t3.o AS n
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'rdfs:label'
JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
  AND CAST(t3.o AS INT) >= 3 AND regexp_matches(t2.o, '^[a-m]')
"""

# SPARQL text front-end (ORDER BY ?n DESC, ?l, ?e is a total order so
# the LIMIT cut is engine-independent; comparison stays binary-collated
# strings on both engines).
SPARQL_TOPK_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT e, l, n FROM (
  SELECT DISTINCT t1.s AS e, t2.o AS l, t3.o AS n
  FROM tri t1
  JOIN tri t2 ON t2.s = t1.s AND t2.p = 'rdfs:label'
  JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
  WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
    AND CAST(t3.o AS INT) >= 2
)
ORDER BY n DESC, l, e LIMIT 25
"""

# SPARQL CONSTRUCT: template instantiation = one select per template
# pattern over the solution set, UNION, DISTINCT.
SPARQL_CONSTRUCT_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sol AS (
  SELECT t1.s AS e, t2.o AS l, t3.o AS n
  FROM tri t1
  JOIN tri t2 ON t2.s = t1.s AND t2.p = 'rdfs:label'
  JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
  WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
)
SELECT DISTINCT s, p, o FROM (
  SELECT e AS s, 'rdf:type' AS p, 'ex:Summary' AS o FROM sol
  UNION ALL SELECT e, 'rdfs:label', l FROM sol
  UNION ALL SELECT e, 'ex:score', n FROM sol
)
"""

# SPARQL GROUP BY aggregation (text front-end): exact integer sum.
SPARQL_GROUPBY_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.o AS t,
       CAST(COUNT(DISTINCT t1.s) AS BIGINT) AS n,
       CAST(SUM(CAST(t2.o AS BIGINT)) AS BIGINT) AS total
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdf:type'
GROUP BY t1.o
"""

# SPARQL LANG() over the full-term model.
SPARQL_LANG_SQL = f"""
{_KG_CTES},
tfull AS (SELECT DISTINCT s, p, o, o_lang FROM {_QUADS_UNION})
SELECT s AS e, o AS l FROM tfull
WHERE p = 'rdfs:label' AND o_lang = 'en'
"""

# SPARQL GRAPH clause: per-named-graph counts over the distinct quads.
SPARQL_GRAPH_SQL = f"""
{_KG_CTES},
q AS (SELECT DISTINCT g, s, p, o FROM {_QUADS_UNION})
SELECT g, CAST(count(*) AS BIGINT) AS n
FROM q WHERE p = 'ex:mentions' GROUP BY g
"""

# SPARQL UNION of BGP groups — disjoint variables NULL-padded (bag
# semantics, matching bgp_union's unionByName).
BGP_UNION_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e, t2.o AS l,
       CAST(NULL AS VARCHAR) AS d, CAST(NULL AS VARCHAR) AS lang
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'rdfs:label'
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), s, o
FROM tri WHERE p = 'dc:language'
"""

# SPARQL property path (owl:sameAs|^owl:sameAs)+ — the coref closure.
# Independent re-derivation: recursive CTE over the UNDIRECTED sameAs
# edge set (set-semantics UNION terminates the recursion); the Spark
# side computes the same relation via connected components.
SAMEAS_CLOSURE_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sa_edges AS (
  SELECT s AS a, o AS b FROM tri WHERE p = 'owl:sameAs'
  UNION
  SELECT o AS a, s AS b FROM tri WHERE p = 'owl:sameAs'
),
sa_reach AS (
  SELECT a, b FROM sa_edges
  UNION
  SELECT r.a, e.b FROM sa_reach r JOIN sa_edges e ON e.a = r.b
)
SELECT a AS x, b AS y FROM sa_reach WHERE a < b
"""

# Closure degree: count of reachable nodes (incl. self) per node —
# the recursive closure feeding an aggregate instead of pair output.
SAMEAS_DEGREE_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sa_edges AS (
  SELECT s AS a, o AS b FROM tri WHERE p = 'owl:sameAs'
  UNION
  SELECT o AS a, s AS b FROM tri WHERE p = 'owl:sameAs'
),
sa_reach AS (
  SELECT a, b FROM sa_edges
  UNION
  SELECT r.a, e.b FROM sa_reach r JOIN sa_edges e ON e.a = r.b
)
SELECT a AS x, CAST(count(DISTINCT b) AS BIGINT) AS n_reach
FROM sa_reach GROUP BY a
"""

ENTITY_COOCCURRENCE_SQL = f"""
{_KG_CTES},
doc_ents AS (
  SELECT DISTINCT mm.doc_id, e.entity_id
  FROM mm JOIN eids e ON e.label = mm.root
)
SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
       count(*) AS n_docs
FROM doc_ents a JOIN doc_ents b
  ON b.doc_id = a.doc_id AND a.entity_id < b.entity_id
GROUP BY 1, 2
"""

PROPS_TRIPLES_SQL = f"""
{_KG_CTES}, {PROPS_CTE}
SELECT entity_id AS s, pred AS p, value AS o,
       'literal' AS o_kind, value_lang AS o_lang, '' AS o_datatype
FROM eprops ORDER BY s, p
"""

TRIPLES_SQL = f"""
{_KG_CTES}
SELECT DISTINCT s, p, o FROM {_QUADS_UNION} ORDER BY s, p, o
"""

TRIPLES_FULL_SQL = f"""
{_KG_CTES}
SELECT DISTINCT s, p, o, o_kind, o_lang, o_datatype FROM {_QUADS_UNION}
ORDER BY s, p, o, o_kind, o_lang, o_datatype
"""

QUADS_FULL_SQL = f"""
{_KG_CTES}
SELECT DISTINCT g, s, p, o, o_kind, o_lang, o_datatype FROM {_QUADS_UNION}
ORDER BY g, s, p, o, o_kind, o_lang, o_datatype
"""

GRAPH_COUNTS_SQL = f"""
{_KG_CTES}
SELECT g, count(*) AS n FROM (
  SELECT DISTINCT g, s, p, o, o_kind, o_lang, o_datatype FROM {_QUADS_UNION}
) GROUP BY g ORDER BY g
"""

ENTITY_CLASS_SQL = f"""
{_KG_CTES}
SELECT entity_id, cls AS class FROM eclass ORDER BY entity_id
"""

MENTION_COUNTS_SQL = f"""
WITH {SPANS_CTE}, {MENTIONS_CTE}
SELECT norm_text, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM mentions GROUP BY norm_text ORDER BY norm_text
"""

MEDIA_FEATURES_SQL = f"""
WITH {SPANS_CTE}
SELECT doc_id, span_pos, media_ref,
  coalesce(nullif(regexp_extract(media_ref, '^([a-z0-9]+)://', 1), ''), 'unknown')
    AS media_kind,
  CAST(length(media_ref) AS INT) AS ref_bytes,
  CAST(coalesce(nullif(regexp_extract(media_ref, 'media://vec/([0-9]+)$', 1), ''), '-1')
    AS BIGINT) AS vec_id,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(generate_series(1, length(media_ref)),
                     i -> ascii(substr(media_ref, i, 1))::BIGINT)),
    (a, b) -> (a*31 + b) % {G.FP_MOD}) AS content_fp
FROM spans_pos WHERE kind = 'media'
"""

SPAN_INVARIANT_SQL = f"""
WITH {SPANS_CTE}
SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
  md5(string_agg(kind || '|' || text || '|' || media_ref || '|'
                 || CAST("offset" AS VARCHAR), chr(10) ORDER BY span_pos)) AS sig
FROM spans_pos GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# TPC-H plan-shape fixture oracles (queries.py's TPC-H section).
# ---------------------------------------------------------------------------
_E6 = "CAST(floor({expr} * 1000000.0) AS BIGINT)"


def _e6(expr: str) -> str:
    return _E6.format(expr=expr)


TPCH_SQL = {
    "tpch_q1": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum({_e6('l_quantity')}) AS BIGINT) AS sum_qty_e6,
               CAST(sum({_e6('l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS revenue_e6,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": f"""
        SELECT n_name, CAST(sum({_e6('o_totalprice')}) AS BIGINT) AS revenue_e6,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "tpch_q3_topk": f"""
        SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us,
               CAST(sum({_e6('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
                 AS revenue_e6
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = (SELECT min(c_mktsegment) FROM customer)
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue_e6 DESC, l_orderkey ASC LIMIT 10
    """,
    "top10_orders": f"""
        SELECT o_orderkey, {_e6('o_totalprice')} AS totalprice_e6
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "tpch_q4": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE epoch_us(o_orderdate) >= 820454400000000
  AND epoch_us(o_orderdate) < 828316800000000
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND epoch_us(l.l_shipdate)
          > epoch_us(o.o_orderdate) + CAST(5184000000000 AS BIGINT)
  )
GROUP BY o_orderpriority
""",
    "tpch_q5": """
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(floor(1000000 * l.l_extendedprice * (1 - l.l_discount))
                AS BIGINT)) AS BIGINT) AS revenue_e6,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
              AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name, n.n_name
""",
    "tpch_q14": """
WITH j AS (
  SELECT CAST(floor(1000000 * l_extendedprice * (1 - l_discount))
              AS BIGINT) AS rev_e6,
         p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE epoch_us(l.l_shipdate) >= 825638400000000
    AND epoch_us(l.l_shipdate) < 828316800000000
),
a AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e6 ELSE 0 END)
              AS BIGINT) AS promo_rev_e6,
         CAST(sum(rev_e6) AS BIGINT) AS total_rev_e6
  FROM j
)
SELECT promo_rev_e6, total_rev_e6,
       CAST(promo_rev_e6 // (total_rev_e6 // 1000000) AS BIGINT)
         AS promo_share_e6
FROM a
""",
    "tpch_q19": """
SELECT CAST(sum(CAST(floor(1000000 * l_extendedprice * (1 - l_discount))
                     AS BIGINT)) AS BIGINT) AS revenue_e6,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
}


# ---------------------------------------------------------------------------
# Training-data-pipeline oracles (text analysis).
# ---------------------------------------------------------------------------
DOC_SPLIT_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         (({G.hash_a(1)} * doc_id + {G.hash_b(1)}) % {G.HASH_P}) % 100 AS b
  FROM documents
)
"""

DOC_PACK_SQL = f"""
SELECT doc_id, split, shard, n_tok,
       CAST(start // {G.PACK_CAPACITY} AS BIGINT) AS seq_id,
       CAST(start % {G.PACK_CAPACITY} AS BIGINT) AS seq_off
FROM (
  SELECT doc_id, split, shard, n_tok,
         sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
  FROM (
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST((({G.hash_a(2)} * doc_id + {G.hash_b(2)}) % {G.HASH_P})
                  % {G.PACK_SHARDS} AS INT) AS shard,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM (
      SELECT doc_id, text,
             (({G.hash_a(1)} * doc_id + {G.hash_b(1)}) % {G.HASH_P}) % 100 AS b
      FROM documents
    )
  )
)
"""

# O12 XSLT-analogue oracle: the template semantics restated directly
# over the documents table (title = first 3 tokens, lang-tagged; plain
# dc:language literal; xsd:integer size).
XML_TRANSFORM_SQL = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, lang,
         string_split(text, ' ') AS toks
  FROM documents
)
SELECT s, p, o, o_kind, o_lang, o_datatype FROM (
  SELECT 'doc://' || id AS s, 'rdfs:label' AS p,
         array_to_string(list_slice(toks, 1, 3), ' ') AS o,
         'literal' AS o_kind, lang AS o_lang, '' AS o_datatype FROM d
  UNION ALL
  SELECT 'doc://' || id, 'dc:language', lang, 'literal', '', '' FROM d
  UNION ALL
  SELECT 'doc://' || id, 'ex:size', CAST(len(toks) AS VARCHAR),
         'literal', '', 'xsd:integer' FROM d
)
"""

PREDICATE_COUNTS_SQL = f"""
{_KG_CTES}
SELECT p, count(*) AS n FROM (
  SELECT DISTINCT s, p, o FROM {_QUADS_UNION}
) GROUP BY p
"""


# r5: SPARQL sequence path ?d ex:mentions/^owl:sameAs/rdfs:label ?l —
# the path's fresh-variable translation as an explicit join chain; the
# inverse step joins on the sameAs OBJECT.
SPARQL_PATH_SEQ_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT DISTINCT m.s AS d, l.o AS l
FROM tri m
JOIN tri sa ON sa.o = m.o AND sa.p = 'owl:sameAs'
JOIN tri l ON l.s = sa.s AND l.p = 'rdfs:label'
WHERE m.p = 'ex:mentions'
"""

# r5: SPARQL zero-or-more path ?x owl:sameAs* ?y = directed recursive
# closure ∪ the zero-length identity over every graph term.
SPARQL_PATH_STAR_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sa_dir AS (SELECT s AS a, o AS b FROM tri WHERE p = 'owl:sameAs'),
sa_reach AS (
  SELECT a, b FROM sa_dir
  UNION
  SELECT r.a, e.b FROM sa_reach r JOIN sa_dir e ON e.a = r.b
),
terms AS (SELECT s AS t FROM tri UNION SELECT o FROM tri),
star AS (
  SELECT a, b FROM sa_reach
  UNION
  SELECT t AS a, t AS b FROM terms
)
SELECT DISTINCT c.s AS x, st.b AS y
FROM tri c
JOIN star st ON st.a = c.s
JOIN tri sc ON sc.s = st.b AND sc.p = 'ex:score'
WHERE c.p = 'rdf:type' AND c.o = 'ex:Commerce'
"""

# r5: SPARQL subquery — the aggregate computed once, joined back on
# the shared variable, outer FILTER over the subquery-bound count.
SPARQL_SUBQUERY_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
cls_counts AS (
  SELECT o AS t, COUNT(*) AS n FROM tri WHERE p = 'rdf:type' GROUP BY o
)
SELECT DISTINCT t1.s AS e, t1.o AS t
FROM tri t1 JOIN cls_counts c ON c.t = t1.o
WHERE t1.p = 'rdf:type' AND c.n >= 100
"""

# r5: nested-group UNION joined with a further pattern.
SPARQL_UNION_NESTED_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT DISTINCT ty.s AS e, ty.o AS t, u.v
FROM (
  SELECT s, o AS v FROM tri WHERE p = 'rdfs:label'
  UNION ALL
  SELECT s, o AS v FROM tri WHERE p = 'dc:language'
) u JOIN tri ty ON ty.s = u.s AND ty.p = 'rdf:type'
"""

# r5: SPARQL AVG = exact-BIGINT SUM / COUNT divided in DOUBLE — the
# same two exact integers divide on both engines (IEEE-identical
# quotient), then the standard floor(1e6·x) BIGINT bridge.
SPARQL_AVG_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.o AS t,
       CAST(floor(1e6 * (CAST(SUM(CAST(t2.o AS BIGINT)) AS DOUBLE)
                         / COUNT(t2.o))) AS BIGINT) AS avg_e6
FROM tri t1 JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdf:type'
GROUP BY t1.o
"""


# r5: OPTIONAL body FILTER + COALESCE — the filter applies INSIDE the
# left join's right side (SPARQL), not over the joined result.
SPARQL_OPTIONAL_FILTER_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT DISTINCT t1.s AS e, COALESCE(sc.o, 'none') AS sc
FROM tri t1
LEFT JOIN (
  SELECT s, o FROM tri WHERE p = 'ex:score' AND CAST(o AS INT) >= 3
) sc ON sc.s = t1.s
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
"""


# r5: GROUP_CONCAT (sorted, '|' separator) + SAMPLE (= MIN).
SPARQL_GROUP_CONCAT_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e,
       string_agg(t2.o, '|' ORDER BY t2.o) AS scores,
       min(t2.o) AS one
FROM tri t1 JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
GROUP BY t1.s
"""


# r5: balanced quota sample — k lowest-hash docs per (lang, source).
DOC_QUOTA_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, CAST(rn AS INT) AS rn
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY ({G.hash_a(3)} * doc_id + {G.hash_b(3)}) % {G.HASH_P},
                    doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 10
"""


# r6: SPARQL UPDATE end-state — pre-state (nation → per-region graphs)
# minus CLEAR ex:reg0, minus DELETE WHERE o='CHINA', minus the ground
# DELETE DATA row, plus the two INSERT DATA rows.
KG_SPARQL_UPDATE_SQL = """
WITH base AS (
  SELECT 'ex:reg' || CAST(n_regionkey AS VARCHAR) AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         'ex:name' AS p,
         n_name AS o
  FROM nation
),
survivors AS (
  SELECT * FROM base
  WHERE g <> 'ex:reg0'
    AND NOT (p = 'ex:name' AND o = 'CHINA')
    AND NOT (g = 'ex:reg1' AND s = 'ex:nat1'
             AND p = 'ex:name' AND o = 'ARGENTINA')
)
SELECT g, s, p, o FROM survivors
UNION ALL SELECT 'urn:x-kgspark:default', 'ex:extra', 'ex:name', 'ATLANTIS'
UNION ALL SELECT 'ex:reg9', 'ex:nat99', 'ex:flag', 'ex:new'
"""

# r6: SELECT projection expressions + ORDER BY expression keys.
SPARQL_SELECT_EXPR_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e, t1.o AS l,
       CAST(length(t1.o) AS INT) AS len,
       CAST(t2.o AS INT) * 2 AS n2
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdfs:label'
ORDER BY length(t1.o) DESC, e, l, CAST(t2.o AS INT) LIMIT 30
"""

# r6: EXISTS with an OPTIONAL-unbound shared variable (compatible-
# solution semantics): unbound ?y is compatible with anything, so the
# row survives iff the EXISTS group is non-empty at all; bound ?y must
# itself match.
SPARQL_OPTIONAL_EXISTS_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
base AS (
  SELECT c.s AS x, lb.o AS l
  FROM tri c
  LEFT JOIN tri lb ON lb.s = c.s AND lb.p = 'rdfs:label'
                  AND lb.o LIKE 'c%'
  WHERE c.p = 'rdf:type' AND c.o = 'ex:Commerce'
)
SELECT x, l FROM base
WHERE (l IS NOT NULL AND EXISTS (
         SELECT 1 FROM tri w WHERE w.p = 'rdfs:label' AND w.o = base.l))
   OR (l IS NULL AND EXISTS (SELECT 1 FROM tri w WHERE w.p = 'rdfs:label'))
"""

# r6: expanded scalar-builtin surface — nested CONCAT/UCASE/SUBSTR,
# IF, STRLEN, MD5, ABS/FLOOR over integer casts; total ORDER BY before
# the LIMIT cut.
SPARQL_BUILTINS_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e, t1.o AS l,
       upper(substring(t1.o, 1, 1)) || substring(t1.o, 2) AS cap,
       CASE WHEN length(t1.o) >= 6 THEN 'long' ELSE 'short' END AS sz,
       md5(t1.o) AS h,
       CAST(abs(CAST(t2.o AS INT) - 50) AS INT) AS dist,
       CAST(floor(CAST(t2.o AS INT) / 7) AS BIGINT) AS bucket
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdfs:label'
ORDER BY e, l, CAST(t2.o AS INT) LIMIT 40
"""

# r6: term-inspection builtins — isIRI via the term kind, LANGMATCHES
# basic range 'en' (case-insensitive exact or en-*).
SPARQL_TERM_FNS_SQL = f"""
{_KG_CTES},
trif AS (SELECT DISTINCT s, p, o, o_kind, o_lang, o_datatype
         FROM {_QUADS_UNION})
SELECT p, CAST(count(*) AS BIGINT) AS n
FROM trif
WHERE o_kind = 'iri'
   OR lower(coalesce(o_lang, '')) = 'en'
   OR lower(coalesce(o_lang, '')) LIKE 'en-%'
GROUP BY p ORDER BY p
"""

# r6: CONSTRUCT WHERE shorthand — the BGP doubles as the template;
# distinct union of both pattern instantiations.
SPARQL_CONSTRUCT_WHERE_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sol AS (SELECT t1.s AS e, t1.o AS l, t2.o AS n
        FROM tri t1
        JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
        WHERE t1.p = 'rdfs:label')
SELECT DISTINCT s, p, o FROM (
  SELECT e AS s, 'rdfs:label' AS p, l AS o FROM sol
  UNION ALL
  SELECT e AS s, 'ex:score' AS p, n AS o FROM sol
)
"""

# r6: LOAD end state — the seed quad plus the nation table routed into
# ex:loaded through the N-Triples serialize→LOAD roundtrip.
KG_SPARQL_LOAD_SQL = """
SELECT g, s, p, o FROM (
  SELECT 'ex:loaded' AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         'ex:name' AS p, n_name AS o
  FROM nation
  UNION ALL
  SELECT 'urn:x-kgspark:default', 'ex:seed', 'ex:p', 'ex:q'
) ORDER BY g, s, p, o
"""

# r6: modify-form end state — WHERE over the merged graph, DELETE
# scoped to ex:reg1, INSERT of the lower-cased name into ex:reg1 for
# every solution.
KG_SPARQL_MODIFY_SQL = """
WITH base AS (
  SELECT 'ex:reg' || CAST(n_regionkey AS VARCHAR) AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         'ex:name' AS p,
         n_name AS o
  FROM nation
),
sol AS (SELECT s, o, lower(o) AS u FROM base WHERE o LIKE 'C%'),
kept AS (
  SELECT b.* FROM base b
  WHERE NOT (b.g = 'ex:reg1' AND b.p = 'ex:name'
             AND EXISTS (SELECT 1 FROM sol
                         WHERE sol.s = b.s AND sol.o = b.o))
)
SELECT g, s, p, o FROM kept
UNION
SELECT 'ex:reg1', s, 'ex:lname', u FROM sol
"""

# kg_sparql_from — dataset clauses: default graph = RDF merge of the
# FROM graphs (regions 1+2, g coalesced to ''), GRAPH branch = exactly
# the FROM NAMED set (region 3); SPARQL UNION is bag union.
KG_SPARQL_FROM_SQL = """
WITH quads AS (
  SELECT 'ex:reg' || CAST(n_regionkey AS VARCHAR) AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         n_name AS o
  FROM nation
)
SELECT '' AS g, s, o FROM (
  SELECT DISTINCT s, o FROM quads WHERE g IN ('ex:reg1', 'ex:reg2')
)
UNION ALL
SELECT g, s, o FROM quads WHERE g = 'ex:reg3'
"""


# r6: deterministic source-weighted resampling — one row per emitted
# copy; weights {0.5, 1, 1.5, 2}× by srcnum % 4, fractional copy via
# the grammar affine hash (index 200).
DOC_RESAMPLE_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         500000 + (CAST(substring(source, 4) AS BIGINT) % 4) * 500000 AS w_e6,
         (({G.hash_a(200)} * doc_id + {G.hash_b(200)}) % {G.HASH_P})
           % 1000000 AS h
  FROM documents
),
counted AS (
  SELECT doc_id, source, w_e6,
         w_e6 // 1000000
           + CASE WHEN h < w_e6 % 1000000 THEN 1 ELSE 0 END AS n_copies
  FROM base
)
SELECT doc_id, source, CAST(w_e6 AS BIGINT) AS weight_e6,
       CAST(copy_id AS INT) AS copy_id
FROM (
  SELECT doc_id, source, w_e6,
         unnest(range(1, CAST(n_copies AS BIGINT) + 1)) AS copy_id
  FROM counted
)
"""


# r6: integer-exact bigram surprisal (perplexity proxy) — bitlen of
# prefix/bigram count ratio, exact integer mean ×1e6.
DOC_BIGRAM_SURPRISAL_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
),
bi AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
    FROM toks WHERE len(toks) >= 2
  )
),
db AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
bc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS bt FROM db GROUP BY 1, 2),
uc AS (SELECT w1, CAST(sum(bt) AS BIGINT) AS ut FROM bc GROUP BY 1),
sc AS (
  SELECT db.doc_id, db.tf,
         db.tf * length(bin(CAST(uc.ut // bc.bt AS BIGINT))) AS s
  FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1)
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST(sum(s) AS BIGINT) AS surprisal,
       CAST((1000000 * sum(s)) // sum(tf) AS BIGINT) AS avg_surprisal_e6
FROM sc GROUP BY doc_id
"""


# r6: overlapping token-window chunking — 16-token chunks, stride 12.
DOC_CHUNK_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
),
nn AS (
  SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) >= 1
),
ch AS (
  SELECT doc_id, toks,
         unnest(range(0, 1 + CASE WHEN n <= 16 THEN 0
                               ELSE (n - 16 + 11) // 12 END)) AS chunk_id
  FROM nn
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(chunk_id * 12 + 1 AS INT) AS start_tok,
       CAST(len(list_slice(toks, chunk_id * 12 + 1, chunk_id * 12 + 16))
            AS INT) AS n_tok,
       array_to_string(
         list_slice(toks, chunk_id * 12 + 1, chunk_id * 12 + 16), ' '
       ) AS chunk_text
FROM ch
"""


# r6: expected label-erased triple multiset for the Turtle bnode /
# collection roundtrip — 8 triples per document row (see the query
# docstring), aggregated the same way the Spark side aggregates its
# parse output.
RDF_TURTLE_BNODE_SQL = """
WITH raw AS (
  SELECT 'ex:d' || CAST(doc_id AS VARCHAR) AS s, 'ex:meta' AS p,
         '_:' AS o, 'iri' AS o_kind, '' AS o_lang, '' AS o_datatype
  FROM documents
  UNION ALL
  SELECT '_:', 'ex:lang', lang, 'literal', '', '' FROM documents
  UNION ALL
  SELECT '_:', 'ex:source', source, 'literal', '', '' FROM documents
  UNION ALL
  SELECT 'ex:d' || CAST(doc_id AS VARCHAR), 'ex:sig',
         '_:', 'iri', '', '' FROM documents
  UNION ALL
  SELECT '_:', 'rdf:first', CAST(n_chars AS VARCHAR),
         'literal', '', 'xsd:integer' FROM documents
  UNION ALL
  SELECT '_:', 'rdf:rest', '_:', 'iri', '', '' FROM documents
  UNION ALL
  SELECT '_:', 'rdf:first', 'true', 'literal', '', 'xsd:boolean'
  FROM documents
  UNION ALL
  SELECT '_:', 'rdf:rest', 'rdf:nil', 'iri', '', '' FROM documents
)
SELECT s, p, o, o_kind, o_lang, o_datatype,
       CAST(count(*) AS BIGINT) AS n
FROM raw GROUP BY ALL
"""


# ---------------------------------------------------------------------------
# Round-6c: ASK / DESCRIBE and the shared char-code hash.
# ---------------------------------------------------------------------------

# Char-level rolling hash (grammar charcode): fold (31a + ascii(c)) % P
# with a prepended 0 seed — list_reduce uses the first element as init.
_CHARCODE = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({col}, ''),"
    " c -> CAST(ascii(c) AS BIGINT))),"
    f" (a, c) -> (a * 31 + c) % {G.HASH_P})"
)

# SPARQL ASK: existence probes as int-cast booleans.
SPARQL_ASK_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT 'commerce_scored' AS q,
       CAST(EXISTS(
         SELECT 1 FROM tri t1
         JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
         WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
           AND CAST(t3.o AS INT) >= 2
       ) AS INTEGER) AS ask
UNION ALL
SELECT 'nosuch' AS q,
       CAST(EXISTS(
         SELECT 1 FROM tri
         WHERE p = 'rdf:type' AND o = 'ex:NoSuchClass'
       ) AS INTEGER) AS ask
"""


# SPARQL DESCRIBE: outgoing edges of the matched subject set.
SPARQL_DESCRIBE_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
subj AS (
  SELECT DISTINCT t1.s
  FROM tri t1
  JOIN tri t3 ON t3.s = t1.s AND t3.p = 'ex:score'
  WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
    AND CAST(t3.o AS INT) >= 3
)
SELECT t.s, t.p, t.o FROM tri t JOIN subj USING (s)
"""


# r6c: isNumeric() — objects carrying a numeric xsd datatype on the
# distinct full-term triple set (only the proxy ex:score literals).
SPARQL_ISNUMERIC_SQL = f"""
{_KG_CTES},
trif AS (SELECT DISTINCT s, p, o, o_kind, o_lang, o_datatype
         FROM {_QUADS_UNION})
SELECT p, CAST(count(*) AS BIGINT) AS n
FROM trif
WHERE o_datatype IN ('xsd:integer', 'xsd:int', 'xsd:long', 'xsd:short',
                     'xsd:byte', 'xsd:decimal', 'xsd:double', 'xsd:float')
GROUP BY p ORDER BY p
"""

# r6c: sameTerm() pair filter — ordered co-mention pairs per document
# over the distinct mention-edge set: m·(m−1) for m distinct mentions
# (documents with a single mention produce no pair and are absent).
SPARQL_SAMETERM_SQL = f"""
{_KG_CTES},
me AS (SELECT DISTINCT '{G.DOC_IRI_PREFIX}' || doc_id AS d, mention_iri
       FROM mentions)
SELECT d, CAST(m * (m - 1) AS BIGINT) AS np
FROM (SELECT d, count(*) AS m FROM me GROUP BY d)
WHERE m >= 2 ORDER BY d
"""

# r6c: ENCODE_FOR_URI over the mention IRI's path remainder — the
# source/norm charset is [a-z0-9_/], so the only encoded byte is the
# path '/' (%2F); underscores and alphanumerics are unreserved in both
# engines.
SPARQL_ENCODE_SQL = f"""
{_KG_CTES},
me AS (SELECT DISTINCT '{G.DOC_IRI_PREFIX}' || doc_id AS d, mention_iri
       FROM mentions)
SELECT d, replace(substr(mention_iri, {len(G.MENTION_IRI_PREFIX) + 1}),
                  '/', '%2F') AS enc
FROM me ORDER BY d, enc
"""

# r6c: term-constructor BINDs — the filters are tautologies over the
# constructed carriers, so the result is exactly the per-entity
# (label, score) attribute pair with the score's lexical form.
SPARQL_TERM_CTORS_SQL = f"""
{_KG_CTES}
SELECT entity_id AS e, label AS lab, CAST(score AS VARCHAR) AS score2
FROM attrs ORDER BY e
"""


# r6c: JSON-LD @list roundtrip — positional rows straight from the
# nation table (pos = per-region rank by nationkey), names as plain
# literals, keys as xsd:integer-typed lexical forms.
JSONLD_LIST_SQL = """
WITH ranked AS (
  SELECT n_regionkey, n_nationkey, n_name,
         CAST(row_number() OVER (PARTITION BY n_regionkey
                                 ORDER BY n_nationkey) - 1 AS INT) AS pos
  FROM nation
)
SELECT 'ex:region' || n_regionkey AS s, 'ex:natnames' AS p, pos,
       n_name AS o, '' AS o_datatype
FROM ranked
UNION ALL
SELECT 'ex:region' || n_regionkey, 'ex:natkeys', pos,
       CAST(n_nationkey AS VARCHAR), 'xsd:integer'
FROM ranked
"""


# r6c: label inverted index — token postings pinned by the commutative
# rolling-hash checksum (sum of per-entity char hashes mod FP_MOD).
KG_LABEL_INDEX_SQL = f"""
{{_KG_CTES}},
postings AS (
  SELECT DISTINCT entity_id,
         unnest(list_filter(string_split(label, ' '), t -> t != ''))
           AS token
  FROM attrs
),
hashed AS (
  SELECT token, entity_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(entity_id, ''),
                     c -> CAST(ascii(c) AS BIGINT))),
      (a, b) -> (a * 31 + b) % {G.FP_MOD}) AS eh
  FROM postings
)
SELECT token, CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(eh) % {G.FP_MOD} AS BIGINT) AS postings_hash
FROM hashed GROUP BY token
"""
KG_LABEL_INDEX_SQL = KG_LABEL_INDEX_SQL.replace("{_KG_CTES}", _KG_CTES)


# r6c: held-out bigram surprisal — train on even doc_ids, score odd;
# OOV bigrams counted and excluded from the scored mean.
DOC_SURPRISAL_HELDOUT_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
),
db AS MATERIALIZED (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2, 3
),
bc AS MATERIALIZED (
  SELECT w1, w2, SUM(tf) AS bt FROM db WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
uc AS (SELECT w1, SUM(bt) AS ut FROM bc GROUP BY 1),
sc AS (
  SELECT h.doc_id, h.tf,
         CASE WHEN bc.bt IS NULL THEN 0 ELSE h.tf END AS scored,
         CASE WHEN bc.bt IS NULL THEN h.tf ELSE 0 END AS oov,
         CASE WHEN bc.bt IS NULL THEN 0
              ELSE h.tf * length(bin(CAST(uc.ut // bc.bt AS BIGINT))) END AS s
  FROM db h
  LEFT JOIN bc ON bc.w1 = h.w1 AND bc.w2 = h.w2
  LEFT JOIN uc ON uc.w1 = h.w1
  WHERE h.doc_id % 2 = 1
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST((1000000 * SUM(s)) // SUM(scored) AS BIGINT) AS avg_surprisal_e6
FROM sc GROUP BY doc_id HAVING SUM(scored) > 0
"""


# r6c: SPARQL VALUES + MIN/MAX aggregates.
SPARQL_VALUES_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.o AS t,
       MIN(CAST(t2.o AS BIGINT)) AS lo,
       MAX(CAST(t2.o AS BIGINT)) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tri t1
JOIN tri t2 ON t2.s = t1.s AND t2.p = 'ex:score'
WHERE t1.p = 'rdf:type' AND t1.o IN ('ex:Commerce', 'ex:Data')
GROUP BY t1.o
"""


# r6c: negated property set — forward edges except the excluded preds.
SPARQL_PATH_NPS_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT t1.s AS e, t2.o AS o
FROM tri t1
JOIN tri t2 ON t2.s = t1.s
WHERE t1.p = 'rdf:type' AND t1.o = 'ex:Commerce'
  AND t2.p NOT IN ('rdf:type', 'ex:score')
"""


# r6c: per-doc type-token ratio (lexical diversity, e6 grid).
DOC_TTR_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       CAST((1000000 * len(list_distinct(toks))) // len(toks) AS BIGINT)
         AS ttr_e6
FROM t WHERE len(toks) > 0
"""


# r6c: class-level co-occurrence matrix (canonicalized pairs).
KG_CLASS_COOCC_SQL = f"""
{_KG_CTES},
doc_ents AS (
  SELECT DISTINCT mm.doc_id, e.entity_id
  FROM mm JOIN eids e ON e.label = mm.root
),
coocc AS MATERIALIZED (
  SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM doc_ents a JOIN doc_ents b
    ON b.doc_id = a.doc_id AND a.entity_id < b.entity_id
  GROUP BY 1, 2
)
SELECT least(ca.cls, cb.cls) AS class_a,
       greatest(ca.cls, cb.cls) AS class_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(c.n_docs) AS BIGINT) AS n_doc_links
FROM coocc c
JOIN eclass ca ON ca.entity_id = c.entity_a
JOIN eclass cb ON cb.entity_id = c.entity_b
GROUP BY 1, 2
"""


# r6c: top-k document search for the fixed query (order data table).
DOC_SEARCH_TOPK_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
q AS (SELECT term FROM (VALUES ('order'), ('data'), ('table')) v(term)),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term != '' AND term IN (SELECT term FROM q)
  GROUP BY 1, 2
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks WHERE term != '' AND term IN (SELECT term FROM q)
  GROUP BY 1
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.tf * length(bin(CAST(n.n // df.df AS BIGINT))))
              AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM tf JOIN df USING (term) CROSS JOIN n
  GROUP BY tf.doc_id
)
SELECT doc_id, score, n_terms_hit, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


# r6e: per-entity provenance summary (spindle-style proxy audit record).
ENTITY_PROVENANCE_SQL = f"""
{_KG_CTES}
SELECT e.entity_id,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT mm.doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT mm.source) AS BIGINT) AS n_sources,
       CAST(min(mm.doc_id) AS BIGINT) AS first_doc,
       CAST(max(mm.doc_id) AS BIGINT) AS last_doc
FROM mm JOIN eids e ON e.label = mm.root
GROUP BY 1
"""


# r6e: VoID dataset descriptor over the distinct triple set.
KG_VOID_SUMMARY_SQL = f"""
{_KG_CTES},
trip AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION})
SELECT CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT s) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT p) AS BIGINT) AS n_predicates,
       CAST(count(DISTINCT o) AS BIGINT) AS n_objects,
       CAST(count(DISTINCT CASE WHEN p = '{G.P_TYPE}' THEN o END)
            AS BIGINT) AS n_classes,
       CAST(count(DISTINCT CASE WHEN s LIKE '{G.ENTITY_IRI_PREFIX}%'
                           THEN s END) AS BIGINT) AS n_entities
FROM trip
"""


# r6e: per-graph canonical content hash — BIT_XOR of the charcode
# rolling hash of each distinct quad's canonical string.
KG_GRAPH_HASH_SQL = f"""
{_KG_CTES},
dq AS (
  SELECT DISTINCT g, s, p, o, o_kind, o_lang, o_datatype
  FROM {_QUADS_UNION}
),
hq AS (
  SELECT g,
         {_CHARCODE.format(col="concat_ws('|', g, s, p, o, o_kind,"
                               " coalesce(o_lang, ''),"
                               " coalesce(o_datatype, ''))")} AS h
  FROM dq
)
SELECT g, CAST(count(*) AS BIGINT) AS n_quads,
       CAST(bit_xor(h) AS BIGINT) AS graph_hash
FROM hq GROUP BY g
"""


# r6e: Z-order (Morton) export layout key — 4+4 bit interleave.
_Z_BITS = " + ".join(
    f"(((len_b >> {k}) & 1) * {1 << (2 * k + 1)})"
    f" + (((lang_b >> {k}) & 1) * {1 << (2 * k)})"
    for k in range(4)
)
DOC_ZORDER_KEY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST({_CHARCODE.format(col='lang')} % 16 AS BIGINT) AS lang_b,
         CAST(least(length(bin(n_chars)), 15) AS BIGINT) AS len_b
  FROM documents
)
SELECT doc_id, lang_b, len_b, CAST({_Z_BITS} AS BIGINT) AS zkey FROM base
"""


# r6e: CDC MERGE end state — (base \ retracts) ∪ adds over nation.
KG_STORE_MERGE_SQL = """
WITH base AS (
  SELECT 'ex:reg' || CAST(n_regionkey AS VARCHAR) AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         'ex:name' AS p, n_name AS o, n_nationkey AS k
  FROM nation
),
kept AS (SELECT g, s, p, o FROM base WHERE k % 2 = 1),
adds AS (
  SELECT 'ex:reg' || CAST(n_regionkey AS VARCHAR) AS g,
         'ex:nat' || CAST(n_nationkey AS VARCHAR) AS s,
         'ex:upd' AS p, 'v' || CAST(n_nationkey AS VARCHAR) AS o
  FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL
  SELECT 'ex:regnew', 'ex:meta', 'ex:created', 'true'
)
SELECT DISTINCT g, s, p, o FROM (
  SELECT * FROM kept UNION ALL SELECT * FROM adds
)
"""


# r6e: component-size histogram over the sameAs closure (component
# size = reach count incl. self; bucket = bitlen(size)).
KG_COMPONENT_SIZE_HIST_SQL = f"""
{_KG_CTES},
tri AS (SELECT DISTINCT s, p, o FROM {_QUADS_UNION}),
sa_edges AS (
  SELECT s AS a, o AS b FROM tri WHERE p = 'owl:sameAs'
  UNION
  SELECT o AS a, s AS b FROM tri WHERE p = 'owl:sameAs'
),
sa_reach AS (
  SELECT a, b FROM sa_edges
  UNION
  SELECT r.a, e.b FROM sa_reach r JOIN sa_edges e ON e.a = r.b
),
comp AS (
  SELECT a AS node, MIN(b) AS root
  FROM (SELECT a, b FROM sa_reach UNION SELECT a, a FROM sa_edges)
  GROUP BY a
),
sizes AS (SELECT root, count(*) AS sz FROM comp GROUP BY root)
SELECT CAST(length(bin(sz)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(sz) AS BIGINT) AS n_nodes
FROM sizes GROUP BY 1
"""


# r6e: anti-entropy diff statuses, derived from the nation table.
KG_STORE_DIFF_SQL = """
WITH regs AS (SELECT DISTINCT n_regionkey AS r FROM nation)
SELECT 'ex:reg' || CAST(r AS VARCHAR) AS g,
       CASE WHEN r = 1 THEN 'only_a'
            WHEN r = 3 THEN 'changed'
            ELSE 'equal' END AS status
FROM regs
UNION ALL
SELECT 'ex:regnew', 'only_b'
"""


# r6e: ingest parse-error stats — the parser must drop EXACTLY the
# corrupted every-7th-key lines.
KG_PARSE_ERROR_STATS_SQL = """
WITH c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN n_nationkey % 7 != 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_parsed
  FROM nation
)
SELECT n_lines, n_parsed,
       CAST(n_lines - n_parsed AS BIGINT) AS n_dropped,
       CAST((n_lines - n_parsed) * 1000000 // n_lines AS BIGINT)
         AS drop_rate_e6
FROM c
"""


# r6e: per-predicate coverage of the property index.
KG_ATTR_COVERAGE_SQL = f"""
{_KG_CTES}, {PROPS_CTE}
, ecount AS (
  SELECT CAST(count(DISTINCT e.entity_id) AS BIGINT) AS n_entities
  FROM mm JOIN eids e ON e.label = mm.root
)
SELECT p.pred,
       CAST(count(DISTINCT p.entity_id) AS BIGINT) AS n_with_value,
       CAST(min(c.n_entities) AS BIGINT) AS n_entities,
       CAST(count(DISTINCT p.entity_id) * 1000000 // min(c.n_entities)
            AS BIGINT) AS coverage_e6
FROM eprops p CROSS JOIN ecount c
GROUP BY p.pred
"""


# r6e: near-name ambiguity (4-char label-prefix collisions) over the
# attrs index — exact-label collisions are structurally impossible.
KG_LABEL_COLLISIONS_SQL = f"""
{_KG_CTES}
SELECT substring(label, 1, 4) AS label_prefix,
       CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities
FROM attrs GROUP BY 1 HAVING count(DISTINCT entity_id) > 1
"""


# r6e: identical-prefix duplicate groups (charcode of first 200 chars).
DOC_PREFIX_DUP_SQL = f"""
WITH pref AS (
  SELECT doc_id,
         {_CHARCODE.format(col='substring(text, 1, 200)')} AS pcode
  FROM documents
)
SELECT pcode, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM pref GROUP BY pcode HAVING count(*) > 1
"""
