"""Shared deterministic spec for the KG-construction pipeline.

Every constant here is consumed by THREE independent implementations
that must agree bit-for-bit:

1. the Spark pipeline (``kgspark.*``),
2. the pure-pandas reference oracle (``tests/oracle_kg.py``) standing in
   for Twine's processor/spindle fixtures (reference checkout empty at
   survey time — see SURVEY.md §0),
3. the DuckDB oracle SQL (``__spark_entry__.oracle_sql``).

Twine parity notes (bbcarchdev/twine, upstream module paths, unverified
``[U~]`` per SURVEY.md §0):
 - the closed-vocabulary mention grammar stands in for the RDF/XML /
   Turtle / N-Triples processor modules (``rdf/`` processor via librdf);
 - coreference predicates / linking thresholds stand in for
   ``spindle/correlate`` coref configuration;
 - LANG_PREF mirrors ``spindle/generate/props.c`` language preference.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Closed token vocabulary of the `documents` fixture (verified by scanning
# /root/testdata/sf0.001/documents.parquet — 31 tokens).
# ---------------------------------------------------------------------------
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

# "Entity" tokens — the nouns; maximal runs of these within a text span
# are mentions (Twine analogue: resource IRIs found by the RDF parsers).
ENTITY_TOKENS = [
    "batch", "column", "customer", "data", "group", "hash", "key",
    "line", "order", "part", "query", "row", "spark", "stream",
    "table", "value", "vector", "window",
]

# Regex extracting maximal entity-token runs from a SPACE-PADDED span
# text (' ' || text || ' ').  Group 1 is the run.  Works identically in
# Java regex (Spark), RE2 (DuckDB — no lookarounds used) and Python re.
_ALT = "|".join(ENTITY_TOKENS)
MENTION_PATTERN = rf"[ ]((?:{_ALT})(?:[ ](?:{_ALT}))*)[ ]"

# ---------------------------------------------------------------------------
# Interleaved span synthesis (FIXTURES.md §B — the `input_hint` shape).
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 8      # tokens per text span
MEDIA_EVERY = 2       # a media span after every 2nd text span
MEDIA_MOD = 500       # media_ref = 'media://vec/' || (doc_id % MEDIA_MOD)

# ---------------------------------------------------------------------------
# IRI scheme (Twine: proxies under {root}{uuid}#id — ours deterministic).
# ---------------------------------------------------------------------------
DOC_IRI_PREFIX = "doc://"
MENTION_IRI_PREFIX = "ex://"           # ex://{source}/{norm with _ }
ENTITY_IRI_PREFIX = "ex://entity/"     # ex://entity/{sha256[:32]}#id
ENTITY_IRI_SUFFIX = "#id"

# Named graphs (D3/D4): each document's extraction lands in its own
# graph `doc://<id>`; generated proxy triples land in the root graph
# (spindle root-graph analogue).
ROOT_GRAPH = "ex://graph/root"

P_MENTIONS = "ex:mentions"
P_TYPE = "rdf:type"
P_HAS_MEDIA = "ex:hasMedia"
P_LANGUAGE = "dc:language"
P_SAME_AS = "owl:sameAs"
P_LABEL = "rdfs:label"
P_SCORE = "ex:score"
O_ENTITY_CLASS = "ex:Entity"
DT_INTEGER = "xsd:integer"

# ---------------------------------------------------------------------------
# Rulebase (D7; spindle ``rulebase.ttl`` class rules `[U~]`): maps a
# member feature — the FIRST token of a member's normalized text,
# standing in for the members' source rdf:type — to a candidate proxy
# class with a score.  The proxy's class is the matched rule with the
# highest score (ties impossible across classes: scores are
# class-unique; class-name asc is the formal tie-break).  Tokens with
# no rule fall through to (O_ENTITY_CLASS, 0).  Property rules are the
# LANG_PREF priority list above (spindle props.c analogue, O24/O28).
# ---------------------------------------------------------------------------
CLASS_RULES = [  # (first_token, class, score)
    ("customer", "ex:Commerce", 30), ("order", "ex:Commerce", 30),
    ("part", "ex:Commerce", 30), ("line", "ex:Commerce", 30),
    ("table", "ex:Data", 20), ("column", "ex:Data", 20),
    ("row", "ex:Data", 20), ("key", "ex:Data", 20),
    ("value", "ex:Data", 20), ("vector", "ex:Data", 20),
    ("query", "ex:Compute", 10), ("batch", "ex:Compute", 10),
    ("stream", "ex:Compute", 10), ("window", "ex:Compute", 10),
    ("group", "ex:Compute", 10), ("hash", "ex:Compute", 10),
]
DEFAULT_CLASS = O_ENTITY_CLASS
DEFAULT_CLASS_SCORE = 0

# ---------------------------------------------------------------------------
# Property rulebase (D7 FULL form; spindle ``generate/props.c`` property
# map `[U~]`): an ordered candidate list per TARGET predicate.  Each
# rule maps a member feature SHAPE to a candidate value with a priority
# (lower wins — spindle evaluates its prop map in order); rules with
# ``lang_pref`` = 1 additionally rank same-priority candidates by the
# LANG_PREF list (spindle's language preference on literal properties).
# Selection per (entity, target_pred): min priority, then lang rank,
# then value asc, then lang asc — one winning (value, lang) pair.
# Shapes are features of the member mentions:
#   norm_multi  — the normalized mention text, only when multi-token
#                 (the more descriptive title candidate),
#   norm_any    — any normalized mention text (fallback),
#   first_token — the mention's head token,
#   source      — the member's document source,
#   lang        — the member's document language.
# ---------------------------------------------------------------------------
PROPERTY_RULES = [  # (pred, shape, priority, lang_pref)
    ("ex:title", "norm_multi", 1, 1),
    ("ex:title", "norm_any", 2, 1),
    ("ex:subject", "first_token", 1, 0),
    ("ex:origin", "source", 1, 0),
    ("dc:language", "lang", 1, 1),
]

# License / media selection rulebases (spindle license.c / media.c
# analogues — SURVEY O7/D7 `[U~]`): a document's rights bucket derives
# deterministically from its source ordinal (srcK → K % LICENSE_MOD),
# a media ref's kind bucket from its ordinal (% MEDIA_KIND_MOD); the
# per-entity selection keeps the best-RANKED value across member
# documents (priority window, lexicographic tie-break) — the same
# selection pattern as entity_props.
LICENSE_MOD = 3
LICENSE_RULES = [  # (rights_bucket, license_iri, lic_rank)
    (0, "ex:license/open", 1),
    (1, "ex:license/attribution", 2),
    (2, "ex:license/restricted", 3),
]
MEDIA_KIND_MOD = 4
MEDIA_KIND_RULES = [  # (kind_bucket, media_class, med_rank)
    (0, "image", 1),
    (1, "audio", 2),
    (2, "video", 3),
    (3, "data", 4),
]
P_LICENSE = "ex:license"
P_BEST_MEDIA = "ex:bestMedia"

# Coreference predicates (spindle/correlate coref set analogue).
COREF_PREDICATES = [P_SAME_AS, "skos:exactMatch"]

# ---------------------------------------------------------------------------
# Entity-link scoring (spindle/correlate replacement, BASELINE.json:6).
# ---------------------------------------------------------------------------
# Acceptance rule for a candidate pair (a, b) sharing ≥1 token:
#     jaccard(a, b) >= JACCARD_TAU
#  OR (jaccard(a, b) >= COSINE_JACCARD_MIN AND cosine(va, vb) >= COSINE_TAU)
# — the cosine path rescues moderate-overlap pairs whose embeddings
# agree (validated empirically: healthy cluster-size distribution, no
# giant-component collapse; see tests/test_link.py).
JACCARD_TAU = 0.8     # token-set Jaccard acceptance threshold
COSINE_TAU = 0.95     # embedding cosine acceptance threshold
COSINE_JACCARD_MIN = 0.5

# Deterministic pseudo-embedding assignment for a normalized mention
# text: vec_id = fingerprint(tokens(norm)) % n_embeddings  (rolling hash,
# see FP_MOD below) — a stand-in for a real text-encoder lookup, kept
# SQL-expressible so the DuckDB oracle reproduces it exactly.

# Language preference for proxy label selection
# (spindle/generate/props.c `[U~]` analogue).
LANG_PREF = ["en", "es", "de", "fr", "zh"]

# ---------------------------------------------------------------------------
# Hash family — SQL-expressible (pure int64 arithmetic, no engine hash
# builtins so Spark/DuckDB/numpy agree exactly).
# tokcode(t) = ascii(t[0])*65536 + ascii(t[1] or '')*256 + len(t)
# h_i(code)  = (A_i * code + B_i) % HASH_P
# ---------------------------------------------------------------------------
HASH_P = 2147483647                     # 2^31 - 1
_MULT = 2654435761                      # Knuth multiplicative constant


def hash_a(i: int) -> int:
    return ((2 * i + 1) * _MULT) % HASH_P


def hash_b(i: int) -> int:
    return (i * 40503 + 1) % HASH_P


def tokcode_py(t: str) -> int:
    """Python reference of the token code (mirrors the SQL expression)."""
    c0 = ord(t[0]) if len(t) >= 1 else 0
    c1 = ord(t[1]) if len(t) >= 2 else 0
    return c0 * 65536 + c1 * 256 + len(t)


# Sequence packing (training-data concat-and-chunk): documents are
# hash-sharded, then greedily concatenated in doc_id order within each
# (split, shard); training sequence boundaries fall every
# PACK_CAPACITY tokens.  Both constants are shared with the DuckDB
# oracle.
PACK_CAPACITY = 256
PACK_SHARDS = 16

# Rolling-hash document fingerprint: acc = (acc*31 + tokcode) % FP_MOD.
FP_MOD = 1000000007
