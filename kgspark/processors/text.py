"""Text-span processor: batched mention detection (SURVEY.md O14).

The Spark analogue of Twine's RDF/XML / Turtle / N-Triples processor
modules (``rdf/`` processor via librdf `[U]`): one Arrow batch of text
spans in → one batch of mention rows out.  All operations are
vectorized pandas (C-level ``str`` ops / ``explode`` / ``cumcount``) —
no per-row Python (BASELINE.json:15).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from .. import grammar as G

_MENTION_RE = re.compile(G.MENTION_PATTERN)

# Output schema (DDL) of the mention kernel.
MENTIONS_DDL = (
    "doc_id string, lang string, source string, span_pos int, "
    "mention_ord int, mention_text string, norm_text string, "
    "mention_iri string"
)


def text_mention_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Input columns: doc_id, lang, source, span_pos, text."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        padded = " " + pdf["text"].astype("string").fillna("") + " "
        found = padded.str.findall(_MENTION_RE)  # list of group-1 runs
        out = pdf[["doc_id", "lang", "source", "span_pos"]].copy()
        out["mention_text"] = found
        out = out.explode("mention_text", ignore_index=False)
        out = out[out["mention_text"].notna()]
        if len(out) == 0:
            continue
        out["mention_ord"] = out.groupby(level=0).cumcount().astype("int32")
        out = out.reset_index(drop=True)
        norm = (
            out["mention_text"]
            .str.lower()
            .str.strip()
            .str.replace(r" +", " ", regex=True)
        )
        out["norm_text"] = norm
        out["mention_iri"] = (
            G.MENTION_IRI_PREFIX
            + out["source"].astype("string")
            + "/"
            + norm.str.replace(" ", "_", regex=False)
        )
        out["span_pos"] = out["span_pos"].astype("int32")
        yield out[
            [
                "doc_id",
                "lang",
                "source",
                "span_pos",
                "mention_ord",
                "mention_text",
                "norm_text",
                "mention_iri",
            ]
        ]
