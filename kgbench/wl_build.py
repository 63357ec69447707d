"""``build`` workload: the in-memory ``pipeline.run_pipeline`` build of
the seeded corpus, materialising the final triples, in a closed loop.

Set-up ends with an untimed build of the same input, so the timed builds
do not pay the JVM's first compilation of the plans.  Every build must
equal the pinned output of the corpus.

The traced run then counts the output shape of its last build (data
health lines) and calls the production entry point ``runner.run_all``
three times into one fresh warehouse, for the per-layer metrics of
``runner``, ``checkpoint`` and ``catalog``: cold, resumed on the same
input, and updated after a seeded edit of a few documents that all fall
in two seeded buckets, so the per-bucket stages should redo two buckets
and the global stages rerun.  A cold ``run_all`` costs about three
builds, more than the untraced runs can afford, so those layers have no
end-to-end metric of their own yet.  The cold and resumed outputs must
equal the pin, the updated output the in-memory build of the edited
input.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import numpy as np

from kgspark import cc, checkpoint, extract, fixtures, generate, link, runner
from kgspark.catalog import ParquetCatalog, with_bucket
from kgspark.pipeline import run_pipeline

from kgbench import inputs as I
from kgbench.checks import fingerprint

N_DOCS, N_BUCKETS = 5000, 8
EDIT_BUCKETS, EDIT_DOCS = 2, 4  # the update phase's edit
# distinct (s,p,o) count and doc-offset-normalised fingerprint of the
# N_DOCS corpus (kgbench/pins.py recomputes it)
PIN = (138434, 2589999757087296001)

RUNNER_PATCHES = [
    (checkpoint, "run_bucketed_stage", "checkpoint", False),
    (ParquetCatalog, "read", "catalog", False),
    (ParquetCatalog, "write", "catalog", False),
    (ParquetCatalog, "write_bucketed", "catalog", False),
    (ParquetCatalog, "append", "catalog", False),
]
# the calls run_pipeline makes whose outputs reach the final triples
BUILD_PATCHES = [
    (fixtures, "with_spans", "fixtures", True),
    (fixtures, "flat_spans", "fixtures", True),
    (extract, "mentions_df", "extract", True),
    (extract, "base_quads", "extract", True),
    (link, "scored_edges", "link", True),
    (cc, "connected_components", "cc", True),
    (generate, "entity_membership", "generate", True),
    (generate, "entity_classes", "generate", True),
    (generate, "entity_attrs_df", "generate", True),
    (generate, "proxy_quads", "generate", True),
]


def setup(ctx) -> dict:
    docs = I.corpus(N_DOCS)
    off = I.offset(ctx.seed)
    src = I.write_inputs(os.path.join(ctx.work, "input"),
                         docs.assign(doc_id=docs["doc_id"] + off))
    if fingerprint(run_pipeline(ctx.spark, src).triples, off) != PIN:
        raise RuntimeError(f"set-up build does not match the pin {PIN}")
    return {"src": src, "offset": off, "ms": [], "fps": [], "runner": {},
            "last": None, "layer_counts": {}}


def cycle(ctx, st: dict, i: int) -> list[tuple[str, float]]:
    spark, tr, off = ctx.spark, ctx.tr, st["offset"]

    def build():
        r = run_pipeline(spark, st["src"])
        return r, fingerprint(r.triples, off)

    with tr.span("pipeline.build", "pipeline"), tr.patched(BUILD_PATCHES):
        ms, out = ctx.op("build", build, lambda out: out[1] == PIN)
    st["ms"].append(ms)
    st["fps"].append(list(out[1]) if out else None)
    if tr.enabled:  # untraced runs hold no build between cycles
        st["last"] = out[0] if out else None
    return [("build", ms)]


def _build_counts(r) -> dict:
    """Data-health counts of one build's output."""
    sizes = r.labels.groupBy("label").count()
    return {
        "link.norms_in": r.mentions.select("norm_text").distinct().count(),
        "link.edges_out": r.edges.count(),
        "cc.nodes": r.labels.count(),
        "cc.max_component": sizes.agg(F.max("count")).collect()[0][0] or 0,
    }


def _data_files(wh: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(wh) for f in fs
            if f.startswith("part-")}


def traced_tail(ctx, st: dict) -> None:
    """Traced run only: the data-health counts of the last build, then
    ``runner.run_all`` into a fresh warehouse cold, resumed, and updated
    after the seeded edit.  The cold and resumed outputs must equal the
    pin, the updated one the in-memory build of the edited input, and the
    update must redo exactly the edited buckets."""
    spark, tr, off = ctx.spark, ctx.tr, st["offset"]
    if st["last"] is not None:
        with tr.span("check.build_counts"):
            st["layer_counts"].update(_build_counts(st["last"]))
    wh = os.path.join(ctx.work, "warehouse")
    with tr.span("check.edit"):
        edited, buckets = _edit(ctx, st["src"])
        want = fingerprint(run_pipeline(spark, edited).triples, off)
    files = 0
    for phase, src, pin in (("cold", st["src"], PIN), ("resume", st["src"], PIN),
                            ("update", edited, want)):
        files0, redone0 = _data_files(wh), _bucket_rows(spark, wh)
        with tr.span(f"runner.{phase}", "runner"), tr.patched(RUNNER_PATCHES):
            ms, out = ctx.op(phase, lambda: runner.run_all(spark, src, wh, n_buckets=N_BUCKETS),
                             lambda out: fingerprint(out["triples"], off) == pin)
        st["runner"][f"{phase}_s"] = ms / 1000.0
        files += len(_data_files(wh) - files0)
    redone = {b for _, b in _bucket_rows(spark, wh) - redone0}
    if redone != buckets:
        ctx.fail(f"update redid buckets {sorted(redone)}, edited {sorted(buckets)}")
    st["layer_counts"].update({"catalog.files_written": files,
                               "checkpoint.buckets_redone": len(redone)})


def _edit(ctx, src: str) -> tuple[str, set[int]]:
    """The update phase's input: ``src`` with the tokens of EDIT_DOCS
    documents reversed (same length, different spans and mentions), all
    of them in EDIT_BUCKETS seeded runner buckets.  Returns the input
    directory and the edited buckets."""
    docs = ctx.spark.read.parquet(os.path.join(src, "documents.parquet"))
    ids = with_bucket(docs, N_BUCKETS).select("doc_id", "bucket").toPandas()
    rng = np.random.default_rng([ctx.seed, 5])
    buckets = rng.choice(sorted(ids["bucket"].unique()), EDIT_BUCKETS, replace=False)
    pick = np.concatenate([
        rng.choice(ids.loc[ids["bucket"] == b, "doc_id"].to_numpy(),
                   EDIT_DOCS // EDIT_BUCKETS, replace=False) for b in buckets])
    pdocs = docs.toPandas()
    hit = pdocs["doc_id"].isin(pick)
    pdocs.loc[hit, "text"] = pdocs.loc[hit, "text"].map(lambda t: " ".join(reversed(t.split(" "))))
    return I.write_inputs(os.path.join(ctx.work, "input_edit"), pdocs), {int(b) for b in buckets}


def _bucket_rows(spark, wh: str) -> set[tuple]:
    """("stage@ts", bucket) of each per-bucket checkpoint row; the rows a
    phase adds name the buckets it redid."""
    cat = ParquetCatalog(wh, N_BUCKETS)
    if not cat.exists(checkpoint.CHECKPOINT_TABLE):
        return set()
    rows = (cat.read(spark, checkpoint.CHECKPOINT_TABLE)
            .filter(F.col("part_id") >= 0).select("stage", "part_id", "ts").collect())
    return {(f"{r['stage']}@{r['ts']}", int(r["part_id"])) for r in rows}


def report(ctx, st: dict, cycles) -> dict:
    build_s = statistics.median(st["ms"]) / 1000.0
    named = {"build_s": (build_s, "s"), "triples_per_s": (PIN[0] / build_s, "triples/s")}
    named.update({k: (v, "s") for k, v in st["runner"].items()})
    return {"fingerprints": st["fps"], "named": named}


def layer_counts(st: dict) -> dict:
    return st["layer_counts"]
