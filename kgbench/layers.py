"""The per-layer metrics of a traced run, named as in BENCHMARK.json.

Every metric is a figure per unit of work, so it does not depend on how
many cycles fit in ``--seconds``: the layers a cycle runs (the build
layers on ``build``; ``rdfio`` and ``sparql`` on ``serve``) are folded
over the spans of the timed cycles and divided by the number of cycles,
or given per operation; ``runner``, ``checkpoint`` and ``catalog`` run
once per traced ``build`` run, in its runner tail (cold, resumed, then
updated after a two-bucket edit), and are folded over that tail alone.
Output-shape counts are fixed by the pinned output, so they are printed
as data-health lines, not metrics.
"""

from __future__ import annotations

import statistics

from kgbench.trace import LAYERS, fold, jobs_in, span_ms, subtree

TAIL = ("runner", "checkpoint", "catalog")
# layers whose wall time (outermost span) is reported next to self time
_WALL = ["fixtures", "extract", "link", "cc", "generate", "pipeline", "runner"]
PER_LAYER = (
    [(f"{layer}.self_s", "s") for layer in LAYERS if layer != "session"]
    + [(f"{layer}.wall_s", "s") for layer in _WALL]
    + [
        ("unattributed.self_s", "s"),
        ("trace.cycle_s", "s"),
        ("fixtures.task_s", "s"),
        ("extract.task_s", "s"), ("extract.jvm_cpu_s", "s"), ("extract.arrow_mb", "MB"),
        ("link.driver_s", "s"), ("link.shuffle_mb", "MB"),
        ("cc.driver_s", "s"), ("cc.jobs", "count"),
        ("generate.shuffle_mb", "MB"),
        ("pipeline.jobs", "count"), ("pipeline.driver_s", "s"),
        ("checkpoint.jobs", "count"), ("checkpoint.buckets_redone", "count"),
        ("runner.jobs", "count"), ("runner.driver_s", "s"),
        ("catalog.write_s", "s"), ("catalog.read_s", "s"),
        ("catalog.write_mb", "MB"), ("catalog.files_written", "count"),
        ("rdfio.store_open_ms", "ms"), ("rdfio.read_ms", "ms"),
        ("rdfio.update_ms", "ms"), ("rdfio.tasks_per_op", "count"),
        ("sparql.plan_ms", "ms"), ("sparql.exec_ms", "ms"),
        ("sparql.jobs_per_query", "count"),
        ("session.gc_s", "s"),
    ]
)
# counts taken once per traced build (the *.rows_out of the forced layer
# outputs are summed over the builds and divided by their number)
HEALTH = ["fixtures.rows_out", "extract.rows_out", "generate.rows_out",
          "link.norms_in", "link.edges_out", "cc.nodes", "cc.max_component"]
_COLS = ["self_s", "wall_s", "driver_s", "jobs", "tasks", "task_s",
         "jvm_cpu_s", "gc_s", "shuffle_mb", "output_mb", "arrow_mb"]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_span(events, spans, name: str, key: str) -> float:
    j = jobs_in(events, spans, name)
    return j[key] / j["spans"] if j["spans"] else 0.0


def per_layer(events, spans: list[dict], counts: dict, n_cycles: int) -> dict:
    """``spans`` holds a root ``run`` span around the timed cycles and,
    in a traced ``build`` run, a root ``tail`` span around the runner
    calls; ``counts`` holds the data-health counts."""
    cyc = fold(events, subtree(spans, "run"))
    tail = fold(events, subtree(spans, "tail"))

    def r(layer: str, col: str) -> float:
        f, n = (tail, 1) if layer in TAIL else (cyc, n_cycles)
        return f["rows"].get(layer, {}).get(col, 0.0) / n

    def total_s(*names) -> float:
        return sum(sum(span_ms(spans, n)) for n in names) / 1000.0

    m = {f"{layer}.self_s": r(layer, "self_s") for layer in LAYERS}
    m.update({f"{layer}.wall_s": r(layer, "wall_s") for layer in _WALL})
    m.update({
        "unattributed.self_s": r("unattributed", "self_s"),
        "trace.cycle_s": cyc["wall_s"] / n_cycles,
        "fixtures.task_s": r("fixtures", "task_s"),
        "extract.task_s": r("extract", "task_s"),
        "extract.jvm_cpu_s": r("extract", "jvm_cpu_s"),
        "extract.arrow_mb": r("extract", "arrow_mb"),
        "link.driver_s": r("link", "driver_s"),
        "link.shuffle_mb": r("link", "shuffle_mb"),
        "cc.driver_s": r("cc", "driver_s"),
        "cc.jobs": r("cc", "jobs"),
        "generate.shuffle_mb": r("generate", "shuffle_mb"),
        "pipeline.jobs": _per_span(events, spans, "pipeline.build", "jobs"),
        "pipeline.driver_s": r("pipeline", "driver_s"),
        "checkpoint.jobs": r("checkpoint", "jobs"),
        "checkpoint.buckets_redone": counts.get("checkpoint.buckets_redone", 0),
        "runner.jobs": r("runner", "jobs"),
        "runner.driver_s": r("runner", "driver_s"),
        "catalog.write_s": total_s("catalog.write", "catalog.write_bucketed", "catalog.append"),
        "catalog.read_s": total_s("catalog.read"),
        "catalog.write_mb": r("catalog", "output_mb"),
        "catalog.files_written": counts.get("catalog.files_written", 0),
        "rdfio.store_open_ms": _med(span_ms(spans, "rdfio.read_nquads_store")),
        "rdfio.read_ms": _med(span_ms(spans, "op.store_read")),
        "rdfio.update_ms": _med(span_ms(spans, "op.store_update")),
        "rdfio.tasks_per_op": (
            _per_span(events, spans, "op.store_read", "tasks")
            + _per_span(events, spans, "op.store_update", "tasks")) / 2,
        "sparql.plan_ms": _med(span_ms(spans, "sparql.plan")),
        "sparql.exec_ms": _med(span_ms(spans, "sparql.exec")),
        "sparql.jobs_per_query": _per_span(events, spans, "op.query", "jobs"),
        "session.gc_s": sum(row["gc_s"] for row in cyc["rows"].values()) / n_cycles,
    })
    metrics = {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER}
    health = {k: counts[k] for k in HEALTH if k in counts}
    text = table(cyc, n_cycles, f"per cycle, mean of {n_cycles} traced cycles")
    if tail["rows"]:
        text += "\n" + table(tail, 1, "runner tail: run_all cold, resumed, then updated")
    return {"metrics": metrics, "health": health, "table": text}


def table(f: dict, n: int, title: str) -> str:
    """Human-readable per-layer table (each figure divided by ``n``);
    self times add up to the wall."""
    rows = f["rows"]
    order = [x for x in LAYERS if x in rows] + ["unattributed"]
    lines = [f"# {title}", f"# {'layer':<13}" + "".join(f"{c:>11}" for c in _COLS)]
    for layer in order:
        row = rows.get(layer, {})
        lines.append(f"# {layer:<13}" + "".join(f"{row.get(c, 0) / n:>11.3f}" for c in _COLS))
    total = sum(rows.get(x, {}).get("self_s", 0.0) for x in order) / n
    lines.append(f"# self times sum to {total:.3f} s of {f['wall_s'] / n:.3f} s traced wall")
    return "\n".join(lines)
