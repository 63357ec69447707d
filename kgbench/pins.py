"""Recompute the pinned output of the benchmark corpus.

    python3 kgbench/pins.py

Builds each workload's corpus in memory with ``pipeline.run_pipeline`` at
the doc_id offsets of two seeds and prints its ``PIN`` — the distinct
(s,p,o) count and offset-normalised fingerprint — for
``kgbench/wl_build.py`` and ``kgbench/wl_serve.py``.  The two builds must
agree, or the pin would not hold for every seed.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench import run  # noqa: E402


def main() -> int:
    from kgspark.pipeline import run_pipeline

    from kgbench import inputs as I
    from kgbench import wl_build, wl_serve
    from kgbench.checks import fingerprint

    work = os.path.join(run.WORK_ROOT, f"pins-{os.getpid()}")
    spark = run.start_session(work, traced=False)
    status = 0
    try:
        for wl in (wl_build, wl_serve):
            docs = I.corpus(wl.N_DOCS)
            pins = set()
            for seed in (1, 2):
                off = I.offset(seed)
                src = I.write_inputs(os.path.join(work, f"{wl.N_DOCS}-{seed}"),
                                     docs.assign(doc_id=docs["doc_id"] + off))
                pins.add(fingerprint(run_pipeline(spark, src).triples, off))
            if len(pins) != 1:
                print(f"{wl.__name__}: builds at two offsets disagree: {pins}", file=sys.stderr)
                status = 1
            print(f"{wl.__name__}.PIN = {pins.pop()}")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
