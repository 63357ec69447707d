"""kgspark benchmark: one closed-loop client on a local[nproc] session.

    python3 kgbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

Run from the repository root.  Every input is generated from ``--seed``
under ``.kgbench_work/`` and removed at exit.  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` a per-layer table folded from Spark's
event log and the benchmark's spans; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  Workloads,
metrics and bounds are declared in BENCHMARK.json; NOTES.md says why.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".kgbench_work")

E2E = [("setup_s", "s"), ("cycle_s", "s"), ("rss_p50_mb", "MB")]


def machine() -> tuple[int, int]:
    """(cores, driver memory in MiB): local[nproc] and a quarter of
    MemAvailable, clamped to [1 GiB, 2 GiB].  The machine is shared, and
    a heap that fills to the same cap every run keeps resident memory
    comparable between runs."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return cores, max(1024, min(2048, avail_kb // 4096))


class MemorySampler(threading.Thread):
    """Summed proportional set size (Pss) of every process this one
    started — the driver JVM and its Python workers — sampled every
    ``period`` seconds as (perf_counter, KiB)."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[tuple[float, int]] = []
        self._halt = threading.Event()

    @staticmethod
    def _descendants(root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], list(kids.get(root, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._halt.wait(self.period):
            kb = sum(self._pss_kb(p) for p in self._descendants(os.getpid()))
            self.samples.append((time.perf_counter(), kb))

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)

    def mb(self, t0: float, t1: float) -> tuple[float, float]:
        """(median, peak) in MiB of the samples taken between t0 and t1."""
        kb = [k for t, k in self.samples if t0 <= t <= t1] or [0]
        return statistics.median(kb) / 1024.0, max(kb) / 1024.0


def start_session(work: str, traced: bool):
    """The engine's session (kgspark.session.get_spark) sized from this
    machine, with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import kgspark: without the repo root on their path
    # mapInPandas fails with ModuleNotFoundError when launched elsewhere.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from kgspark.session import get_spark

    cores, mem_mb = machine()
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="kgbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = MemorySampler._descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python worker daemon outlives the JVM until it reads EOF
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                break
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


class Ctx:
    """What a workload needs: the session, tracer, seed, run length and
    a fresh work directory."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark, self.tr = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.failed = self.attempted = 0
        self.errors: list[str] = []

    def op(self, kind: str, fn, check=None) -> tuple[float, object]:
        """Run one timed operation; an exception or a failed ``check`` of
        its result counts it as failed.  Returns (ms, result)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # one failed operation must not end the run
            ms = 1000.0 * (time.perf_counter() - t)
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return ms, None
        ms = 1000.0 * (time.perf_counter() - t)
        if check is not None:
            with self.tr.span(f"check.{kind}"):
                try:
                    ok = check(out)
                except Exception as e:
                    ok = False
                    self.errors.append(f"{kind} check: {type(e).__name__}: {e}")
            if not ok:
                self.fail(f"{kind}: wrong answer")
        return ms, out

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import kgspark  # noqa: F401  (fail before any output when it is missing)

    from kgbench import trace, wl_build, wl_serve

    wl = {"build": wl_build, "serve": wl_serve}[args.workload]
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mem = MemorySampler()
    mem.start()
    spark = None
    try:
        spark = start_session(work, traced=bool(args.trace))
        tracer = trace.Tracer(spark, run_id, enabled=False)  # set-up is not traced
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
        state = wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        tracer.enabled = bool(args.trace)

        # an untraced run times at least two cycles: the first timed build
        # is 1-2 s slower than the next, and a run that timed it alone read
        # high; a traced run reports per-cycle means and must leave time
        # for its runner tail
        min_cycles = 1 if args.trace else 2
        cycles, t0 = [], time.perf_counter()
        with ctx.tr.span("run"):
            while len(cycles) < min_cycles or time.perf_counter() - t0 < args.seconds:
                c0 = time.perf_counter()
                ops = wl.cycle(ctx, state, len(cycles))
                cycles.append({"wall_s": time.perf_counter() - c0, "ops": ops})
        t1 = time.perf_counter()
        if args.trace and hasattr(wl, "traced_tail"):
            with ctx.tr.span("tail"):
                wl.traced_tail(ctx, state)
        result = wl.report(ctx, state, cycles)
        if args.trace:
            spark.stop()  # flushes the event log
            layers = fold_trace(ctx, wl.layer_counts(state), len(cycles), work)
        stop_session(spark)
        spark = None
    finally:
        mem.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    rss_mb, peak_mb = mem.mb(t0, t1)
    all_ms = [ms for c in cycles for _, ms in c["ops"]]
    e2e = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(c["wall_s"] for c in cycles),
        "rss_p50_mb": rss_mb,
    }
    named = dict(result["named"], op_p50_ms=(statistics.median(all_ms), "ms"),
                 setup_s=(setup_s, "s"),
                 rss_p50_mb=(rss_mb, "MB"), peak_rss_mb=(peak_mb, "MB"),
                 error_rate=(ctx.failed / max(1, ctx.attempted), "ratio"))
    print(f"# kgbench {args.workload} seed={args.seed} cycles={len(cycles)} "
          f"ops={ctx.attempted} failed={ctx.failed}")
    for k, (v, unit) in named.items():
        print(f"#   {k:<22} {v:>14.4f} {unit}")
    for msg in ctx.errors[:20]:
        print(f"# error: {msg}")
    correct = ctx.failed == 0 and not ctx.errors
    if args.trace:
        metrics = layers["metrics"]
        print(layers["table"])
        for k, v in layers["health"].items():
            print(f"# data health: {k} = {v:g} per build")
        record_trace(args, cycles, layers, result)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        record_untraced(args, cycles, result)
    print(json.dumps({"correct": bool(correct), "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


def _results_dir() -> str:
    d = os.path.join(WORK_ROOT, "results")
    os.makedirs(d, exist_ok=True)
    return d


def _results_path(args, traced: int) -> str:
    return os.path.join(_results_dir(), f"{args.workload}-{args.seed}-trace{traced}.json")


def record_untraced(args, cycles, result) -> None:
    with open(_results_path(args, 0), "w") as f:
        json.dump({"cycle_walls_s": [c["wall_s"] for c in cycles],
                   "fingerprints": result["fingerprints"]}, f)


def _distinct(fps: list) -> list[str]:
    return sorted({json.dumps(f, sort_keys=True) for f in fps})


def record_trace(args, cycles, layers, result) -> None:
    """Report tracing overhead and fingerprint agreement against the last
    untraced run of the same workload and seed in this checkout."""
    ref = _results_path(args, 0)
    if os.path.exists(ref):
        with open(ref) as f:
            base = json.load(f)
        walls = [c["wall_s"] for c in cycles]
        over = statistics.median(walls) - statistics.median(base["cycle_walls_s"])
        same = _distinct(base["fingerprints"]) == _distinct(result["fingerprints"])
        print(f"# tracing overhead: {over:+.3f} s per cycle "
              f"(traced {statistics.median(walls):.3f} s, untraced "
              f"{statistics.median(base['cycle_walls_s']):.3f} s)")
        print(f"# output fingerprints equal to the untraced run: {same}")
    else:
        print("# tracing overhead: no untraced run of this seed recorded; "
              "run --trace 0 with the same seed first")
    with open(_results_path(args, 1), "w") as f:
        json.dump({"metrics": layers["metrics"],
                   "fingerprints": result["fingerprints"]}, f)


def fold_trace(ctx, counts: dict, n_cycles: int, work: str) -> dict:
    """Write the spans out and fold them with the event log into the
    per-layer metrics; the rows counted at each forced layer output are
    summed over the builds, so they are divided by their number."""
    from kgbench import layers, trace

    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    events = trace.read_event_log(logs[0]) if logs else []
    ctx.tr.dump(os.path.join(_results_dir(), f"{ctx.tr.run_id}-spans.json"))
    counts = dict({k: v / n_cycles for k, v in ctx.tr.counts.items()}, **counts)
    return layers.per_layer(events, ctx.tr.spans, counts, n_cycles)


if __name__ == "__main__":
    sys.exit(main())
