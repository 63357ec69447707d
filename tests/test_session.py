"""Session configuration: a caller's optimizer-rule exclusions are
merged with the built-in one instead of replacing it, the default
master is sized from the machine, and a spark-submit master stands."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark
import pytest
from pyspark.sql import SparkSession

from kgspark import session as S

REPO = Path(__file__).resolve().parent.parent


def test_excluded_rules_merge():
    infer = S.INFER_FILTERS_FROM_GENERATE
    assert S.excluded_rules("") == infer
    merged = S.excluded_rules(f"a.RuleOne, {infer} ,b.RuleTwo,a.RuleOne")
    assert merged.split(",") == [infer, "a.RuleOne", "b.RuleTwo"]


def _builder_options(monkeypatch, **kw) -> dict:
    """The options ``get_spark(**kw)`` hands the builder; the builder
    is stopped before it touches the running session."""
    seen = {}

    class Stop(Exception):
        pass

    def capture(self):
        seen.update(self._options)
        raise Stop

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Stop):
        S.get_spark(**kw)
    return seen


def test_get_spark_keeps_builtin_exclusion(monkeypatch):
    """A caller's ``excludedRules`` reaches the builder merged."""
    seen = _builder_options(
        monkeypatch, extra_conf={S.EXCLUDED_RULES: "a.RuleOne",
                                 "spark.sql.shuffle.partitions": "3"})
    assert seen[S.EXCLUDED_RULES] == f"{S.INFER_FILTERS_FROM_GENERATE},a.RuleOne"
    assert seen["spark.sql.shuffle.partitions"] == "3"


@pytest.mark.parametrize("cpus, partitions", [(12, "12"), (2, "8")])
def test_default_master_from_cpu_count(monkeypatch, cpus, partitions):
    """Without a master or ``KGSPARK_MASTER``, the session runs on every
    core the machine reports, one shuffle partition per core (at least
    8); the environment variable still overrides the default."""
    monkeypatch.delenv("KGSPARK_MASTER", raising=False)
    monkeypatch.setattr(S.os, "cpu_count", lambda: cpus)
    seen = _builder_options(monkeypatch)
    assert seen["spark.master"] == f"local[{cpus}]"
    assert seen["spark.sql.shuffle.partitions"] == partitions

    monkeypatch.setenv("KGSPARK_MASTER", "local[5]")
    assert _builder_options(monkeypatch)["spark.master"] == "local[5]"


def test_submit_time_master_is_honoured(tmp_path):
    """Under spark-submit the session runs on the submitted master and
    driver memory; an explicit ``master=`` or ``KGSPARK_MASTER`` that
    disagrees raises instead of replacing it."""
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent("""
        import os
        from kgspark.session import get_spark

        try:
            get_spark(master="local[3]")
        except ValueError:
            print("raised arg")
        os.environ["KGSPARK_MASTER"] = "local[3]"
        try:
            get_spark()
        except ValueError:
            print("raised env")
        os.environ["KGSPARK_MASTER"] = "local[2]"
        sc = get_spark().sparkContext
        print("master", sc.master)
        print("memory", sc.getConf().get("spark.driver.memory"))
        sc.stop()
    """))
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = {**os.environ, "PYTHONPATH": str(REPO),
           "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    env.pop("KGSPARK_MASTER", None)
    out = subprocess.run(
        [str(submit), "--master", "local[2]", "--driver-memory", "1g",
         str(probe)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert "master local[2]" in lines, out.stdout
    assert "memory 1g" in lines, out.stdout
    assert "raised arg" in lines and "raised env" in lines, out.stdout
