"""Session configuration: a caller's optimizer-rule exclusions are
merged with the built-in one instead of replacing it, and the default
master is sized from the machine."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from kgspark import session as S


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
