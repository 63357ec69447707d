"""Session configuration: a caller's optimizer-rule exclusions are
merged with the built-in one instead of replacing it."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from kgspark import session as S


def test_excluded_rules_merge():
    infer = S.INFER_FILTERS_FROM_GENERATE
    assert S.excluded_rules("") == infer
    merged = S.excluded_rules(f"a.RuleOne, {infer} ,b.RuleTwo,a.RuleOne")
    assert merged.split(",") == [infer, "a.RuleOne", "b.RuleTwo"]


def test_get_spark_keeps_builtin_exclusion(monkeypatch):
    """A caller's ``excludedRules`` reaches the builder merged; the
    builder is stopped before it touches the running session."""
    seen = {}

    class Stop(Exception):
        pass

    def capture(self):
        seen.update(self._options)
        raise Stop

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Stop):
        S.get_spark(extra_conf={S.EXCLUDED_RULES: "a.RuleOne",
                                "spark.sql.shuffle.partitions": "3"})
    assert seen[S.EXCLUDED_RULES] == f"{S.INFER_FILTERS_FROM_GENERATE},a.RuleOne"
    assert seen["spark.sql.shuffle.partitions"] == "3"
