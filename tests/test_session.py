"""Session factory settings fail fast: a bad core count or shuffle width
is rejected before any JVM starts, with a message naming the variable."""

from __future__ import annotations

import pytest

from holochatstats_spark import session


class _NoSession:
    """Stands in for SparkSession: any use means a session was started."""

    def __getattr__(self, name):
        raise AssertionError(f"SparkSession.{name} reached before validation")


@pytest.mark.parametrize(
    "var", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"]
)
@pytest.mark.parametrize("value", ["0", "-1", "abc"])
def test_invalid_count_settings_rejected_before_session(monkeypatch, var, value):
    monkeypatch.setattr(session, "SparkSession", _NoSession())
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        session.get_spark("must-not-start")
