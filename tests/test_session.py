"""get_spark's SPARK_GRAFT_CONF override check."""

from __future__ import annotations

from mapreduce_llm_spark.session import get_spark

STATIC_KEY = "spark.sql.streaming.ui.enabled"


def test_conf_override_already_in_effect_prints_no_warning(spark, monkeypatch, capsys):
    """A running session keeps its static SQL confs and reads them back
    in Spark's spelling ("true"). An override whose value is already in
    effect, written in another case, is not a missed override."""
    assert spark.conf.get(STATIC_KEY) == "true"
    monkeypatch.setenv("SPARK_GRAFT_CONF", f"{STATIC_KEY}=TRUE")
    get_spark(app_name="mapreduce_llm_spark-tests")
    assert "WARNING" not in capsys.readouterr().err
