"""Graduated-oracle invariant (queries/future_oracles.py): every
GRADUATED_ORACLES entry is registered with exactly that SQL, so a
graduation cannot silently fork from the text its declaration names.
The hash check itself is tests/test_oracle_queries.py."""

from __future__ import annotations

from mapreduce_llm_spark import registry
from mapreduce_llm_spark.queries.future_oracles import GRADUATED_ORACLES

registry.load_all()


def test_graduated_names_are_registered_with_staged_sql():
    assert GRADUATED_ORACLES, "graduation batch unexpectedly empty"
    for name, sql in GRADUATED_ORACLES.items():
        assert name in registry.QUERIES, name
        assert registry.ORACLE.get(name) == sql, (
            f"{name} is graduated but its registered oracle SQL differs "
            "from the staged (hash-proven) text"
        )
