"""Registry↔documentation consistency guards: the SURVEY.md §2
inventory is the graded coverage checklist, so drift between it and
the live `queries()` registry is a correctness bug, not a docs nit."""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    return E.queries(), E.oracle_sql()


def test_survey_inventory_matches_registry():
    queries, oracles = _registry()
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    listed = set(re.findall(r"^\| (\w+) \|", survey, re.M)) - {"key"}
    assert set(queries) == listed, (
        sorted(set(queries) - listed),
        sorted(listed - set(queries)),
    )


def test_every_oracle_has_a_query():
    queries, oracles = _registry()
    assert set(oracles) <= set(queries)


def test_survey_oracle_markers_match():
    """A §2 row marked `sql` must ship an oracle; a row marked `rows`
    must not claim one it doesn't have."""
    queries, oracles = _registry()
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    for key, marker in re.findall(
        r"^\| (\w+) \| .*? \| (sql|rows) \|", survey, re.M
    ):
        if key not in queries:
            continue
        if marker == "sql":
            assert key in oracles, f"{key} marked sql but has no oracle"
        else:
            assert key not in oracles, f"{key} marked rows but has an oracle"


def test_no_oracle_emits_hugeint():
    """DuckDB widens integer SUMs to HUGEINT, which has no int64
    representation — the driver's typed value-hash then diverges from
    Spark's LongType even when every value matches (root cause of the 7
    round-1 hash_match failures). Every integer aggregate in an oracle
    must be CAST(... AS BIGINT)."""
    import duckdb

    from tests.conftest import SF_DIR

    _, oracles = _registry()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders = {}
    for key, sql in sorted(oracles.items()):
        rel = con.sql(sql)
        cols = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if "HUGEINT" in str(ty).upper()
        ]
        if cols:
            offenders[key] = cols
    assert not offenders, offenders


def test_broken_module_fails_the_registry(monkeypatch):
    """A module that cannot be imported must fail the registry loudly,
    not silently drop its family from the benchmark and the oracle gate."""
    import sys

    import pytest

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    monkeypatch.setitem(
        sys.modules,
        "blog_snapshotbackup_azuredatalake_spark.operators.sketch",
        None,
    )
    with pytest.raises(ImportError):
        E.queries()
