"""Every driver-facing query hash-matches its DuckDB oracle at
sf0.001 (fast) — the same check the driver runs at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flink_assignment_spark.queries.synthetic import REGISTRY

from .conftest import SF_DIR
from .oracle_harness import compare

ORACLE_QUERIES = [name for name, spec in REGISTRY.items() if spec.oracle is not None]

REFERENCE_QUERIES = [
    "q01_filter_project", "q02_explode_filter", "q03_keyed_count",
    "q03_running_count", "q04_keyed_sum", "q05_tumbling_daily",
    "q06_sliding_windows", "q07_daily_summary_having",
    "q08_interval_join_weekly", "q09_followed_by",
]


def test_registry_leads_with_reference_queries():
    """Registry order is definition order, so __spark_entry__.queries()
    leads with the reference-parity set."""
    assert list(REGISTRY)[: len(REFERENCE_QUERIES)] == REFERENCE_QUERIES


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, SF_DIR)
    # flat schema only: the driver canonicalizes with pandas sort_values,
    # which cannot sort list-valued cells
    nested = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not nested, f"{name} has unsortable columns: {nested}"
    n = compare(df, spec.oracle, SF_DIR)
    # every query should produce SOMETHING at sf0.001 (empty results
    # would make the oracle check vacuous) — known-empty ones excepted
    if name not in ():
        assert n > 0, f"{name} returned 0 rows — vacuous oracle check"


def test_shared_occ_survives_clear_cache(spark):
    """The memoized substring index must re-persist itself after a
    session-wide clearCache() (bench.py runs one per query) — the
    round-9 finding was that the unpersisted handle silently rebuilt
    the full stride-1 index on every later action."""
    from pyspark import StorageLevel

    from flink_assignment_spark.queries.synthetic import _OCC_MEMO, _shared_occ

    first = _shared_occ(spark, SF_DIR)
    assert first.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert first.storageLevel == StorageLevel.NONE  # the failure mode
    again = _shared_occ(spark, SF_DIR)
    assert again is first  # same memoized handle ...
    assert again.storageLevel != StorageLevel.NONE  # ... re-persisted
    # leave the session clean for other tests
    spark.catalog.clearCache()
    _OCC_MEMO.clear()


def test_shared_shingles_survives_clear_cache(spark):
    """The q15/q16/q94/q117 shared shingle index carries the same
    clearCache-survival contract as the substring index memo."""
    from pyspark import StorageLevel

    from flink_assignment_spark.queries.synthetic import (
        _SHINGLE_MEMO,
        _shared_shingles,
    )

    first = _shared_shingles(spark, SF_DIR)
    assert first.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert first.storageLevel == StorageLevel.NONE
    again = _shared_shingles(spark, SF_DIR)
    assert again is first
    assert again.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    _SHINGLE_MEMO.clear()
