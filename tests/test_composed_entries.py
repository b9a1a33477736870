"""Composed-pipeline / linear-scale-mode entries (extensions/composed.py,
x228-x238, merged into the catalog in round 8): each is pinned against
its DuckDB oracle exactly the way the driver's gate compares — row
count, column names, order-insensitive values over name-sorted columns.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from shifts_etl_spark.caching import cache_scope
from shifts_etl_spark.plans.extensions.composed import COMPOSED

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        return v

    return sorted(
        [tuple(cell(r[i]) for i in order) for r in rows], key=repr
    )


@pytest.mark.parametrize("name", sorted(COMPOSED))
def test_composed_entry_matches_oracle(spark, duck, persisted_rdds, name):
    fn, sql = COMPOSED[name]
    before = persisted_rdds()
    with cache_scope():
        sdf = fn(spark, SF_DIR)
        spark_cols = sdf.columns
        spark_rows = sdf.collect()
    assert persisted_rdds() - before == set()
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    assert _canon(spark_rows, spark_cols) == _canon(duck_rows, duck_cols)


def test_catalog_pin_349():
    """Round-10 pin: the 345 of round 9 plus x244 (x33's theta/KMV
    sketches re-keyed to the md5 hash family so the (k-1)/theta
    estimator, union, and intersection are DuckDB-replayable), x245
    (x63's sampled group-by re-keyed to the md5-Bernoulli predicate so
    sample membership and the HT/CLT estimators value-check), x246
    (x239's banded NN with band width auto-sized from the corpus, the
    oracle deriving the same geometry from count(*)), and x247 (x58's
    KLL compaction rule + weighted-rank estimator certified via the
    order-independent one-batch form) — VERDICT r9 #2/#3/#4/#6. Growth
    beyond this needs a deliberate pin bump, not an accidental leak."""
    from shifts_etl_spark.plans.catalog import CATALOG

    assert len(CATALOG) == 349
    for name in COMPOSED:
        assert name in CATALOG
    for name in ("x239_embedding_nn_lsh", "x240_incremental_neardup",
                 "x241_balanced_shards"):
        assert name in CATALOG
