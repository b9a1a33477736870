"""The cache lifecycle (shifts_etl_spark/caching.py): operators record the
caches and local checkpoints their returned frames read with ``scoped``,
and the innermost open ``cache_scope`` releases them on close."""

from __future__ import annotations

import contextvars
import threading

import pytest

from shifts_etl_spark.caching import cache_scope, scoped
from shifts_etl_spark.plans.catalog import CATALOG

from .test_composed_entries import SF_DIR as SF

# every entry whose operators persist or checkpoint a frame that the
# returned lazy frame reads
CACHING_ENTRIES = [
    "x3_dedup_minhash_lsh",
    "x4_dedup_simhash",
    "x6_embedding_nn",
    "x8_sim_topk_lsh",
    "x25_dedup_pipeline",
    "x36_semantic_dedup",
    "x219_greedy_coverage",
    "x239_embedding_nn_lsh",
    "x240_incremental_neardup",
    "x242_incremental_neardup_sidecar",
    "x243_semantic_dedup_bands",
    "x246_embedding_nn_autoband",
    "y2_hard_negatives",
]


@pytest.mark.parametrize("name", CACHING_ENTRIES)
def test_entry_scope_close_leaves_storage_empty(spark, persisted_rdds, name):
    # compared with what the shared session held before, so a leak of an
    # unrelated earlier test cannot fail this one
    before = persisted_rdds()
    with cache_scope():
        CATALOG[name].spark(spark, SF).collect()
    assert persisted_rdds() - before == set()


def test_scoped_outside_a_scope_raises(spark):
    df = spark.range(3).persist()
    try:
        with pytest.raises(RuntimeError, match="cache_scope"):
            contextvars.Context().run(scoped, df)
    finally:
        df.unpersist()


def test_next_entry_build_releases_previous_entry(spark, persisted_rdds):
    before = persisted_rdds()
    CATALOG["x3_dedup_minhash_lsh"].spark(spark, SF).collect()
    assert persisted_rdds() - before  # x3's signature cache is still held
    CATALOG["q2_topk"].spark(spark, SF)
    assert persisted_rdds() - before == set()


def test_closing_a_scope_leaves_another_threads_scope_open(spark):
    opened, other_closed = threading.Event(), threading.Event()
    seen: dict = {}

    def worker():
        with cache_scope():
            df = scoped(spark.range(5).persist())
            df.count()
            opened.set()
            other_closed.wait(timeout=120)
            seen["held"] = df.storageLevel.useMemory
        seen["released"] = not df.storageLevel.useMemory

    t = threading.Thread(target=worker)
    t.start()
    try:
        assert opened.wait(timeout=120)
        with cache_scope():
            scoped(spark.range(7).persist()).count()
    finally:
        other_closed.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert seen == {"held": True, "released": True}
