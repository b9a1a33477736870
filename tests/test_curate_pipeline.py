"""End-to-end composed curation pipeline (VERDICT r5 "Next round" #5):
pipeline.curate() chains the individually-verified operators — exact
dedup (x1/x2) → near-dup canonical election (x67/x84) → duplicate-span
scrub (x85–x87) → calibrated quality filter (x88/x222) → temperature
mixture (x50/x71) → leakage-safe split (x53/x24) — and this test pins the
stage-by-stage row/char accounting at sf0.1, over the real documents
table PLUS planted adversarial docs that force every stage to fire.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shifts_etl_spark.caching import cache_scope
from shifts_etl_spark.operators.textstats import normalize_text
from shifts_etl_spark.pipeline import curate

SF_DIR = "/root/testdata/sf0.1"

BOILER = "COPYRIGHT NOTICE ALL RIGHTS RESERVED REDISTRIBUTION FORBIDDEN! " * 3

STAGES = [
    "ingest",
    "pii_scrub",
    "exact_dedup",
    "neardup_canonical",
    "span_scrub",
    "quality_filter",
    "mixture_draw",
    "split",
]


@pytest.fixture(scope="module")
def curated(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    base = (
        "the quick brown fox jumps over the lazy dog while many other "
        "common words keep the quality score reasonable for this text "
    ) * 3
    planted = [
        # exact duplicates of one real doc's text (normalized-identical)
        (100000, "srcP", base),
        (100001, "srcP", base),
        (100002, "srcP", base.upper()),  # normalized-equal -> exact dup too
        # boilerplate carriers: unique body + a shared >=40-char block
        (100010, "srcP", f"unique preamble alpha with several words {BOILER} unique tail alpha"),
        (100011, "srcP", f"unique preamble bravo with several words {BOILER} unique tail bravo"),
        (100012, "srcP", f"unique preamble charlie with several words {BOILER} unique tail charlie"),
        # mostly-boilerplate doc -> span stage must DROP it
        (100020, "srcP", BOILER + BOILER),
        # junk-quality doc (all digits, no stopwords) -> quality filter
        (100030, "srcP", "9" * 400),
    ]
    extra = spark.createDataFrame(
        planted, "doc_id long, source string, text string"
    )
    all_docs = docs.unionByName(extra)
    # module-scoped fixtures set up before the per-test cache scope, so
    # the module's tests share this scope and the persisted curated frame
    with cache_scope():
        out, ledger = curate(
            spark,
            all_docs,
            budget_docs=800,
            min_quality=0.5,
            span_drop_frac=0.8,
        )
        out.count()
        yield out, ledger, all_docs


def test_ledger_shape_and_monotonic_docs(curated):
    _, ledger, _ = curated
    assert [r["stage"] for r in ledger] == STAGES
    counts = [r["n_docs"] for r in ledger]
    assert counts == sorted(counts, reverse=True)
    # accounting arithmetic: docs_dropped/chars_removed are exact deltas
    for prev, cur in zip(ledger, ledger[1:]):
        assert cur["docs_dropped"] == prev["n_docs"] - cur["n_docs"]
        assert cur["chars_removed"] == prev["n_chars"] - cur["n_chars"]


def test_each_stage_fired(curated):
    _, ledger, _ = curated
    by = {r["stage"]: r for r in ledger}
    assert by["ingest"]["n_docs"] == 5000 + 8
    # 3 exact copies of `base` -> 2 dropped
    assert by["exact_dedup"]["docs_dropped"] >= 2
    # sf0.1 documents carry planted near-dup clusters; election drops >0
    assert by["neardup_canonical"]["docs_dropped"] > 0
    # the pure-boilerplate doc is dropped AND/OR carriers lose chars
    assert (
        by["span_scrub"]["docs_dropped"] >= 1
        or by["span_scrub"]["chars_removed"] > 0
    )
    assert by["quality_filter"]["docs_dropped"] >= 1  # the digit junk doc
    assert by["mixture_draw"]["n_docs"] == 800
    assert by["split"]["n_docs"] == 800
    assert by["split"]["docs_dropped"] == 0


def test_planted_docs_fate(curated):
    out, _, _ = curated
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # at most one of the three exact copies can survive
    assert len(ids & {100000, 100001, 100002}) <= 1
    # the all-boilerplate and junk docs never reach the output
    assert 100020 not in ids
    assert 100030 not in ids


def test_boilerplate_scrubbed_from_survivors(curated):
    out, _, _ = curated
    carriers = out.where(F.col("doc_id").isin(100010, 100011, 100012))
    for r in carriers.collect():
        assert BOILER.strip() not in r.text  # the shared block was cut
        assert "unique preamble" in r.text  # the unique body survived


def test_split_fractions_and_leakage(curated):
    out, _, _ = curated
    n = out.count()
    frac = {
        r.split: r["count"] / n
        for r in out.groupBy("split").count().collect()
    }
    assert 0.70 <= frac.get("train", 0) <= 0.90
    assert 0.03 <= frac.get("val", 0) <= 0.20
    assert 0.03 <= frac.get("test", 0) <= 0.20
    # leakage-safe BY CONSTRUCTION: a normalized 160-char fingerprint
    # never spans two splits
    fp = F.md5(F.substring(normalize_text(F.col("text")), 1, 160))
    leaks = (
        out.select(fp.alias("fp"), "split")
        .groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert leaks == 0


def test_mixture_respects_allocation(curated):
    out, _, all_docs = curated
    # re-deriving the allocation on the pre-mixture survivors would re-run
    # the whole chain; instead check the output-level invariants the
    # largest-remainder draw guarantees: exact total and no source above
    # its pre-mixture document count.
    per_source = {
        r.source: r["count"] for r in out.groupBy("source").count().collect()
    }
    assert sum(per_source.values()) == 800
    avail = {
        r.source: r["count"]
        for r in all_docs.groupBy("source").count().collect()
    }
    for s, got in per_source.items():
        assert got <= avail[s]


def test_optional_stages(spark):
    """eval_docs adds a decontaminate stage that drops overlapping docs;
    pii_scrub=False removes the pii stage; PII-only variants dedup as
    exact copies when the scrub is on."""
    base = (
        "the quick brown fox jumps over the lazy dog and many common "
        "words fill this reasonably long benchmark sentence nicely "
    ) * 2
    docs = spark.createDataFrame(
        [
            (1, "s0", base + " trailing corpus-only suffix words here"),
            # PII-only variants of one text -> exact dups after scrub
            (2, "s0", "contact alice@example.com about the quarterly report today"),
            (3, "s0", "contact bob@other.org about the quarterly report today"),
            (4, "s1", "a completely unrelated document about gardens and rivers flowing"),
            (5, "s1", "another unrelated document on mountains weather and hiking trails"),
        ],
        "doc_id long, source string, text string",
    )
    eval_docs = spark.createDataFrame(
        [(900, base)], "doc_id long, text string"
    )
    out, ledger = curate(
        spark,
        docs,
        budget_docs=3,
        min_quality=0.0,
        eval_docs=eval_docs,
        max_contamination=0.2,
    )
    stages = [r["stage"] for r in ledger]
    assert "decontaminate" in stages and "pii_scrub" in stages
    by = {r["stage"]: r for r in ledger}
    assert by["decontaminate"]["docs_dropped"] >= 1  # doc 1 overlaps base
    ids = {r.doc_id for r in out.collect()}
    assert 1 not in ids
    # docs 2/3 differ only in the email -> exact dups post-scrub
    assert by["exact_dedup"]["docs_dropped"] >= 1
    assert len(ids & {2, 3}) <= 1

    _, ledger_off = curate(
        spark, docs, budget_docs=3, min_quality=0.0, pii_scrub=False
    )
    assert "pii_scrub" not in [r["stage"] for r in ledger_off]


def test_persisted_output(spark, tmp_path):
    """output_dir writes curated + ledger as one atomic StagedWriter
    batch; what lands on disk equals what curate() returned."""
    from shifts_etl_spark.sinks.staged import StagedWriter

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source", "text")
        .limit(500)
    )
    out, ledger = curate(
        spark, docs, budget_docs=100, output_dir=str(tmp_path)
    )
    w = StagedWriter(str(tmp_path))
    disk = w.read_table(spark, "curated")
    assert disk.count() == out.count() == 100
    led = {r.stage: r for r in w.read_table(spark, "curation_ledger").collect()}
    assert led["ingest"].n_docs == 500
    assert led["split"].n_docs == 100
    assert [r["stage"] for r in ledger] == STAGES


def test_curate_deterministic_under_partitioning(spark):
    """Same corpus, different physical layout -> identical admitted ids,
    splits, and ledger (the determinism_check contract applied to the
    composed pipeline: every stage is md5-keyed or integer-exact rank
    arithmetic, so partitioning must not leak into results)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out_a, led_a = curate(spark, docs.repartition(4), budget_docs=120)
    out_b, led_b = curate(spark, docs.repartition(31, "source"), budget_docs=120)
    rows_a = sorted((r.doc_id, r.split) for r in out_a.collect())
    rows_b = sorted((r.doc_id, r.split) for r in out_b.collect())
    assert rows_a == rows_b
    assert led_a == led_b


def test_degenerate_corpora(spark):
    """Empty and single-doc corpora run the full chain without error."""
    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    out, led = curate(spark, empty, budget_docs=10)
    assert out.count() == 0
    assert all(r["n_docs"] == 0 for r in led)
    one = spark.createDataFrame(
        [(1, "s0", "the quick brown fox jumps over the lazy dog with many common words here")],
        "doc_id long, source string, text string",
    )
    out, led = curate(spark, one, budget_docs=10)
    assert out.count() == 1


def test_token_budget_mode(spark):
    """budget_tokens swaps the mixture stage for x90's per-source
    quality-greedy token selection: every source's admitted token total
    stays within the quota."""
    from shifts_etl_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out, ledger = curate(spark, docs, budget_tokens=400)
    stages = [r["stage"] for r in ledger]
    assert "token_budget" in stages and "mixture_draw" not in stages
    per_source = (
        out.select("source", token_count(F.col("text")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("tot"))
        .collect()
    )
    assert per_source
    for r in per_source:
        assert r.tot <= 400


def test_minhash_neardup_method(spark):
    """neardup_method='minhash' routes candidate generation through the
    banded-LSH + Jaccard-confirm chain; planted paraphrase copies still
    collapse to the best-quality representative."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest while many ordinary words pad this out "
    ) * 2
    docs = spark.createDataFrame(
        [
            (1, "s0", base + "tail variant one"),
            (2, "s0", base + "tail variant two differs slightly"),
            (3, "s1", "a completely different document about rivers and gardens and sunshine today"),
        ],
        "doc_id long, source string, text string",
    )
    out, ledger = curate(
        spark,
        docs,
        budget_docs=3,
        # high temperature flattens the token-share mixture so the small
        # source is allocated a slot (at T=0.7 the token-heavy source
        # would win all three by largest remainder — correct, but not
        # what this test is about)
        temperature=5.0,
        min_quality=0.0,
        neardup_method="minhash",
        neardup_threshold=0.5,
    )
    by = {r["stage"]: r for r in ledger}
    assert by["neardup_canonical"]["docs_dropped"] == 1  # one of 1/2
    ids = {r.doc_id for r in out.collect()}
    assert 3 in ids and len(ids & {1, 2}) == 1


def test_unknown_neardup_method_raises(spark):
    docs = spark.createDataFrame(
        [(1, "s0", "some words here")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="neardup_method"):
        curate(spark, docs, neardup_method="minhsah")


def test_lsh_kwargs_with_blocked_method_raises(spark):
    """neardup_lsh_kwargs only makes sense for the minhash arm — with
    the blocked method it would be silently ignored, so it fails fast
    at entry like the other config validations."""
    docs = spark.createDataFrame(
        [(1, "s0", "some words here")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="neardup_lsh_kwargs"):
        curate(spark, docs, neardup_lsh_kwargs={"hash_fn": "md5"})
