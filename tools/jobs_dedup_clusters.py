"""Spot-verify the dedup_clusters job-halving claim (VERDICT r10 #8):
count Spark jobs per label-propagation iteration for the r10 shape
(_moved flag carried through the eager localCheckpoint, convergence =
filter over the checkpointed frame) vs the r9 shape (a second
updated⋈labels join-job per iteration), on x25's real input path
(rare_shingle_pairs → jaccard ≥ 0.5) at the given SF.

Usage: python tools/jobs_dedup_clusters.py [sf_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shifts_etl_spark.caching import cache_scope
from shifts_etl_spark.operators import dedup
from shifts_etl_spark.session import get_spark
from shifts_etl_spark.sources.tables import load_table


def dedup_clusters_r9(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """The round-9 loop shape: convergence tested with a join-shaped
    changed-count job (updated ⋈ labels) per iteration."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("p"), "node")
            .where(F.col("u.label") != F.col("p.label"))
            .isEmpty()
        )
        labels = updated
        if changed:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster_id"))


def count_jobs(spark, tag: str, fn, pairs) -> tuple[int, float, int]:
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    t0 = time.time()
    with cache_scope():
        n = fn(pairs).count()
    dt = time.time() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
    sc.setJobGroup(None, None)
    return jobs, dt, n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="jobs_dedup_clusters")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()
    cand = dedup.rare_shingle_pairs(docs)
    verified = (
        dedup.ngram_jaccard_pairs(docs, cand)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
        .persist()
    )
    verified.count()  # pin the input so both variants start from the same frame

    for tag, fn in [("r10_flag", dedup.dedup_clusters), ("r9_join", dedup_clusters_r9)]:
        jobs, dt, n = count_jobs(spark, tag, fn, verified)
        print(f"{tag}: jobs={jobs} wall={dt:.2f}s rows={n}")


if __name__ == "__main__":
    main()
