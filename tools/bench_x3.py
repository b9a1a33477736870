"""One-off A/B timing for minhash_lsh_pairs bucket-cap strategies.

Usage: python tools/bench_x3.py [sf_dir]
"""

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from shifts_etl_spark.caching import cache_scope
from shifts_etl_spark.operators import dedup
from shifts_etl_spark.session import get_spark
from shifts_etl_spark.sources.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="bench_x3")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()  # warm the scan
    for label, cap in [("cap=None", None), ("cap=500", 500)]:
        for trial in range(3):
            t0 = time.perf_counter()
            with cache_scope():
                n = dedup.minhash_lsh_pairs(docs, max_bucket_size=cap).count()
            dt = time.perf_counter() - t0
            print(f"{label} trial{trial}: {dt:.3f}s ({n} pairs)")


if __name__ == "__main__":
    main()
