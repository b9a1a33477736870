"""Workload ``curate_minhash``: the catalog entry
``x234_curation_ledger_minhash``, which runs ``pipeline.curate`` with
``budget_docs=200`` and banded MinHash-LSH near-dup detection with the md5
hash family, unpersists the curated frame and returns the per-stage ledger
as a DataFrame.

The input is a fixed slice of the testdata's sf0.1 ``documents`` table (the
first 1,000 documents), kept in ``perfbench/data/documents.parquet``; the
seed changes nothing. One job builds the ledger DataFrame from the catalog
spec (``plans.build_s``, which holds the whole ``curate()`` call) and
collects it. Every job's ledger is checked against the x234 DuckDB
oracle's ledger for the same file, kept in
``perfbench/data/curate_minhash_ledger.json``. ``make_curate_data.py``
writes both files.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
QUERY = "x234_curation_ledger_minhash"


class Workload:
    seeded = False  # the input is the fixed file; the seed changes nothing

    def __init__(self, ctx):
        self.ctx = ctx
        self.build_s: list[float] = []

    def prepare_inputs(self) -> None:
        self.expected = json.loads((DATA / "curate_minhash_ledger.json").read_text())["ledger"]

    def start(self, spark) -> None:
        from shifts_etl_spark.plans.catalog import CATALOG

        self.spark = spark
        self.spec = CATALOG[QUERY]
        if self.ctx.tracer is not None:
            self._patch_layers(self.ctx.tracer)

    @staticmethod
    def _patch_layers(tracer) -> None:
        from shifts_etl_spark import pipeline
        from shifts_etl_spark.operators import curation, dedup

        tracer.patch(pipeline, "curate", "pipeline.curate")
        for name in ("exact_dedup_normalized", "minhash_dedup_components", "scrub_duplicate_spans"):
            tracer.patch(dedup, name, f"dedup.{name}")
        for name in ("calibrate_quality", "materialize_mixture"):
            tracer.patch(curation, name, f"curation.{name}")

    def run_job(self) -> tuple[float, list]:
        tracer = self.ctx.tracer
        root = tracer.open("plans.x234") if tracer and tracer.enabled else None
        try:
            t0 = time.perf_counter()
            df = self.spec.spark(self.spark, str(DATA))
            t1 = time.perf_counter()
            rows = df.collect()
            elapsed = time.perf_counter() - t0
        finally:
            if root is not None:
                tracer.close(root)
        self.build_s.append(t1 - t0)
        return elapsed, rows

    def check_job(self, rows) -> bool:
        got = [list(r) for r in rows]
        if got != self.expected:
            self.ctx.log(f"ledger {got} != {self.expected}")
            return False
        return True

    def layer_metrics(self, measured: dict[str, float]) -> dict[str, float]:
        return {"plans.build_s": statistics.median(self.build_s)}

    def stop(self) -> None:
        pass
