"""Write the fixed input and the expected ledger of workload ``curate_minhash``.

    python3 perfbench/make_curate_data.py --testdata <dir with documents.parquet> [--docs 1000]

Run from the root of a checkout. It copies the first ``--docs`` documents
(by ``doc_id``) of the testdata's ``documents`` table to
``perfbench/data/documents.parquet`` and runs the catalog's DuckDB oracle
of ``x234_curation_ledger_minhash`` over that file, writing the ledger to
``perfbench/data/curate_minhash_ledger.json``. The benchmark itself reads
only these two files.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA = Path(__file__).resolve().parent / "data"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--testdata", required=True, type=Path)
    ap.add_argument("--docs", type=int, default=1000)
    args = ap.parse_args()

    import duckdb

    sys.path.insert(0, str(ROOT))
    from shifts_etl_spark.plans.catalog import CATALOG

    DATA.mkdir(exist_ok=True)
    out = DATA / "documents.parquet"
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{args.testdata / 'documents.parquet'}')"
            f" WHERE doc_id < {args.docs} ORDER BY doc_id)"
            f" TO '{out}' (FORMAT parquet)"
        )
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}')")
        rows = con.execute(CATALOG["x234_curation_ledger_minhash"].oracle).fetchall()
    finally:
        con.close()
    ledger = [[r[0]] + [int(v) for v in r[1:]] for r in rows]
    rows_text = ",\n  ".join(json.dumps(r) for r in ledger)
    (DATA / "curate_minhash_ledger.json").write_text(
        f'{{"docs": {args.docs},\n "ledger": [\n  {rows_text}\n ]}}\n'
    )
    print(json.dumps(ledger))
    return 0


if __name__ == "__main__":
    sys.exit(main())
