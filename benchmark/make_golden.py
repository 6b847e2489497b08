"""Rebuild ``golden.json``: the catalog sweep's expected result digests.

    python3 benchmark/make_golden.py

Runs every query of the sweep in Spark and its ``QueryDef.oracle`` in
DuckDB over the same tables, and writes a digest only for queries whose
two results agree. Run it when the query list or the tables change.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH_DIR.parent), str(BENCH_DIR)]

import workloads  # noqa: E402


def main() -> int:
    from postgresimporter_spark.functions import register_all
    from postgresimporter_spark.plans import registry
    from postgresimporter_spark.session import get_spark

    spark = get_spark()
    register_all(spark)
    reg = registry()
    sf = workloads.catalog_dir()
    con = workloads.duckdb_oracle(sf)
    out, bad = {}, []
    for q in workloads.CATALOG_QUERIES:
        got = workloads.result_digest(reg[q].fn(spark, str(sf)).collect())
        want = workloads.oracle_digest(con, reg[q])
        print(q, got, "oracle", want, flush=True)
        if got != want:
            bad.append(q)
        out[q] = {"rows": got[0], "digest": got[1]}
    spark.stop()
    if bad:
        print("Spark and the oracle disagree on", bad, file=sys.stderr)
        return 1
    (BENCH_DIR / "golden.json").write_text(
        json.dumps({"sf": sf.name, "queries": out}, indent=2) + "\n"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
