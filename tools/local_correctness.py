#!/usr/bin/env python
"""Full-registry local correctness artifact (README "Correctness").

Runs every registry entry against its DuckDB oracle under a plain
SparkSession (no engine confs) at sf0.01, and writes
``CORRECTNESS_LOCAL_r{N}.json`` with the row shape of the
``CORRECTNESS_r*.json`` sheets: per query ``{rows, schema, hash, err}``
booleans.

Usage: ``python tools/local_correctness.py <round>`` (writes
``CORRECTNESS_LOCAL_r<round, two digits>.json`` at the repo root).
"""

from __future__ import annotations

import json
import os
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_LOCAL_SF", "/root/testdata/sf0.01")


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rnd = int(sys.argv[1])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("local-correctness")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from scraping_etl_spark.plans.registry import QUERIES
    from tests.oracle import assert_matches_oracle

    results: dict[str, dict] = {}
    n_ok = 0
    for spec in QUERIES:
        row = {"rows": None, "schema": None, "hash": None, "err": None}
        try:
            out = spec.fn(spark, SF_DIR)
            sql = spec.oracle(SF_DIR) if callable(spec.oracle) else spec.oracle
            assert_matches_oracle(out, sql, SF_DIR)
            row.update(rows=True, schema=True, hash=True)
            n_ok += 1
        except Exception as e:  # noqa: BLE001 — recorded, not fatal
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        results[spec.name] = row
        tag = "OK  " if row["err"] is None else "FAIL"
        print(f"{tag} {spec.name}" + ("" if row["err"] is None else f": {row['err']}"))

    out_path = os.path.join(repo, f"CORRECTNESS_LOCAL_r{rnd:02d}.json")
    with open(out_path, "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "n_queries": len(QUERIES), "n_ok": n_ok,
             "results": results},
            f, indent=1, sort_keys=True,
        )
    print(f"{n_ok}/{len(QUERIES)} green -> {out_path}")
    return 0 if n_ok == len(QUERIES) else 1


if __name__ == "__main__":
    raise SystemExit(main())
