#!/usr/bin/env python3
"""Regenerate ``expected.json``: the canonical result hash of every
batch_sql query on each staged tier.

    python3 perfbench/make_expected.py

Each hash comes from the DuckDB oracle the query declares; the Spark
result must agree, or the query is reported and left out.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def query_hashes(spark, tier: str, run_dir: str) -> dict:
    import duckdb
    import staging
    from batch import QUERIES
    from pravega_flink_ai_flow_spark.queries import load_all

    registry = load_all()
    tier_dir = staging.batch_tier(tier, run_dir)
    con = duckdb.connect()
    for fname in sorted(os.listdir(tier_dir)):
        if fname.endswith(".parquet"):
            con.sql(f"CREATE VIEW {fname[:-8]} AS "
                    f"SELECT * FROM '{tier_dir}/{fname}'")
    out = {}
    for q in QUERIES:
        df = registry[q].fn(spark, tier_dir)
        rows = df.collect()
        spark_hash = common.rows_hash(df.columns, rows)
        rel = con.sql(registry[q].oracle)
        duck_hash = common.rows_hash(rel.columns, rel.fetchall())
        if duck_hash != spark_hash:
            print(f"MISMATCH {tier} {q}: spark and DuckDB differ",
                  file=sys.stderr)
            continue
        if not rows:
            print(f"EMPTY {tier} {q}", file=sys.stderr)
            continue
        out[q] = {"sha256": duck_hash, "rows": len(rows),
                  "source": "duckdb"}
        print(f"{tier} {q}: {len(rows)} rows")
    con.close()
    return out


def main() -> int:
    run_dir = common.new_run_dir("expected")
    common.prepare_environment(run_dir)
    spark = common.start_spark("perfbench-expected")
    try:
        expected = {"queries": {t: query_hashes(spark, t, run_dir)
                                for t in ("smoke", "bench")}}
    finally:
        common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(common.BENCH_DIR, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
