"""Regenerate ``digests.json``, the expected results of the named-query
workloads.

    python3 perfbench/make_digests.py          # from the repository root

For each scale factor the benchmark runs at, it writes the generated
lake, evaluates every op's DuckDB oracle (``queries.ORACLES``) and stores
the digest of the oracle's rows. It also runs each op on Spark and
refuses to write the file unless Spark matches the oracle under
``tools/check_oracle.py``'s rules (same columns, same row count, exact
values). Ops without an oracle store the Spark row count only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import workloads as W  # noqa: E402

SCALES = (W.SF, W.SMOKE_SF)


def main() -> int:
    os.environ["TZ"] = "UTC"
    from data_engineering_etl_self_service_spark import get_spark
    from data_engineering_etl_self_service_spark.catalog import TABLES
    from data_engineering_etl_self_service_spark.queries import ORACLES, QUERIES

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check_oracle import canon, values_equal

    spark = get_spark(app_name="perfbench-digests", extra_conf={"spark.driver.memory": "4g"})
    out, bad = {}, []
    os.makedirs(".perfbench", exist_ok=True)
    tmp = os.path.abspath(tempfile.mkdtemp(dir=".perfbench", prefix="digests-"))
    try:
        for sf in SCALES:
            sf_dir = os.path.join(tmp, f"sf{sf}")
            gen.write_lake(sf_dir, sf)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            res = {}
            for name in W.ANALYST_OPS + W.CURATION_OPS:
                sdf = QUERIES[name](spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                spark.catalog.clearCache()
                if name not in ORACLES:
                    res[name] = {"rows": len(srows)}
                    continue
                rel = con.execute(ORACLES[name])
                ocols = [d[0] for d in rel.description]
                orows = rel.fetchall()
                s_rows, s_cols = canon(srows, sdf.columns)
                o_rows, o_cols = canon(orows, ocols)
                same = s_cols == o_cols and len(s_rows) == len(o_rows) and all(
                    values_equal(a, b) for sr, orr in zip(s_rows, o_rows) for a, b in zip(sr, orr)
                )
                want = checks.digest(ocols, orows)
                if not same or checks.digest(sdf.columns, srows) != want:
                    bad.append(f"sf{sf} {name}")
                res[name] = want
                print(f"sf{sf} {name}: {want['rows']} rows {'ok' if same else 'MISMATCH'}", flush=True)
            out[str(sf)] = res
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print("Spark != oracle for: " + ", ".join(bad), file=sys.stderr)
        return 1
    with open(W.DIGESTS, "w") as f:
        json.dump({"generator_seed": gen.LAKE_SEED, "scales": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {W.DIGESTS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
