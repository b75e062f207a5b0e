#!/usr/bin/env python3
"""Record the expected output of every manifest query in ``expected.json``.

For a query with a DuckDB oracle the expected digest is the oracle's
output over the same generated tables; the query's Spark output must
match it, or the recorder stops and names the query. A query without an
oracle keeps the digest its Spark output has at the recording commit.
Each query runs ``RUNS`` times in this process; one whose digest
differs between runs, or from a digest an earlier invocation recorded,
is marked ``unstable`` and later checked on row count and schema only.
Run it twice, in two processes, when recording afresh:

    python3 perfbench/record_expected.py
    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import common  # noqa: E402
import tables  # noqa: E402

#: Runs of each query in one invocation.
RUNS = 2


def oracle_result(con, sql: str) -> dict:
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"rows": len(rows), "columns": sorted(columns), "digest": checks.digest(columns, rows)}


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()

    import duckdb

    tables.ensure_tables(common.SF_DIR, common.SF)
    with open(os.path.join(common.BENCH_DIR, "manifests.json")) as fh:
        manifests = json.load(fh)["workloads"]
    names = [q["name"] for w in manifests.values() for q in w.get("queries", [])]
    previous = checks.load_expected() if os.path.exists(checks.EXPECTED_PATH) else {}

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{common.SF_DIR}/{t}.parquet'")
    spark, _ = common.start_session()
    from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

    out, wrong = {}, []
    try:
        for name in names:
            runs = []
            for _ in range(RUNS):
                runs.append(checks.spark_result(common.query_build(spark, name)))
                spark.catalog.clearCache()
            rec = dict(runs[0])
            digests = {r["digest"] for r in runs}
            if name in previous:
                digests.add(previous[name]["digest"])
            oracle = REGISTRY[name].oracle
            if oracle:
                o = oracle_result(con, oracle)
                rec["source"] = "oracle"
                if o["digest"] != rec["digest"] or len(digests) > 1:
                    wrong.append(f"{name}: spark {sorted(digests)} oracle {o['digest']} "
                                 f"rows {rec['rows']}/{o['rows']}")
                rec["digest"] = o["digest"]
            else:
                rec["source"] = "recorded" if len(digests) == 1 else "unstable"
            out[name] = rec
            print(f"{name}: {rec['source']} rows={rec['rows']}", flush=True)
    finally:
        common.stop_session(spark)
    if wrong:
        print("oracle mismatches:\n  " + "\n  ".join(wrong), file=sys.stderr)
        return 1
    with open(checks.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
