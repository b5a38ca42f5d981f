#!/usr/bin/env python3
"""Re-record ``expected.json``: the expected result of every checked
operation, computed by the engine's DuckDB oracle SQL (``harness.oracle_sql``)
over the generated tables, plus the reference project's declared data tests.
Run from the root of a checkout after changing the data generator or the
query list:

    python3 perfbench/record_expected.py

The benchmark itself never runs it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import duckdb  # noqa: E402
import workloads  # noqa: E402

from dbt_trill_shop_spark.harness import oracle_sql  # noqa: E402
from dbt_trill_shop_spark.models import trends_project  # noqa: E402


def main() -> None:
    data_dir = os.path.join(ROOT, ".perfbench", "data")
    fp = datagen.ensure_data(data_dir)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracles = oracle_sql()

    def result(sql: str) -> dict:
        rel = con.sql(sql)
        return check.fingerprint(list(rel.columns), rel.fetchall())

    queries = {}
    for name in workloads.QUERY_OPS:
        queries[name] = result(oracles[name])
        print(name, queries[name]["rows"], file=sys.stderr)
    marts = {}
    for name in workloads.TRENDS_MARTS:
        sql = oracles[name]
        if name in workloads.DIGESTED_MARTS:
            rel = con.sql(sql)
            exprs = check.digest_exprs(list(zip(rel.columns, map(str, rel.types))), "duckdb")
            digest = con.sql(f"SELECT {', '.join(exprs)} FROM ({sql})")
            marts[name] = {k: int(v) for k, v in zip(digest.columns, digest.fetchone())}
        else:
            marts[name] = result(sql)
    tests = sorted([m.name, t.describe(), "pass"]
                   for m in trends_project().models.values() for t in m.tests)
    out = {"data_fingerprint": fp, "queries": queries,
           "trends": {"tests": tests, "marts": marts}}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
