"""Checks each batch query's check-pass output against its DuckDB oracle
(`SparkEntry.oracleSql`) on the same generated inputs, by the rule of
tools/parity_check.py."""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import parity_check  # noqa: E402


def check(out, data_dir, check_pass, cores):
    """Maps each query to None if its output matched, else the problem."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect(config={"threads": cores,
                                 "temp_directory": os.path.join(out, "duckdb-tmp")})
    for t in parity_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdicts = {}
    for q, c in sorted(check_pass.items()):
        if "error" in c:
            verdicts[q] = f"crashed: {c['error']}"
        elif q not in sqls:
            verdicts[q] = "no oracle"
        else:
            spark_df = pd.read_parquet(os.path.join(out, "check", q))
            problems = parity_check.compare(q, spark_df, con.execute(sqls[q]).fetchdf())
            if len(spark_df) != c["rows"]:
                problems.append(f"fingerprint saw {c['rows']} rows, dump has {len(spark_df)}")
            verdicts[q] = "; ".join(problems) or None
    return verdicts
