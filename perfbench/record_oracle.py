#!/usr/bin/env python3
"""Records the oracle hashes query_mix results are checked against.

    python3 perfbench/record_oracle.py sf0.01

Run from the root of a checkout. Builds the harness if needed, dumps
the DuckDB oracle SQL of every query_mix query (SparkEntry.oracleSql),
runs each in DuckDB over the parquet tables of that scale factor, and
writes perfbench/oracle/<scale>.json with one hash per query (see
qhash.py). Record once per scale factor; the benchmark only reads it.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
from qhash import frame_hash  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(scale):
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = run.build(root, out)
    data = run.data_dir(scale)
    with tempfile.TemporaryDirectory(dir=out) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", classpath, "graft.perfbench.OracleSql", sql_file],
                       check=True)
        with open(sql_file) as f:
            sql = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    hashes = {q: frame_hash(con.execute(s).fetchdf()) for q, s in sorted(sql.items())}
    os.makedirs(os.path.join(HERE, "oracle"), exist_ok=True)
    with open(os.path.join(HERE, "oracle", scale + ".json"), "w") as f:
        json.dump({"scale": scale, "duckdb": duckdb.__version__, "hashes": hashes}, f, indent=1)
        f.write("\n")
    print(f"recorded {len(hashes)} oracle hashes for {scale}")


if __name__ == "__main__":
    main(sys.argv[1])
