"""Rebuild ``hashes.json`` from the DuckDB oracles.

Runs each op's oracle once on the unpermuted base tables in ``data/`` and
records its row count and ``value_hash``. Registry queries use their
registered oracle SQL; write ops expect the rows they wrote, and the
footer-statistics op expects the table's row count.

Run from the repository root: ``python3 perfbench/make_hashes.py``.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from datafusion_datasource_orc_spark.operators import ORACLES  # noqa: E402
from tools.check_oracles import value_hash  # noqa: E402

from check import HASHES  # noqa: E402
from gen import BASE_DIR, TABLES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# ops whose expected rows are not a registry query's oracle
EXPECTED_SQL = {
    "write_lineitem": "SELECT * FROM lineitem",
    "write_documents": "SELECT * FROM documents",
    "read_orc_statistics": "SELECT CAST(COUNT(*) AS BIGINT) AS num_rows FROM lineitem",
}


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(BASE_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    table = {}
    for wl in WORKLOADS.values():
        for op in wl.ops:
            sql = EXPECTED_SQL.get(op.name) or ORACLES[op.name]
            frame = con.execute(sql).df()
            rows = list(frame.itertuples(index=False, name=None))
            table[op.name] = {
                "rows": len(rows),
                "hash": value_hash(rows, list(frame.columns)),
            }
            print(f"{op.name}: {len(rows)} rows", file=sys.stderr)
    with open(HASHES, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
