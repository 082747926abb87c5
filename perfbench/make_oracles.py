"""Regenerate ``oracles.json``: the DuckDB oracle digest of every
``sql_tpch`` query over the benchmark's sf0.1 tables.

The digests are pinned because some oracles take tens of seconds in
DuckDB, which a timed run cannot afford. Run from the repository root:

    python3 perfbench/make_oracles.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> None:
    import duckdb

    from parallel_monte_carlo_simulations_spark.registry import load_all_queries
    from workloads import DATA_DIR, ORACLES_PATH, SQL_TPCH, result_digest

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    specs = load_all_queries()
    digests = {name: result_digest(con.execute(specs[name].oracle).fetchdf()) for name in SQL_TPCH}
    con.close()
    with open(ORACLES_PATH, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(digests, indent=1))


if __name__ == "__main__":
    main()
