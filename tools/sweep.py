"""Full-registry robustness sweep: every oracled query at one scale factor.

The oracle tests run at sf0.01; this sweep re-runs the full oracle
comparison on a larger dataset (sf0.1, or the 10x-tiled .scale/sf1.0
from tools/gen_sf1.py) to surface scale-dependent divergences —
decimal overflow, ordering ties that only materialize with more data,
window semantics that differ only on longer series.

Hardening learned from the first attempt (which spilled 38 GB of DuckDB
temp and died): a bounded DuckDB (memory_limit + temp dir under the
repo), a per-query SIGALRM wall timeout, and incremental JSONL output
so partial progress survives a crash. Re-running skips names already
recorded (delete the output file for a fresh sweep). Each record's
``sf`` comes from the directory name (``.../sf0.1`` -> 0.1).

Queries whose DuckDB replay is infeasible at sf1.0 (iterative graph
SQL) are expected to time out there and are closed separately with
independent pure-Python references (tests/test_graph_reference_sf01.py
pattern).

Usage: python tools/sweep.py SF_DIR [out.jsonl] [timeout-sec] [names...]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SF_DIR = sys.argv[1].rstrip("/")
SF_NAME = os.path.basename(SF_DIR)
SF = float(re.fullmatch(r"sf([\d.]+)", SF_NAME).group(1))
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, f".sweep_{SF_NAME}.jsonl")
TIMEOUT_S = int(sys.argv[3]) if len(sys.argv) > 3 else 600
ONLY = set(sys.argv[4:])

#: Optional horizontal split for wall-clock: SWEEP_SHARD="0/2" runs the
#: even-indexed names, "1/2" the odd ones, each process with its own
#: Spark session (SWEEP_CPUS cores) and DuckDB thread budget, writing
#: its own OUT file (concatenate afterwards — the JSONL rows are
#: self-describing).
SHARD = os.environ.get("SWEEP_SHARD")
CPUS = os.environ.get("SWEEP_CPUS")
DUCK_THREADS = os.environ.get("SWEEP_DUCK_THREADS")


class _Timeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise _Timeout()


def main() -> None:
    import duckdb

    from _compare import compare
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries
    from parallel_monte_carlo_simulations_spark.session import get_spark

    # Per-shard temp dir: two shards sharing one dir also share the
    # spill cap, so one shard's spill starves the other (observed as
    # spurious "failed to offload (55.8/55.8 GiB)" OOMs). The cap must
    # also respect the BOX's free disk, not just DuckDB's default.
    suffix = f"-{SHARD.replace('/', '_')}" if SHARD else ""
    tmp = os.path.join(REPO, f".duck_tmp{suffix}")
    os.makedirs(tmp, exist_ok=True)
    # Defaults come from the box: ~40% of physical RAM for DuckDB (the
    # Spark driver heap shares the rest) and half of the free disk under
    # the temp dir as the spill cap. SWEEP_DUCK_MEM / SWEEP_DUCK_SPILL
    # override.
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    duck_mem = os.environ.get("SWEEP_DUCK_MEM", f"{int(ram * 0.4) >> 20}MiB")
    spill_cap = os.environ.get(
        "SWEEP_DUCK_SPILL", f"{shutil.disk_usage(tmp).free // 2 >> 20}MiB"
    )
    print(f"duckdb: memory_limit={duck_mem} max_temp_directory_size={spill_cap}")

    orig_connect = duckdb.connect

    def bounded_connect(*a, **kw):
        con = orig_connect(*a, **kw)
        con.execute(f"SET memory_limit='{duck_mem}'")
        if DUCK_THREADS:
            con.execute(f"SET threads={int(DUCK_THREADS)}")
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute(f"SET max_temp_directory_size='{spill_cap}'")
        return con

    duckdb.connect = bounded_connect

    done: set[str] = set()
    if os.path.exists(OUT):
        with open(OUT) as f:
            for line in f:
                try:
                    done.add(json.loads(line)["name"])
                except Exception:
                    pass

    if CPUS:
        spark = get_spark(
            app_name=f"sweep-{SF_NAME}-shard{SHARD or 0}".replace("/", "-"),
            master=f"local[{int(CPUS)}]",
            shuffle_partitions=int(CPUS),
            extra_conf={"spark.ui.enabled": "false"},
        )
    else:
        spark = get_spark()
    signal.signal(signal.SIGALRM, _alarm)

    specs = load_all_queries()
    names = sorted(n for n, s in specs.items() if s.oracle is not None)
    if ONLY:
        names = [n for n in names if n in ONLY]
    if SHARD:
        i, n = (int(x) for x in SHARD.split("/"))
        names = [nm for j, nm in enumerate(names) if j % n == i]
    print(f"{SF_NAME} sweep: {len(names)} oracled queries, {len(done)} already done")

    for i, name in enumerate(names):
        if name in done:
            continue
        spec = specs[name]
        t0 = time.time()
        rec: dict = {"name": name, "sf": SF}
        signal.alarm(TIMEOUT_S)
        try:
            df = spec.fn(spark, SF_DIR)
            rep = compare(df, spec.oracle, SF_DIR)
            rec["ok"] = bool(rep["ok"])
            rec["spark_rows"] = rep.get("spark_rows")
            rec["duck_rows"] = rep.get("duck_rows")
            if not rep["ok"]:
                rec["detail"] = {
                    k: v
                    for k, v in rep.items()
                    if k in ("cols_ok", "rows_ok", "values_ok")
                }
                fd = rep.get("first_diffs")
                if fd:
                    rec["first_diff"] = repr(fd[0])[:400]
        except _Timeout:
            rec["ok"] = None
            rec["error"] = f"timeout>{TIMEOUT_S}s"
        except Exception as exc:  # noqa: BLE001 — record and continue
            rec["ok"] = None
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        finally:
            signal.alarm(0)
        rec["sec"] = round(time.time() - t0, 2)
        with open(OUT, "a") as f:
            f.write(json.dumps(rec) + "\n")
        spark.catalog.clearCache()
        status = {True: "ok", False: "MISMATCH", None: "ERR"}[rec["ok"]]
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({rec['sec']}s)", flush=True)

    results = [json.loads(line) for line in open(OUT)]
    bad = [r for r in results if r["ok"] is False]
    err = [r for r in results if r["ok"] is None]
    print(f"done: {len(results)} swept, {len(bad)} mismatches, {len(err)} errors")
    for r in bad + err:
        print("  ", r["name"], r.get("error", r.get("detail")))


if __name__ == "__main__":
    main()
