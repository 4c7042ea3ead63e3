#!/usr/bin/env python3
"""DuckDB reference timing for the benchmark's query workloads.

    python3 perfbench/anchor.py [--reps 5]

Times DuckDB, with one thread per processor, on the benchmark's tables:
the engine's own oracle SQL of every olap_relational operation type, and
the DuckDB twin of every sql_frontdoor template. Prints, per workload, the
median time of each query and their sum: the DuckDB time of one pass, to
hold against the engine's `caller.pass_s`. The oracle SQL is read from the file a
benchmark run of olap_relational leaves in perfbench/.work, so run that
first. A reference figure only; no gate uses it.
"""
import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen      # noqa: E402
import oracle   # noqa: E402
import run      # noqa: E402


def time_queries(con, queries, reps):
    out = {}
    for name, sql in queries.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    data_dir = os.path.join(run.WORK, f"data-{gen.DATA_VERSION}")
    gen.write_tables(data_dir)
    saved = os.path.join(run.WORK, "oracle-olap_relational.json")
    if not os.path.exists(saved):
        sys.exit(f"{saved} is missing: run the benchmark on olap_relational first")
    con = oracle.connect(data_dir)
    con.execute(f"SET threads TO {os.cpu_count()}")
    workloads = {
        "olap_relational": json.load(open(saved)),
        "sql_frontdoor": {o["type"]: o["duck"]
                          for o in gen.plan_ops("sql_frontdoor", 1)["warm"]},
    }
    report = {}
    for w, queries in workloads.items():
        per = time_queries(con, queries, args.reps)
        report[w] = {"pass_s": sum(per.values()), "queries": per}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
