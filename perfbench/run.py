#!/usr/bin/env python3
"""Caller-latency benchmark of the engine, measured from outside it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
benchmark's JVM client (`perfbench/build.sbt`) once, untimed, and writes
the test tables; later runs reuse both. Each run then:

1. derives its operations from `--seed` (order, SQL parameters, ingest
   slicing; see gen.py);
2. launches the JVM client directly, with the root build's javaOptions;
   it runs three set-ups, each a fresh `Engine.session` plus one
   operation, warms up, then measures for `--seconds`, running the
   host-speed probe before every operation;
3. checks every result: each operation type's first result against
   DuckDB (or, without an oracle, every later result against the first),
   the row count of every timed operation, and for ingest the sink
   (every event exactly once) and the view (equal to DuckDB's group-by);
4. prints one JSON line: `correct`, `attempted`, `failed` and the
   end-to-end metrics (`--trace 0`: CPU time at the reference host speed)
   or the per-layer metrics from a traced run (`--trace 1`, latency
   included). See README.md for every metric.

Exit code 0 means a result was printed; any other code means no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402
import stats    # noqa: E402

JVM_TIMEOUT_S = 150
DRIVER_MEM = "4g"
LAYERS = ["queries", "tables", "sql", "catalyst", "exec", "streaming", "sources"]


class BenchError(Exception):
    pass


# --- build --------------------------------------------------------------------

def _sources():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile once per source state; returns (classpath, javaOptions)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"not a checkout of the engine: {need} is missing")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            raise BenchError("build failed:\n" + open(log).read()[-3000:])
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


# --- one run -----------------------------------------------------------------

def write_plan(workload, seed, seconds, trace, run_dir, data_dir):
    events = None
    if workload == "ingest_refresh":
        import pyarrow.parquet as pq
        events = pq.read_table(os.path.join(data_dir, "events.parquet")).to_pylist()
    plan = gen.plan_ops(workload, seed, events=events)
    slices = plan.pop("slices", None)
    plan.update(workload=workload, data_dir=data_dir, work_dir=run_dir,
                seconds=seconds, trace=bool(trace), cores=os.cpu_count())
    if slices is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        schema = pq.read_schema(os.path.join(data_dir, "events.parquet"))
        plan["slices"] = []
        for i, (rows, _) in enumerate(slices):
            path = os.path.join(run_dir, f"slice_{i:03d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
            plan["slices"].append(path)
    return plan, slices


def launch(plan, run_dir, classpath, java_opts):
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    plan["launch_ms"] = time.time() * 1000
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = ["java", *java_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.CallBench", plan_path, out_path]
    log = os.path.join(run_dir, "jvm.log")
    cpu0 = host_cpu()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"engine run exceeded {JVM_TIMEOUT_S} s")
    cpu1 = host_cpu()
    if rc != 0 or not os.path.exists(out_path):
        raise BenchError(f"engine run failed (exit {rc}):\n" + open(log).read()[-3000:])
    with open(out_path) as fh:
        res = json.load(fh)
    total = sum(cpu1) - sum(cpu0)
    res["steal_share"] = (cpu1[7] - cpu0[7]) / total if len(cpu0) > 7 and total > 0 else 0.0
    return res


def host_cpu():
    """The machine's CPU time counters (/proc/stat, in ticks; the 8th is
    time the host withheld, steal), or [] where there are none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


# --- correctness gate -----------------------------------------------------------

# Operation types whose oracle in the engine pins the answer on the
# engine's own seed-42 test data (a literal VALUES list, "sf0.01 ONLY" in
# their definitions). On the benchmark's tables that answer does not
# apply, so these are checked like oracle-less types: every result must
# equal the type's first result.
PINNED_ORACLES = {"minhash_lsh_candidates", "knn_lsh_topk"}


def gate(workload, plan, slices, res, data_dir):
    """Returns (type-level problems, per-op verdict function)."""
    con = oracle.connect(data_dir)
    problems = {}
    first = {r["type"]: r for r in res["results"]}
    warm_errors = {o["type"]: o["error"] for o in res["warm"] if o["error"]}
    for t, err in warm_errors.items():
        problems.setdefault(t, f"warm-up failed: {err}")

    if workload == "ingest_refresh":
        return _gate_ingest(con, slices, res, first, problems)

    if workload == "sql_frontdoor":
        twin = {o["type"]: o["duck"] for o in plan["warm"]}
        counts = {}

        def expected_rows(op):
            duck = plan["passes"][op["pass"]][op["idx"]]["duck"]
            if duck not in counts:
                counts[duck] = con.sql(f"SELECT count(*) FROM ({duck})").fetchone()[0]
            return counts[duck]
    else:
        twin = {t: q for t, q in res["oracle"].items() if t not in PINNED_ORACLES}

        def expected_rows(op):
            return first[op["type"]]["rows"] if op["type"] in first else None

    for t, r in first.items():
        if t in twin:
            try:
                d = oracle.diff(oracle.parquet_rows(r["path"]), oracle.duck(con, twin[t]))
            except Exception as e:     # noqa: BLE001 - any oracle error fails the type
                d = f"oracle error: {e}"
            if d:
                problems[t] = d

    def verdict(op):
        if op["error"]:
            return op["error"]
        if op["type"] in problems:
            return problems[op["type"]]
        want = expected_rows(op)
        if want is None:
            return "no first result"
        if op["rows"] != want:
            return f"{op['rows']} rows, want {want}"
        if workload != "sql_frontdoor" and op["fingerprint"] != first[op["type"]]["fingerprint"]:
            return "result differs from the first result of its type"
        return None
    return problems, verdict


MV_SQL = ("SELECT user_id, count(*) AS n_events, "
          "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, "
          "max(ts) AS last_ts FROM events GROUP BY user_id")


def _gate_ingest(con, slices, res, first, problems):
    users, expect = set(), []
    for rows, n_orig in slices:
        users |= {r["user_id"] for r in rows}
        expect.append(len(users))
    top = first.get("cycle")
    if top is not None:
        d = oracle.diff(oracle.parquet_rows(top["path"]), oracle.duck(
            con, f"SELECT user_id, n_events, value_cents, CAST(last_ts AS DATE) AS last_day "
                 f"FROM ({MV_SQL}) ORDER BY n_events DESC, user_id LIMIT 10"))
        if d:
            problems["cycle"] = f"top-10 read: {d}"
    ingest = res.get("ingest_dir")
    if ingest is None:
        problems.setdefault("cycle", "no ingest pass completed")
    else:
        d = oracle.diff(oracle.parquet_rows(os.path.join(ingest, "sink")),
                        oracle.duck(con, "SELECT * FROM events"))
        if d:
            problems["cycle"] = f"sink does not hold every event exactly once: {d}"
        d = oracle.diff(oracle.parquet_rows(os.path.join(ingest, "mv")),
                        oracle.duck(con, MV_SQL))
        if d:
            problems["cycle"] = f"view differs from DuckDB's group-by: {d}"

    def verdict(op):
        if op["error"]:
            return op["error"]
        if "cycle" in problems:
            return problems["cycle"]
        want = expect[op["idx"]]
        if op["extra"].get("mv_rows") != want:
            return f"view has {op['extra'].get('mv_rows')} rows, want {want}"
        if op["rows"] != min(10, want):
            return f"top-10 read returned {op['rows']} rows"
        return None
    return problems, verdict


# --- metrics ---------------------------------------------------------------------

def table_rows(data_dir):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in oracle.TABLES}


def pass_time(ops, key, field="latency_s"):
    """The cost of one pass over every operation type: the sum, over types,
    of the type's median `field` (latency, process CPU or Java-thread CPU).
    A run's window holds only a few passes, so this uses every timed
    operation rather than whole passes only."""
    per = {}
    for o in ops:
        per.setdefault(key(o), []).append(o[field])
    return sum(statistics.median(v) for v in per.values()), per


def type_key(workload):
    """An operation's type: its query, or for ingest its cycle in the pass."""
    return (lambda o: o["idx"]) if workload == "ingest_refresh" else (lambda o: o["type"])


def whole_passes(plan, ops):
    """The operations of passes that ran in full. Percentiles use only
    these, so that every operation type weighs the same in every run; a
    pass cut by the window's end would tilt the mix toward the types the
    seed put first."""
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    return [o for p, os_ in by_pass.items() if len(os_) == len(plan["passes"][p])
            for o in os_] or ops


def rows_per_pass(workload, res, slices, data_dir):
    """Rows a pass consumes: for olap the rows of every input table of every
    operation type, per table read; for ingest the distinct events committed."""
    if workload == "ingest_refresh":
        return sum(n_orig for _, n_orig in slices)
    sizes = table_rows(data_dir)
    return sum(sizes.get(t, 0) for r in res["results"] for t in r["inputs"])


# The host-speed probe's CPU time on the reference host (an idle 4-vCPU
# Xeon VM). The gated metrics are stated at the reference host's speed:
# scaled by PROBE_REF_S over the probe time measured next to them.
PROBE_REF_S = 0.0125


def at_reference_speed(ops, field):
    """Each operation's `field` scaled to the reference host's speed. The
    probe runs before every operation; an operation is scaled by the median
    of its own probe and its neighbours' (the one before it and the one
    after it), which follows the host's speed from second to second."""
    probes = [o["probe_s"] for o in ops]
    return [dict(o, **{field: o[field] * PROBE_REF_S
                       / statistics.median(probes[max(0, i - 1):i + 2])})
            for i, o in enumerate(ops)]


def end_to_end(workload, plan, res, slices, data_dir):
    """The gated metrics, at the reference host's speed (see
    at_reference_speed). Besides `setup_s` they are the CPU time of the
    JVM's Java threads, not latency: on a shared host, latency moves with
    the host's load by more than the bounds allow, and process CPU carries
    the JIT compilers' backlog from one operation into the next (README.md,
    "Why CPU time at reference speed"). Raw latency and CPU are the
    per-layer `caller.*` metrics."""
    ops = res["ops"]
    if not ops:
        raise BenchError("no operation ran inside the measured window")
    factor = PROBE_REF_S / statistics.median(o["probe_s"] for o in ops)
    pass_cpu, per_type = pass_time(at_reference_speed(ops, "thread_cpu_s"),
                                   type_key(workload), "thread_cpu_s")
    print(f"[perfbench] {workload}: {len(ops)} timed operations, "
          f"{len(whole_passes(plan, ops))} in whole passes; the host ran at "
          f"{factor:.3f} of the reference speed", file=sys.stderr)
    return {
        "setup_s": (statistics.median(res["setup_s"]) * factor, "s"),
        "pass_cpu_s": (pass_cpu, "s"),
        "query_cpu_geomean_s": (stats.geomean(statistics.median(v)
                                              for v in per_type.values()), "s"),
        "rows_per_cpu_s": (rows_per_pass(workload, res, slices, data_dir) / pass_cpu, "1/s"),
    }


def caller_latency(workload, plan, res, slices, data_dir):
    """What a caller waits for, and the CPU time it costs, as measured
    (not scaled to the reference host), from the untraced window:
    per-layer, since it is not steady enough on a shared host to carry a
    bound."""
    ops = res["ops"]
    key = type_key(workload)
    pass_s, per_op = pass_time(ops, key)
    pass_cpu, _ = pass_time(ops, key, "thread_cpu_s")
    if workload == "ingest_refresh":
        per_op = {s: [o["steps"][s] for o in ops] for s in gen.INGEST_STEPS}
    lat = [o["latency_s"] for o in whole_passes(plan, ops)]
    p90, pct, n = stats.tail_percentile(lat)
    print(f"[perfbench] caller.op_p90_s is p{pct} of {n} latencies, the highest "
          f"percentile <= 90 with >= 10 samples beyond it", file=sys.stderr)
    return {
        "caller.pass_s": (pass_s, "s"),
        "caller.op_p50_s": (statistics.median(lat), "s"),
        "caller.op_p90_s": (p90, "s"),
        "caller.query_geomean_s": (stats.geomean(statistics.median(v)
                                                 for v in per_op.values()), "s"),
        "caller.rows_per_s": (rows_per_pass(workload, res, slices, data_dir) / pass_s, "1/s"),
        "caller.setup_s": (statistics.median(res["setup_s"]), "s"),
        "caller.pass_cpu_s": (pass_cpu, "s"),
        "caller.pass_process_cpu_s": (pass_time(ops, key, "cpu_s")[0], "s"),
    }


def self_times(spans):
    """Per operation: {layer: self seconds}, and the share of the operation
    span that no child span covers. A span's parent is the innermost span
    that contains it; its self time is its length minus the union of its
    children, clipped to it."""
    eps = 2.0   # ms: Spark's phase and job clocks tick in whole ms
    by_op = {}
    for s in spans:
        if s["op"] != "probe":
            by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op, ss in by_op.items():
        ss = sorted(ss, key=lambda s: (s["start_ms"], -s["end_ms"]))
        kids = {id(s): [] for s in ss}
        for i, s in enumerate(ss):
            parents = [p for p in ss[:i] + ss[i + 1:]
                       if p["start_ms"] - eps <= s["start_ms"] and s["end_ms"] <= p["end_ms"] + eps
                       and (p["end_ms"] - p["start_ms"]) > (s["end_ms"] - s["start_ms"])]
            if parents:
                parent = min(parents, key=lambda p: p["end_ms"] - p["start_ms"])
                kids[id(parent)].append(s)
        layer_self = dict.fromkeys(LAYERS + ["op"], 0.0)
        for s in ss:
            lo, hi = s["start_ms"], s["end_ms"]
            covered, cur = 0.0, lo
            for k in sorted(kids[id(s)], key=lambda k: k["start_ms"]):
                a, b = max(k["start_ms"], cur), min(k["end_ms"], hi)
                if b > a:
                    covered += b - a
                    cur = b
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + max(0.0, hi - lo - covered) / 1e3
        root = [s for s in ss if s["layer"] == "op"]
        dur = sum(s["end_ms"] - s["start_ms"] for s in root) / 1e3
        out[op] = (layer_self, layer_self["op"] / dur if dur > 0 else 0.0)
    return out


def per_layer(workload, plan, res, slices, data_dir):
    ops = res["traced_ops"]
    cnt = res["op_counters"]
    spans = res["spans"]

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def step(name):
        return med(o["steps"][name] for o in ops if name in o["steps"])

    def c(key):
        return med(x[key] for x in cnt)

    def probe(prefix):
        return med((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                   if s["op"] == "probe" and s["name"].startswith(prefix))

    st = self_times(spans)
    key = type_key(workload)
    _, t_per = pass_time(ops, key)
    _, u_per = pass_time(res["ops"], key)
    both = set(t_per) & set(u_per)
    overhead = (sum(statistics.median(t_per[k]) for k in both)
                / sum(statistics.median(u_per[k]) for k in both)) if both else 0.0
    untraced = res["ops"]
    m = caller_latency(workload, plan, res, slices, data_dir)
    m.update({
        "engine.session_s": (med(res["session_s"]), "s"),
        "engine.cold_start_s": (res["cold_start_s"], "s"),
        "engine.first_setup_s": (res["setup_s"][0], "s"),
        "queries.build_s": (step("build"), "s"),
        "queries.build_jobs": (med(x["build_jobs"] for o, x in zip(ops, cnt)
                                   if "build" in o["steps"]), "count"),
        "tables.apply_s": (probe("apply."), "s"),
        "tables.register_all_s": (probe("register_all"), "s"),
        "sql.transpile_s": (step("transpile"), "s"),
        "sql.front_door_s": (step("front_door"), "s"),
    })
    for ph in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (med(x["phases"].get(ph, 0.0) for x in cnt), "s")
    m["exec.s"] = (step("drain"), "s")
    for k, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                    ("core_util", "ratio"), ("scan_stage_s", "s"),
                    ("scan_tasks", "count"), ("input_bytes", "bytes"),
                    ("input_rows", "count"), ("shuffle_read_bytes", "bytes"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                    ("stage_skew", "ratio")]:
        m[f"exec.{k}"] = (c(k), unit)
    m["exec.result_rows"] = (med(o["rows"] for o in ops), "count")
    m["exec.codegen_compiles"] = (med(o["codegen_compiles"] for o in untraced), "count")
    streaming = workload == "ingest_refresh"
    for k in ("sink", "mv_refresh", "read"):
        m[f"streaming.{k}_s"] = (step(k), "s")
    for k, unit in [("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
                    ("commit_offsets_ms", "ms"), ("query_planning_ms", "ms"),
                    ("state_rows", "count"), ("state_bytes", "bytes"),
                    ("dropped_duplicates", "count"),
                    ("rows_dropped_by_watermark", "count")]:
        m[f"streaming.{k}"] = (c(k) if streaming else 0, unit)
    m["sources.bytes_written"] = (c("bytes_written"), "bytes")
    m["sources.files_written"] = (med(o["extra"].get("files_written", 0) for o in ops), "count")
    m["jvm.gc_s"] = (res["jvm_gc_s"] / max(1, len(ops)), "s")
    m["jvm.heap_peak_mb"] = (res["jvm_heap_peak_mb"], "MB")
    m["jvm.heap_retained_mb"] = (res["heap_retained_mb"], "MB")
    cpu = sum(o["cpu_s"] for o in untraced)
    m["jvm.non_thread_cpu_share"] = (
        (cpu - sum(o["thread_cpu_s"] for o in untraced)) / cpu if cpu > 0 else 0.0, "ratio")
    m["host.steal_share"] = (res["steal_share"], "ratio")
    m["host.probe_ms"] = (statistics.median(o["probe_s"] for o in untraced) * 1e3, "ms")
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (med(v[0][layer] for v in st.values()), "s")
    m["trace.uncovered_share"] = (med(v[1] for v in st.values()), "ratio")
    m["trace.overhead_ratio"] = (overhead, "ratio")
    return m


# --- main ---------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    try:
        classpath, java_opts = build()
        data_dir = os.path.join(WORK, f"data-{gen.DATA_VERSION}")
        gen.write_tables(data_dir)
        run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            plan, slices = write_plan(args.workload, args.seed, args.seconds,
                                      args.trace, run_dir, data_dir)
            res = launch(plan, run_dir, classpath, java_opts)
            with open(os.path.join(WORK, f"oracle-{args.workload}.json"), "w") as fh:
                json.dump(res["oracle"], fh)
            problems, verdict = gate(args.workload, plan, slices, res, data_dir)
            ops = res["ops"] + res.get("traced_ops", [])
            failures = [(o, verdict(o)) for o in ops]
            failures = [(o, why) for o, why in failures if why]
            for t, why in problems.items():
                print(f"[perfbench] FAIL {t}: {why}", file=sys.stderr)
            for o, why in failures[:5]:
                print(f"[perfbench] FAIL {o['type']} (pass {o['pass']}): {why}",
                      file=sys.stderr)
            if args.trace:
                metrics = per_layer(args.workload, plan, res, slices, data_dir)
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                with open(os.path.join(WORK, "traces",
                                       f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                    json.dump({"spans": res["spans"], "op_counters": res["op_counters"]}, fh)
            else:
                metrics = end_to_end(args.workload, plan, res, slices, data_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not problems and not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
