#!/usr/bin/env python3
"""The repository benchmark: one seeded, oracle-checked workload run.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, into
`.bench_build/` and the sbt `target/` dirs), generates the seed's corpus,
sets the workload up from empty, runs its op sequence closed-loop for S
seconds in one JVM, checks every answer, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the timed phase is
traced and the metrics are the per-layer ones, the tracing overhead
taken against the untraced run of the same seed (see
perfbench/README.md). A run record (machine, versions, co-tenant load,
corpus checksum, seed, source hash) goes to stderr and to the run's
directory under `.bench_build/runs/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import opgen  # noqa: E402
import oracle  # noqa: E402

# name -> (engine workload, corpus scale factor, seconds one mix block
# takes at the seed commit on a quiet 4-core machine). A run executes
# ceil(--seconds / block) whole blocks, so every run of a workload has
# the same op count and class mix and its percentiles sit on the same
# ranks.
WORKLOADS = {
    "bgp_sf001": ("bgp", 0.01, 18.0),
    "serve_rw_sf001": ("serve", 0.01, 6.0),
}

END_TO_END = [("setup_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
              ("ops_per_s", "1/s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("bgp.parse_s", "s"), ("bgp.plan_s", "s"), ("bgp.exec_s", "s"),
    ("bgp.plan_share", "ratio"), ("bgp.shuffle_per_result_byte", "ratio"),
    ("bgp.scan_bytes_per_result_row", "B"), ("bgp.load_s", "s"),
    ("bgp.layout_files", "count"), ("bgp.layout_bytes", "B"),
    ("bgp.update_apply_s", "s"), ("bgp.writeback_s", "s"),
    ("bgp.reload_s", "s"), ("bgp.compactions", "count"),
    ("bgp.compaction_s", "s"), ("bgp.write_amplification", "ratio"),
    ("bgp.delta_batches_at_read", "count"), ("bgp.server_overhead_s", "s"),
    ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("graph.jobs", "count"), ("graph.job_s", "s"),
    ("graph.shuffle_bytes", "B"), ("scale.jobs", "count"),
    ("scale.job_s", "s"), ("scale.guard_memo_entries", "count"),
    ("plans.buffer_spills", "count"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_wait_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.task_busy_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.input_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.task_skew", "ratio"),
    ("spark.broadcast_exchanges", "count"),
    ("spark.shuffle_exchanges", "count"), ("spark.catalyst_s", "s"),
    ("spark.failed_tasks", "count"), ("jvm.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"), ("jvm.driver_cpu_s", "s"),
    ("update_p50_s", "s"), ("update_p90_s", "s"), ("error_rate", "ratio"),
    ("trace.overhead_query_p50_s", "s"), ("trace.overhead_ops_per_s", "1/s"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_LIMIT_S = 170          # a run (after any build) must end by then
COTENANT_FLAG_CORES = 0.5  # co-tenant load above this flags the run


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_hash(root):
    """sha256 over every input of the build."""
    paths = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode() + b"\0")
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, out, src_hash):
    """Compile engine + harness with sbt unless this source hash is built."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=logf, text=True, timeout=800)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and "classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed (see {out}/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(src_hash + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp, True


# ------------------------------------------------------------ cpu record

def _jiffies():
    """(total, busy, steal) jiffies of the machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (sum(v), sum(v) - v[3] - (v[4] if len(v) > 4 else 0),
            v[7] if len(v) > 7 else 0)


def _own_cpu_s():
    """CPU seconds of this process and its finished children."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def cotenant_window(seconds=0.5):
    """Cores busy outside this process over a short window, measured the
    way graft.Bench measures them (machine busy minus own use)."""
    try:
        tot0, busy0, _ = _jiffies()
        own0 = _own_cpu_s()
        time.sleep(seconds)
        tot1, busy1, _ = _jiffies()
        own1 = _own_cpu_s()
    except OSError:
        return -1.0
    hz = os.sysconf("SC_CLK_TCK")
    ncpu = os.cpu_count() or 1
    if tot1 == tot0:
        return -1.0
    other = max(0.0, (busy1 - busy0) - (own1 - own0) * hz)
    return round(other / (tot1 - tot0) * ncpu, 3)


# ------------------------------------------------------------- the run

def percentile(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def read_ops_out(path):
    rows = []
    with open(path) as f:
        for line in f:
            p = line.rstrip("\n").split("\t")
            rows.append(dict(idx=int(p[0]), kind=p[1], cls=p[2], key=p[3],
                             lat=float(p[4]), ok=p[5] == "1",
                             rows=int(p[6]), digest=p[7],
                             error=p[8] if len(p) > 8 else ""))
    return rows


def check_answers(kind, done, summary, corpus_dir, run_dir, expect,
                  corrupt=False):
    """Mark each executed op wrong (op['wrong'] = reason) when its answer
    differs from the expectation. `corrupt` flips one expectation, for
    the benchmark's self-test."""
    con = oracle.connect(corpus_dir)
    if kind == "bgp":
        # BGP ops: the template's DuckDB SQL; registry ops: the registry's
        # oracle SQL against the first run's dump, later runs by digest
        exp = {k: oracle.sql_digest(con, expect[k])
               for k in sorted({o["key"] for o in done}) if k in expect}
        bad = {}
        for name, sql in summary["oracle_sql"].items():
            why = oracle.registry_check(
                con, os.path.join(run_dir, "dumps", name), sql)
            if why:
                bad[name] = why
        for name in set(summary["warm_digests"]) - set(summary["oracle_sql"]):
            bad[name] = "no oracle SQL registered"
        exp.update(summary["warm_digests"])
        if corrupt and exp:
            exp[min(exp)] = "0" * 32
        for o in done:
            if o["key"] in bad:
                o["wrong"] = bad[o["key"]]
            elif o["ok"] and o["digest"] != exp.get(o["key"]):
                o["wrong"] = "answer differs from the oracle"
    else:
        exp = {i: oracle.digest(*expect[i]) for i in expect}
        if corrupt:
            first = min(o["idx"] for o in done if o["kind"] == "query")
            exp[first] = "0" * 32
        for o in done:
            if o["ok"] and o["kind"] == "query" and o["digest"] != exp[o["idx"]]:
                o["wrong"] = "answer differs from the client-side model"
    con.close()


def latency_metrics(done):
    q = [o["lat"] for o in done if o["kind"] == "query"]
    u = [o["lat"] for o in done if o["kind"] == "update"]
    return {"query_p50_s": percentile(q, 50), "query_p90_s": percentile(q, 90),
            "update_p50_s": percentile(u, 50),
            "update_p90_s": percentile(u, 90)}


def write_ops(path, ops):
    with open(path, "w") as f:
        for kind, cls, key, text in ops:
            assert "\t" not in text and "\n" not in text
            f.write(f"{kind}\t{cls}\t{key}\t{text}\n")


def prepare(kind, sf, seed, corpus_dir, n_blocks):
    """The op sequence and what its answers are checked against."""
    if kind == "bgp":
        return opgen.bgp_ops(seed, corpus.rows(sf, "customer"),
                             corpus.rows(sf, "orders"), n_blocks)
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(corpus_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey", "o_orderstatus"])
    orders = {k: (c, s) for k, c, s in zip(
        *(t.column(i).to_pylist() for i in range(3)))}
    return opgen.serve_ops(seed, orders, n_blocks)


class NoResult(Exception):
    """A run that must not print a result line."""


def run(args):
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        log("no engine sources under src/main/scala/graft: run from the "
            "repository root")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
        return 2
    kind, sf, block_s = WORKLOADS[args.workload]
    n_blocks = max(1, math.ceil(args.seconds / block_s))
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    src_hash = source_hash(root)
    cp, built = build(root, out, src_hash)
    # a run has RUN_LIMIT_S after its build, if it had to build
    t_limit = (time.time() if built else t_start) + RUN_LIMIT_S

    corpus_dir = os.path.join(out, "corpus", f"sf{sf}-s{args.seed}")
    checksum = corpus.ensure(corpus_dir, sf, args.seed)
    ops, expect = prepare(kind, sf, args.seed, corpus_dir, n_blocks)
    base = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                sf=sf, corpus_checksum=checksum, source_sha256=src_hash,
                git_commit=git_commit(root), ops_in_file=len(ops))

    def measure(trace):
        return measure_once(root, cp, kind, n_blocks, ops, expect, corpus_dir,
                            t_limit, dict(base, trace=trace),
                            args.corrupt_expectation)
    try:
        if not args.trace:
            done, failed, record = measure(0)
            metrics = dict(record["end_to_end"])
            units = dict(END_TO_END)
        else:
            # the tracing overhead is this traced run minus the untraced
            # run of the same seed and op file: its record when one is on
            # disk, else one made now
            ref = untraced_record(out, base)
            if ref is None:
                log("no untraced run of this seed on disk: running one first")
                ref = measure(0)[2]
            done, failed, record = measure(1)
            metrics = {name: float(record["layers"].get(name, 0.0))
                       for name, _ in PER_LAYER}
            lat = latency_metrics(done)
            metrics.update({
                # update latencies are timings, so they come untraced
                "update_p50_s": ref["update_p50_s"],
                "update_p90_s": ref["update_p90_s"],
                "error_rate": len(failed) / len(done),
                "trace.overhead_query_p50_s":
                    lat["query_p50_s"] - ref["end_to_end"]["query_p50_s"],
                "trace.overhead_ops_per_s":
                    ref["end_to_end"]["ops_per_s"] - len(done) / record["timed_s"]})
            units = dict(PER_LAYER)
    except NoResult as e:
        log(str(e))
        return 3

    result = {"correct": not failed, "attempted": len(done),
              "failed": len(failed),
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0


def run_dir_of(out, record):
    return os.path.join(out, "runs", f"{record['workload']}-s{record['seed']}"
                        f"-t{record['trace']}")


def untraced_record(out, base):
    """The record of a finished untraced run of the same source, corpus,
    seed and op file, or None."""
    path = os.path.join(run_dir_of(out, dict(base, trace=0)), "record.json")
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    if any(rec.get(k) != v for k, v in base.items()) or "end_to_end" not in rec:
        return None
    return rec


def measure_once(root, cp, kind, n_blocks, ops, expect, corpus_dir, t_limit,
                 base, corrupt):
    """One JVM over the whole op file: (executed ops, failed ops, record).
    Raises NoResult when the run failed or was cut short."""
    run_dir = run_dir_of(os.path.join(root, ".bench_build"), base)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    write_ops(os.path.join(run_dir, "ops.in.tsv"), ops)

    cot_start = cotenant_window()
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector chose to grow it
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/tmp",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=100",
        "-cp", cp, "graftbench.Main",
        "--workload", kind, "--corpus", corpus_dir, "--run-dir", run_dir,
        "--ops", os.path.join(run_dir, "ops.in.tsv"),
        # the timed phase stops early (and the run gives no result) rather
        # than overrun the run's limit
        "--deadline-ms", str(int((t_limit - 10) * 1000)),
        "--trace", str(base["trace"]),
        # set-up first appends enough delta batches that the timed
        # phase's last update is the one that compacts
        "--warm-updates", str(-opgen.UPDATES_PER_BLOCK * n_blocks
                              % opgen.COMPACT_DELTA_BATCHES)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    tot0, busy0, steal0 = _jiffies()
    own0 = _own_cpu_s()
    w0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jl,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, t_limit - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise NoResult("the JVM did not finish in time; no result")
    wall = time.time() - w0
    tot1, busy1, steal1 = _jiffies()
    own1 = _own_cpu_s()
    if code != 0 or not os.path.exists(os.path.join(run_dir, "summary.json")):
        raise NoResult(f"the JVM exited with {code}; see {run_dir}/jvm.log")
    hz, ncpu = os.sysconf("SC_CLK_TCK"), os.cpu_count() or 1
    cot_during = round(max(0.0, (busy1 - busy0) - (own1 - own0) * hz)
                       / max(1, tot1 - tot0) * ncpu, 3)
    # on a virtual machine, time the hypervisor gave the vCPUs to others
    steal_during = round((steal1 - steal0) / max(1, tot1 - tot0) * ncpu, 3)

    with open(os.path.join(run_dir, "summary.json")) as f:
        summary = json.load(f)
    done = read_ops_out(os.path.join(run_dir, "ops.tsv"))
    if len(done) < len(ops):
        # percentiles over a cut-short op list sit on other ranks
        raise NoResult(f"the deadline stopped the timed phase after "
                       f"{len(done)} of {len(ops)} ops; no result")
    check_answers(kind, done, summary, corpus_dir, run_dir, expect,
                  corrupt=corrupt)
    failed = [o for o in done if not o["ok"] or o.get("wrong")]
    for o in failed[:5]:
        log(f"failed op {o['idx']} {o['key']}: {o.get('wrong') or o['error']}")

    timed_s = summary["timed_s"]
    lat = latency_metrics(done)
    cot_end = cotenant_window()
    record = dict(summary["record"], **base,
                  cotenant_cores_start=cot_start, cotenant_cores_during=cot_during,
                  cotenant_cores_end=cot_end, steal_cores_during=steal_during,
                  cotenant_flag=max(cot_start, cot_during, cot_end) > COTENANT_FLAG_CORES,
                  load_s=summary["load_s"],
                  session_s=summary["session_s"], warmup_s=summary["warmup_s"],
                  jvm_wall_s=round(wall, 3), timed_s=timed_s,
                  ops=len(done), failed=len(failed),
                  error_rate=len(failed) / len(done),
                  update_p50_s=lat["update_p50_s"],
                  update_p90_s=lat["update_p90_s"],
                  layers=summary["layers"],
                  layer_table=summary["layer_table"])
    if not base["trace"]:
        record["end_to_end"] = {
            "setup_s": summary["setup_s"],
            "query_p50_s": lat["query_p50_s"],
            "query_p90_s": lat["query_p90_s"],
            "ops_per_s": len(done) / timed_s,
            "peak_rss_mb": summary["peak_rss_mb"]}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    if record["cotenant_flag"]:
        log(f"co-tenant load during this run (start {cot_start}, during "
            f"{cot_during}, end {cot_end} cores): its timings are suspect")
    log("record " + json.dumps({k: v for k, v in record.items()
                                 if k not in ("layer_table", "layers")}))
    # keep the small outputs; store layouts and dumps are rebuilt per run
    for d in os.listdir(run_dir):
        p = os.path.join(run_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    return done, failed, record


def git_commit(root):
    """HEAD of the checkout, or None where it is not a git repository."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="flip one expected answer (self-test of the checks)")
    args = ap.parse_args()
    try:
        return run(args)
    except Exception as e:  # a failed run prints no result line
        log(f"run failed: {type(e).__name__}: {e}")
        return 4


if __name__ == "__main__":
    sys.exit(main())
