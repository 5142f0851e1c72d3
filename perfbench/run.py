#!/usr/bin/env python3
"""graft benchmark: one command runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> \
        --trace <0|1>

Run from the repository root. The first run builds the library together
with the harness (sbt, offline) and generates the seed's ETL inputs;
later runs reuse both. The query cards and the index families read the
project's test tables, copied under ``perfbench/testdata``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The full record
(environment stamp, every op, every check) is saved under
``.bench_data/results/``; ``run.py compare A.json B.json`` compares two
saved records and refuses records taken on different machines.

Exit status is non-zero when an output check fails or the run cannot
start (for example when the library sources are missing).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data")
sys.path.insert(0, HERE)

import canon  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("warehouse", "index_lifecycle")
TESTDATA = os.path.join(HERE, "testdata")
# the project's sf 0.1 test tables, which graft.Bench reads: the cards
# read all ten, the index families documents and embeddings
TABLES = os.path.join(TESTDATA, "sf0.1")
JVM_TIMEOUT_S = 165
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "batch_s": "s",
    "query_ms_p50": "ms",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_only_ms": "ms", "sched.task_retries": "count",
    "exec.task_cpu_ms": "ms", "exec.task_run_ms": "ms", "exec.gc_ms": "ms",
    "exec.deser_ms": "ms", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "sources.extract_ms": "ms", "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes", "sources.write_ms": "ms",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "etl.run_ms": "ms", "etl.validate_ms": "ms", "etl.jobs": "count",
    "segments.append_ms": "ms", "segments.delete_ms": "ms",
    "segments.maintain_ms": "ms", "segments.vacuum_ms": "ms",
    "segments.cdc_ms": "ms", "segments.read_ms": "ms",
    "segments.resolve_ms": "ms", "segments.merges": "count",
    "segments.compactions": "count", "segments.segs_at_serve": "count",
    "segments.bytes_written": "bytes", "segments.files_written": "count",
    "segments.bytes_live": "bytes",
    "segments.write_amp": "ratio", "segments.space_amp": "ratio",
    "index.pq_serve_ms": "ms", "index.bm25_serve_ms": "ms",
    "index.serve_jobs": "count", "index.pq_scanned_per_result": "ratio",
    "queries.q_ms": "ms", "queries.a_ms": "ms", "queries.j_ms": "ms",
    "self.op_ms": "ms", "self.sources_ms": "ms", "self.etl_ms": "ms",
    "self.segments_ms": "ms", "self.index_ms": "ms",
    "self.queries_ms": "ms", "self.jobs_ms": "ms",
    "trace.overhead_pct": "%",
}


class BenchError(Exception):
    pass


# ------------------------------------------------------------- statistics

def tail(values, p=90):
    """The highest nearest-rank percentile up to `p` that keeps at least
    ten samples beyond it (failed ops count as +inf), with its percent;
    None below 20 samples, where only the median is defined."""
    xs = sorted(values)
    n = len(xs)
    rank = min(math.ceil(p / 100.0 * n), n - 10)
    if rank < n / 2:
        return None
    return xs[rank - 1], 100.0 * rank / n


def median(values):
    return statistics.median(values) if values else float("nan")


def pass_rate(queries, pass_len):
    """Queries per second of the median whole pass. A pass is `pass_len`
    consecutive query ops; one with a failed op takes forever. The median
    pass, not the whole phase, so that one pass slowed by the machine
    does not set the rate."""
    secs = []
    for k in range(len(queries) // pass_len):
        ops = queries[k * pass_len:(k + 1) * pass_len]
        secs.append(sum(o["ms"] / 1e3 if o["ok"] else math.inf
                        for o in ops))
    return pass_len / median(secs) if secs else float("nan")


# --------------------------------------------------------------- env stamp

def env_stamp(seed):
    def read(path, default=""):
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return default
    mem = re.search(r"MemTotal:\s+(\d+)", read("/proc/meminfo"))
    cpu = re.search(r"model name\s*:\s*(.*)", read("/proc/cpuinfo"))
    head = "unknown"
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": int(mem.group(1)) if mem else 0,
        "cpu_model": cpu.group(1).strip() if cpu else "",
        "load_before": os.getloadavg()[0],
        "git_head": head,
        "source_hash": source_hash(),
        "seed": seed,
    }


def cpu_ticks():
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (t[7] if len(t) > 7 else 0), sum(t)


def same_machine(a, b):
    return all(a.get(k) == b.get(k)
               for k in ("nproc", "mem_total_kb", "cpu_model"))


# ------------------------------------------------------------------- build

def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src"), HERE):
        for dirpath, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if d not in ("target", "project")]
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith((".scala", ".java", ".sbt"))]
            if base == HERE:
                break
    return sorted(set(out))


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile library + harness with sbt unless the build matches the
    current sources, then prime it; return the runtime classpath.

    Priming runs every workload's code paths once in a JVM of its own.
    It builds the state that depends only on the test tables and the
    build (`cache_dir`), and at exit writes a class-data-sharing archive
    of the classes loaded, which every measured JVM maps. The archive
    cuts about 5 s of class loading from each run's cold start, and so
    from `setup_s`; a build whose archive cannot be written fails."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("library sources (src/main/scala) not found")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    want = source_hash()
    primed = (stamp, cp_file, CDS_ARCHIVE,
              os.path.join(cache_dir(), "index-base"))
    if all(map(os.path.exists, primed)):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Xmx2g").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        raise BenchError("build failed")
    cp = lines[-1].strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    shutil.rmtree(cache_dir(), ignore_errors=True)
    work = os.path.join(DATA, "work", f"prime-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        run_jvm(cp, "prime", TABLES, TABLES, 0, 0, 0, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(CDS_ARCHIVE):
        raise BenchError("priming wrote no class-data archive")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


# ------------------------------------------------------------------ inputs

def cached(d, make):
    """Generate into `d` once; later calls reuse it."""
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def check_testdata():
    """Refuse to run on test tables that differ from the project's."""
    with open(os.path.join(TESTDATA, "SHA256SUMS")) as f:
        for line in f:
            want, rel = line.split()
            h = hashlib.sha256()
            with open(os.path.join(TESTDATA, rel), "rb") as g:
                h.update(g.read())
            if h.hexdigest() != want:
                raise BenchError(f"testdata/{rel} does not match SHA256SUMS")


def inputs(workload, seed):
    """(reference-layout dir, test tables dir) of the workload. The ETL's
    reference layout is generated once per seed; only the warehouse
    reads it."""
    check_testdata()
    if workload != "warehouse":
        return TABLES, TABLES
    fitness = cached(os.path.join(DATA, "fitness", f"seed-{seed}"),
                     lambda d: gen.fitness(d, seed))
    return fitness, TABLES


# ---------------------------------------------------------------- the run

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cache_dir():
    """State that depends only on the test tables and the build (the
    index workload's base layouts), shared by all runs of one build and
    written when the build is primed."""
    d = os.path.join(DATA, "cache", source_hash())
    os.makedirs(d, exist_ok=True)
    return d


def run_jvm(cp, workload, data, tables, seed, seconds, trace, work):
    """Run one benchmark process and return its result; the `prime`
    workload (see `build`) returns None."""
    prime = workload == "prime"
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation, touched at start, keep the peak
    # resident memory a function of the program's native memory: with a
    # growing heap, or heap pages touched as the collector reaches them,
    # it moved by 10-20% from run to run with the collector's timing. The
    # parallel collector does no concurrent marking, whose timing moved
    # the ETL's time by about 10% under G1.
    cmd = ["java", "-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Dderby.system.home={tmp}",
           f"-XX:{'ArchiveClassesAtExit' if prime else 'SharedArchiveFile'}"
           f"={CDS_ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--data", data, "--tables", tables, "--cache", cache_dir(),
            "--work", work, "--seconds", str(seconds),
            "--seed", str(seed), "--trace", str(trace), "--out", out]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("benchmark process timed out")
    finally:
        log.close()
    if proc.returncode != 0 or not (prime or os.path.exists(out)):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"benchmark process exited {proc.returncode}")
    if prime:
        return None
    with open(out) as f:
        return json.load(f)


def warehouse_rows(out):
    """Row count per written warehouse table, from the parquet footers."""
    import pyarrow.parquet as pq
    counts = {}
    if not os.path.isdir(out):
        return counts
    for table in os.listdir(out):
        files = [os.path.join(d, f) for d, _, fs in
                 os.walk(os.path.join(out, table)) for f in fs
                 if f.endswith(".parquet")]
        if files:
            counts[table] = sum(pq.ParquetFile(f).metadata.num_rows
                                for f in files)
    return counts


def check_outputs(workload, res, data, tables, work):
    """Return (names of ops whose output is wrong, failed checks)."""
    bad_ops, bad = set(), [c["what"] + ": " + c["detail"]
                           for c in res["checks"] if not c["ok"]]
    if workload != "warehouse":
        return bad_ops, bad
    with open(os.path.join(data, "expected.json")) as f:
        exp = json.load(f)
    got = dict(warehouse_rows(os.path.join(work, "warehouse")),
               quality_score=res["counters"].get("quality_score"))
    want = dict(exp["tables"], quality_score=exp["quality_score"])
    diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if diff:
        bad_ops.add("etl")
        bad.append(f"etl: observed vs expected {diff}")
    # DuckDB's digests of the cards' oracle SQL, cached by the SQL text
    # per version of the test tables
    with open(os.path.join(TESTDATA, "SHA256SUMS"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:16]
    cache = os.path.join(DATA, f"oracle-{version}.json")
    cards = {k: v["sql"] for k, v in res["digests"].items()}
    expected = {}
    if os.path.exists(cache):
        with open(cache) as f:
            expected = json.load(f)
    todo = {k: v for k, v in cards.items()
            if expected.get(k, {}).get("sql") != v}
    if todo:
        for k, (dig, rows) in canon.oracle_digests(tables, todo).items():
            expected[k] = {"sql": todo[k], "digest": dig, "rows": rows}
        os.makedirs(DATA, exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(cache + ".tmp", cache)
    for name, got in res["digests"].items():
        want = expected[name]
        if got["digest"] != want["digest"]:
            keep = os.path.join(DATA, "results", "mismatch")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "canon", name + ".txt"),
                        os.path.join(keep, name + ".spark.txt"))
            bad_ops.add(name)
            bad.append(f"{name}: digest {got['digest'][:12]} "
                       f"({got['rows']} rows) vs oracle "
                       f"{want['digest'][:60]} ({want['rows']} rows)")
    return bad_ops, bad


def overhead_pct(queries):
    """Tracing overhead in a traced run, in percent: the median over the
    queries that ran both traced and untraced (listeners detached) of the
    ratio of their median times, minus one. The first timed query is
    left out, so that one cold op cannot tilt a median of two. NaN when
    fewer than two queries ran both ways, which a correct traced run
    never has."""
    runs = {}
    for o in queries[1:]:
        if o["ok"]:
            runs.setdefault(o["name"], {}).setdefault(o["traced"], []) \
                .append(o["ms"])
    ratios = [median(v[True]) / median(v[False]) for v in runs.values()
              if True in v and False in v]
    if len(ratios) < 2:
        return float("nan")
    return 100.0 * (median(ratios) - 1.0)


def metrics(res, bad_ops, trace):
    ops = res["ops"]
    for o in ops:
        if o["name"] in bad_ops or o["ms"] is None:
            o["ok"] = False
    batch = [o for o in ops if o["kind"] == "batch"]
    queries = [o for o in ops if o["kind"] == "query"]
    lat = [o["ms"] if o["ok"] else math.inf for o in queries]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if not trace:
        vals = {
            "setup_s": res["jvm_start_s"] + res["setup_s"],
            "batch_s": sum(o["ms"] / 1e3 if o["ok"] else math.inf
                           for o in batch),
            "query_ms_p50": median(lat),
            "queries_per_s": pass_rate(queries,
                                       int(res["counters"]["pass_len"])),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = END_TO_END
    else:
        vals = {k: 0.0 for k in PER_LAYER}
        vals.update({k: v for k, v in res["layers"].items() if k in vals})
        vals.update({k: v for k, v in res["counters"].items() if k in vals})
        vals["trace.overhead_pct"] = overhead_pct(queries)
        units = PER_LAYER
    return attempted, failed, {k: {"value": vals[k], "unit": units[k]}
                               for k in units}


def run(args):
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}")
    env = env_stamp(args.seed)
    cp = build()
    data, tables = inputs(args.workload, args.seed)
    work = os.path.join(DATA, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ticks0 = cpu_ticks()
        res = run_jvm(cp, args.workload, data, tables, args.seed,
                      args.seconds, args.trace, work)
        ticks1 = cpu_ticks()
        bad_ops, bad = check_outputs(args.workload, res, data, tables, work)
        attempted, failed, mets = metrics(res, bad_ops, args.trace)
        trace_file = os.path.join(work, "trace.jsonl")
        results = os.path.join(DATA, "results")
        os.makedirs(results, exist_ok=True)
        stem = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
        if os.path.exists(trace_file):
            shutil.move(trace_file, os.path.join(results,
                                                 stem + ".trace.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the share of the machine's CPU time the hypervisor gave to other
    # guests while the benchmark ran, to tell runs the host slowed
    env.update(load_after=os.getloadavg()[0],
               steal_pct=100.0 * (ticks1[0] - ticks0[0]) /
               max(1, ticks1[1] - ticks0[1]),
               spark_version=res["spark_version"],
               java_version=res["java_version"])
    lat = [o["ms"] if o["ok"] else math.inf for o in res["ops"]
           if o["kind"] == "query"]
    record = {"workload": args.workload, "seconds": args.seconds,
              "trace": args.trace, "env": env, "metrics": mets,
              "queries": len(lat), "query_ms_tail": tail(lat),
              "failed_checks": bad, "ops": res["ops"],
              "counters": res["counters"],
              "checks": len(res["checks"]),
              "phases_s": {k: res[k] for k in (
                  "jvm_start_s", "setup_s", "prepare_s", "window_s",
                  "finish_s", "wall_s")}}
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for b in bad[:20]:
        sys.stderr.write(f"check failed: {b}\n")
    correct = not bad and failed == 0
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": mets}))
    return 0 if correct else 1


def compare(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if not same_machine(a["env"], b["env"]):
        raise BenchError("records were taken on different machines; "
                         "refusing to compare")
    for k, m in a["metrics"].items():
        if k in b["metrics"]:
            va, vb = m["value"], b["metrics"][k]["value"]
            rel = (vb / va - 1.0) * 100 if va else float("nan")
            print(f"{k:32s} {va:14.4f} {vb:14.4f} {rel:+8.2f}% {m['unit']}")
    return 0


def main(argv):
    if argv[:1] == ["compare"] and len(argv) == 3:
        return compare(argv[1], argv[2])
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
