#!/usr/bin/env python3
"""End-to-end benchmark of graft: the reference ALTO flow and the
materialised query suite. See e2ebench/README.md.

Usage (from the repository root):

    python3 e2ebench/run.py --workload alto_flow|query_suite --seed N \
        --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, in
e2ebench/), runs one workload in one JVM at local[N] with N = nproc,
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (and
a span dump is written to e2ebench/out/).
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
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["alto_flow", "query_suite"]
# every run of a workload must end within this many seconds
RUN_LIMIT_S = 175
# the input re-layout is repeated this many times; setup_s takes the median
SETUP_REPS = 5

END_TO_END = {
    "wall_rel": "ratio", "cpu_rel": "ratio", "setup_s": "s", "heap_retained_mb": "MB",
}
# the modules of the query_suite list (e2ebench QuerySuite.Queries)
MODULES = ["CatalogModule", "RelationalModule",
           "TextAnalysisModule", "DedupModule", "SimilarityModule",
           "EventsModule", "LinkageModule", "GraphModule", "MultimodalModule",
           "CorpusModule", "CurationModule"]


def _per_layer():
    m = {}
    for n in ["plan.analysis_s", "plan.optimization_s", "plan.planning_s"]:
        m[n] = "s"
    m["plan.executions"] = "count"
    m["operators.construct_s"] = "s"
    m["operators.construct_jobs"] = "count"
    m["operators.construct_jobs_cold"] = "count"
    m["operators.query_p50_s"] = "s"
    m["operators.query_p90_s"] = "s"
    for mod in MODULES:
        m[f"operators.module.{mod}.wall_s"] = "s"
        m[f"operators.module.{mod}.cpu_s"] = "s"
    for n, u in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("core_busy_ratio", "ratio"), ("shuffle_write_mb", "MB"),
                 ("shuffle_read_mb", "MB"), ("shuffle_fetch_wait_s", "s"),
                 ("spill_mb", "MB"), ("task_gc_s", "s"), ("input_mb", "MB"),
                 ("output_mb", "MB")]:
        m[f"exec.{n}"] = u
    for n in ["worklist_construct_s", "watermark_read_s", "watermark_write_s"]:
        m[f"sources.{n}"] = "s"
    m.update({"alto.fetch.calls": "count", "alto.fetch.per_doc": "ratio",
              "alto.fetch.busy_s": "s", "alto.fetch.failed": "count",
              "alto.observe.docs": "count",
              "alto.observe.skipped_unsupported": "count",
              "alto.observe.failed_fetches": "count",
              "sinks.objects_s": "s", "sinks.objects_written": "count",
              "sinks.object_mb": "MB", "sinks.upsert_s": "s",
              "sinks.jdbc_busy_s": "s", "sinks.jdbc_connections": "count",
              "sinks.jdbc_commits": "count", "sinks.rows_upserted": "count",
              "trace.overhead_s": "s", "trace.spans": "count"})
    return m


PER_LAYER = _per_layer()


class BenchError(Exception):
    pass


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def cores():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Heap size by the repository's test rule: half of RAM, 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness with the benchmark's own sbt build and
    return the runtime classpath. Skipped when no source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("program sources (src/main/scala/graft) not found next to e2ebench/")
    if not os.path.isdir(DATA):
        raise BenchError(f"benchmark data {DATA} not found")
    stamp = _source_stamp()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    log("building program and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=870)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def relay(seed, dst):
    """Re-lay the sf0.01 tables: a seed-chosen row order, split into
    two files per table. The rows are those of the committed copy, so
    query outputs must not change. The file count is fixed: it sets
    the number of scan tasks, which would otherwise make the work, not
    just the layout, depend on the seed."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.RandomState(seed % (2 ** 32))
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    for t in TABLES:
        tab = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        parts = 2
        d = os.path.join(dst, f"{t}.parquet")
        os.makedirs(d)
        bounds = np.linspace(0, tab.num_rows, parts + 1).astype(int)
        for i in range(parts):
            pq.write_table(tab.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(d, f"part-{i:05d}.parquet"))


def java_cmd(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = [java, f"-Xmx{heap_size()}"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the catalog stands in for the reference's Postgres: its commits
    # skip fsync so the sink is timed, not the disk of a shared host
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-Dderby.system.durability=test",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "e2ebench.Main"] + args
    return cmd


def oracle_check(pristine, verify, queries):
    """DuckDB compare of the dumped outputs with tools/check_oracle.py,
    over the committed copy of the tables. Returns the failure messages:
    one for each of `queries` that has no oracle or does not pass."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.exists(tool):
        raise BenchError("tools/check_oracle.py not found")
    p = subprocess.run([sys.executable, tool, pristine, verify], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
                       timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) > 1 and parts[0] in ("PASS", "FAIL"):
            verdicts[parts[1].rstrip(":")] = line
    fails = []
    for q in queries:
        v = verdicts.get(q)
        if v is None:
            fails.append(f"FAIL {q}: no oracle verdict")
        elif not v.startswith("PASS"):
            fails.append(v)
    return fails


def metrics_for(trace, e2e, layers):
    """The result's metrics: every end-to-end metric untraced, every
    per-layer metric traced (0 where the workload has no such layer)."""
    if trace:
        return {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()}
    return {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def run(args):
    t_start = time.time()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    cp = build()
    n = cores()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    try:
        prep = []
        data = ""
        if args.workload == "query_suite":
            data = os.path.join(work, "data")
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                relay(args.seed, data)
                prep.append(time.perf_counter() - t0)
        spans = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
        jargs = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--cores", str(n), "--work", work, "--data", data,
                 "--spawn-ms", str(int(time.time() * 1000)), "--spans", spans]
        budget = RUN_LIMIT_S - (time.time() - t_start)
        t_jvm = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as err:
            p = subprocess.Popen(java_cmd(cp, jargs, work), stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise BenchError(f"benchmark JVM exceeded {budget:.0f} s")
        t_jvm = time.time() - t_jvm
        with open(os.path.join(work, "jvm.log")) as f:
            for line in f:
                if line.startswith("[e2ebench"):
                    sys.stderr.write(line)
        res = None
        for line in out.splitlines():
            if line.startswith("E2EBENCH "):
                res = json.loads(line[len("E2EBENCH "):])
        if p.returncode != 0 or res is None:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise BenchError(f"benchmark JVM failed (exit {p.returncode})")

        checks = list(res["checks"])
        failed = res["failed"]
        attempted = res["attempted"]
        items = res["items"]
        oracle = None
        if args.workload == "query_suite":
            t_oracle = time.time()
            queries = res["diag"]["queries"]
            fails = oracle_check(DATA, os.path.join(work, "verify"), queries)
            oracle = {"checked": len(queries), "failed": len(fails),
                      "seconds": time.time() - t_oracle}
            checks += fails
            # a query that threw and also has no passing output counts
            # as failed once
            bad = {l.split()[1].rstrip(":") for l in fails}
            already = {c.split()[0] for c in res["checks"] if c.startswith("q_")}
            failed += len(bad - already)
            items = attempted - failed
        e2e = dict(res["e2e"])
        e2e["setup_s"] += statistics.median(prep) if prep else 0.0
        metrics = metrics_for(args.trace, e2e, res["layers"])
        if args.trace:
            import trace_report
            trace_report.print_report(spans, file=sys.stderr)
        cpu_end = cpu_times()
        total = cpu_end[1] - cpu_start[1]
        diag = {
            "workload": args.workload, "seed": args.seed, "cores": n,
            "timed_runs": res["timed_runs"], "timed_walls_s": res["timed_walls"],
            "untraced_walls_s": res["untraced_walls"],
            "jvm_start_s": res["jvm_start_s"],
            "jvm_wall_s": t_jvm, "cold_run_s": res["cold_run_s"],
            "wall_s": res["wall_s"], "cpu_s": res["cpu_s"],
            "items_per_s": items / res["wall_s"],
            "probes_s": res["probes"],
            "timed_parts_s": res["timed_parts"],
            "input_prep_s": prep,
            "failed_ratio": failed / attempted if attempted else 1.0,
            "contention": {"spin_penalty_start": res["spin_penalty_start"],
                           "spin_penalty_end": res["spin_penalty_end"],
                           "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                           "steal_share": (cpu_end[0] - cpu_start[0]) / total if total else 0.0},
            "oracle": oracle, "checks": checks, "detail": res["diag"],
        }
        print(json.dumps({"diagnostics": diag}))
        for c in checks:
            log(f"check failed: {c}")
        print(result_line(failed == 0 and not checks, attempted, failed, metrics))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
