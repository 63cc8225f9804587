#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload cxc_refresh|query_mix|stream_dedup \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
harness from source (``perfbench/build.sbt``) into ``.bench_build/``; later
runs reuse that build while the sources are unchanged. Each run then:

1. generates the workload's inputs from ``--seed`` (``gen.py``) three times
   and keeps the last copy, so set-up time is a median;
2. starts one JVM (``perfbench.Main``) on a fresh ``java.io.tmpdir`` and
   Spark local dir, which sets up (persisted-index builds for query_mix)
   and then runs whole cycles of operations, one closed-loop client,
   until at least ``--seconds`` of timed work is done;
3. checks the outputs of the last cycle (``checks.py``), untimed;
4. prints a stamp line and, as the last line, the result JSON.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the JVM also records spans and Spark listener counters and
the result holds the per-layer metrics. The span file is written to
``.bench_build/traces/``. A failed operation or output check counts in
``failed``; the metrics are still reported.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("cxc_refresh", "query_mix", "stream_dedup")
BUILD = ".bench_build"
JVM_TIMEOUT_S = 160
SETUP_REPEATS = 3
# the most a traced run's operations may hold outside every reported layer
RESIDUE_S = 0.1

# query_mix and stream_dedup inputs
SF = 0.01
N_DOCS = 500
N_VECS = 500
STREAM_DOCS = 660
STREAM_BATCH = 60

ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]

LAYERS = ["cxc.report", "cxc.audit", "cxc.analytics", "cxc.kpis", "output.xlsx",
          "output.pdf", "queries.core", "queries.kpi", "queries.event", "queries.text",
          "queries.vector", "multimodal", "index.build", "streaming.process_batch",
          "streaming.compact"]
COUNTERS = ["busy_s", "driver_s", "plan_s", "jobs", "task_cpu_s", "shuffle_mb"]
PROGRAM_COUNTERS = ["streaming.compactions", "streaming.compact_mb", "streaming.index_mb",
                    "streaming.write_amp", "output.parquet_mb", "output.xlsx_mb",
                    "output.pdf_pages"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")) or d.startswith(os.path.join(root, "src")):
                    p = os.path.join(d, f)
                    h.update(p[len(root):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspathAsJars"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def jvm(cp, args, log_dir, tmp):
    """Run perfbench.Main in its own process group; return (rc, log path)."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # the run's own local dir, set in Main
    log_path = os.path.join(log_dir, "jvm.log")
    cmd = ["java", "-XX:-UsePerfData", *heap_flags(), *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc, log_path


def driver_heap_mb():
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        kb = 8 << 20
    return 3072 if kb >= 12 << 20 else 2048


def heap_flags():
    """Fixed heap and young generation, so GC timing, and with it the
    resident set, depends on the program's allocation and not on heap
    resizing decisions.
    """
    mb = driver_heap_mb()
    return ["-XX:+UseParallelGC", f"-Xms{mb}m", f"-Xmx{mb}m", f"-Xmn{mb // 3}m"]


def make_inputs(workload, seed, run_dir):
    """Generate the inputs SETUP_REPEATS times; keep the last; return the
    input dir, the median generation time and the generated cxc table.
    """
    times, raw = [], None
    for i in range(SETUP_REPEATS):
        d = os.path.join(run_dir, f"input{i}")
        os.makedirs(d)
        t0 = time.perf_counter()
        if workload == "cxc_refresh":
            raw = gen.cxc_raw(os.path.join(d, "cxc_raw.parquet"), seed)
        elif workload == "query_mix":
            gen.sf_tables(d, seed, SF, N_DOCS, N_VECS)
        else:
            cols = gen.documents(seed, STREAM_DOCS)
            os.makedirs(os.path.join(d, "stream"))
            for b in range(0, STREAM_DOCS, STREAM_BATCH):
                gen.write_documents(os.path.join(d, "stream", f"batch{b // STREAM_BATCH:04d}.parquet"),
                                    cols, (b, min(b + STREAM_BATCH, STREAM_DOCS)))
        times.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(d)
    return d, statistics.median(times), raw


def run_jvm(cp, workload, seconds, trace, input_dir, run_dir, spans_file):
    work = os.path.join(run_dir, "work")
    for d in (work, os.path.join(work, "spark-local"), os.path.join(work, "out")):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    rc, log_path = jvm(cp, ["--workload", workload, "--seconds", str(seconds),
                            "--trace", str(trace), "--input", input_dir, "--work", work,
                            "--result", result, "--spans", spans_file,
                            "--cpus", str(os.cpu_count() or 1),
                            "--queries", ",".join(checks.QUERY_IDS)],
                       run_dir, os.path.join(run_dir, "tmp"))
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(result) as fh:
        return json.load(fh), work


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the steal column of /proc/stat); 0 where the kernel does not report it.
    """
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the repository root (src/main/scala/graft not found)")
    cp = build(root)

    load_start, steal_start = os.getloadavg()[0], steal_s()
    run_dir = os.path.join(root, BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(root, BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans_file = os.path.join(traces, f"{a.workload}-s{a.seed}.spans.jsonl")
    try:
        input_dir, gen_s, raw = make_inputs(a.workload, a.seed, run_dir)
        launch = time.time()
        res, work = run_jvm(cp, a.workload, a.seconds, a.trace, input_dir, run_dir, spans_file)
        jvm_s = time.time() - launch
        t0 = time.time()
        failed_checks = checks.run(a.workload, res, input_dir, os.path.join(work, "out"), raw)
        check_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end, steal = os.getloadavg()[0], steal_s() - steal_start

    ops = res["ops"]
    builds = res["builds"]
    failed_ops = {o["name"] for o in ops if "error" in o} | set(failed_checks)
    failed = sum(1 for o in ops if o["name"] in failed_ops) + sum(1 for b in builds if "error" in b)
    attempted = len(ops) + len(builds)
    for name, why in failed_checks.items():
        log(f"check failed: {name}: {why}")

    lat = [o["seconds"] for o in ops]
    cycles = sorted({o["cycle"] for o in ops})
    cycle_walls = [sum(o["seconds"] for o in ops if o["cycle"] == c) for c in cycles]
    wall = statistics.median(cycle_walls)
    setup_s = gen_s + (res["first_op_ms"] / 1000.0 - launch)

    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "nproc": os.cpu_count(), "driver_heap_mb": driver_heap_mb(),
             "load1_start": round(load_start, 2), "load1_end": round(load_end, 2),
             "steal_s": round(steal, 2),
             "cycles": len(cycles), "ops": len(ops),
             "inputs_s": round(gen_s, 3),
             "session_s": round(res["session_ms"] / 1000.0 - launch, 3),
             "program_setup_s": round((res["first_op_ms"] - res["session_ms"]) / 1000.0, 3),
             "jvm_s": round(jvm_s, 3), "check_s": round(check_s, 3),
             "builds": {b["name"]: round(b["seconds"], 3) for b in builds},
             "failed_checks": failed_checks}
    if a.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "batch_p80_s": (percentile(lat, 0.8), "s"),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        }
    else:
        layers = res["layers"]
        metrics = {}
        for layer in LAYERS:
            for c in COUNTERS:
                v = layers.get(layer, {}).get(c, 0)
                metrics[f"{layer}.{c}"] = (v, "count" if c == "jobs" else
                                           "MiB" if c == "shuffle_mb" else "s")
        for qid in checks.QUERY_IDS:
            qs = [o["seconds"] for o in ops if o["name"] == f"query:{qid}"]
            metrics[f"query.{qid}.s"] = (statistics.median(qs) if qs else 0.0, "s")
        metrics["jvm.gc_s"] = (res["jvm_gc_s"], "s")
        metrics["jvm.heap_peak_mb"] = (res["jvm_heap_peak_mb"], "MiB")
        counters = res["counters"]
        for k in PROGRAM_COUNTERS:
            unit = ("count" if k in ("streaming.compactions", "output.pdf_pages") else
                    "ratio" if k == "streaming.write_amp" else "MiB")
            metrics[k] = (counters.get(k, 0.0), unit)
        # reported layers only: time in the operations that no layer
        # claims (the harness's own code between calls) stays in the residue
        top = sum(layers.get(k, {}).get("busy_s", 0.0) for k in LAYERS if k != "index.build")
        metrics["trace.wall_s"] = (wall, "s")
        residue = sum(lat) - top
        metrics["trace.residue_s"] = (residue, "s")
        stamp["residue_within_bound"] = abs(residue) <= RESIDUE_S
        if abs(residue) > RESIDUE_S:
            log(f"trace residue {residue:.3f} s exceeds {RESIDUE_S} s: "
                "operation time that no reported layer claims")
    print("perfbench-stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
