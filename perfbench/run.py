#!/usr/bin/env python3
"""graft's benchmark: run one workload with one seed and print its metrics.

    python3 perfbench/run.py --workload analytics|lakehouse --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout of the repository. The first run builds
the program and the harness (perfbench/harness, compiled together with
src/main) with sbt, offline, into .bench_build/. Every run then:

  1. generates its inputs from the seed (gen.py);
  2. starts one JVM at local[<nproc>] with one client thread, which sets
     the workload up, warms up with one untimed pass that also checks
     every op, and runs the timed ops: a number of whole passes fixed by
     --seconds;
  3. checks every query result against the program's own DuckDB oracle
     SQL, outside the timed window (lakehouse checks every read against
     an in-memory model inside the JVM, also untimed);
  4. writes a run record that no other run overwrites to
     .bench_build/perfbench/records/, and prints one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (listeners on), and the record also holds every layer's
self time. Exits non-zero when a result is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
SF = 0.01
HEAP = "3g"
# Nominal seconds of one pass (analytics: the 16 ops of
# QueryWorkload.Analytics; lakehouse: 13 generated ops and an OPTIMIZE).
# The timed section runs round(seconds / PASS_SECONDS) whole passes, so
# every run of a workload does the same work whatever the speed of the box.
PASS_SECONDS = {"analytics": 10.0, "lakehouse": 10.0}
WRITE_KINDS = {"insert", "merge", "update", "delete", "txn", "optimize"}
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
PROGRAM_MARKERS = ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def source_hash():
    """Hash of everything the build compiles: the program and the harness."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project-target"))
            if os.sep + "target" in d[len(top):]:
                continue
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the program's sources; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("source_hash") == digest:
            return saved["classpath"], digest
    log("building the program and the harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    # its own process group, so that a timeout stops sbt and its JVM alike
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                         cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=850)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit("build timed out")
    lines = [x.strip() for x in out.splitlines() if x.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "perfbench" not in cp:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        json.dump({"source_hash": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, digest


def new_run_dir(name):
    """A fresh directory for this run; never reuses another run's."""
    base = os.path.join(BUILD, "runs")
    os.makedirs(base, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    for i in range(1000):
        d = os.path.join(base, f"{name}-{stamp}-{os.getpid()}-{i}")
        try:
            os.makedirs(d)
            return d
        except FileExistsError:
            continue
    raise SystemExit("cannot create a run directory")


def write_record(name, record):
    """Writes the run record with O_EXCL: no run overwrites another's."""
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    for i in range(1000):
        path = os.path.join(d, f"{name}-{i}.json")
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(record, f, indent=1)
        return path
    raise SystemExit("cannot write the run record")


def run_jvm(classpath, args, work, timeout):
    # a fixed-size heap, touched at start: the JVM does not resize it, and
    # the resident set does not depend on when the collector ran
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] + JVM_OPENS
           + ["-cp", classpath, "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    return code


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run(workload, seed, seconds, trace, corrupt=None, ops=None, quiet=False):
    """One run; returns (result line dict, record dict)."""
    t_process = time.time()
    classpath, digest = build()
    t_setup = time.time()
    nproc = os.cpu_count() or 1
    load_before = load_avg()
    work = new_run_dir(f"{workload}-s{seed}-t{int(bool(trace))}")
    data = os.path.join(work, "data")
    t0 = time.time()
    gen.write(seed, SF, data)
    gen_s = time.time() - t0
    passes = max(1, round(seconds / PASS_SECONDS[workload]))
    report_path = os.path.join(work, "report.json")
    args = ["--workload", workload, "--seed", str(seed), "--passes", str(passes),
            "--trace", "1" if trace else "0", "--data", data, "--work", work,
            "--report", report_path, "--cpus", str(nproc)]
    if corrupt:
        args += ["--corrupt", corrupt]
    if ops:
        args += ["--ops", ",".join(ops)]
    code = run_jvm(classpath, args, work, timeout=max(30.0, 170.0 - (time.time() - t_setup)))
    if code != 0 or not os.path.exists(report_path):
        sys.stderr.write(tail(os.path.join(work, "jvm.log")))
        raise SystemExit(f"the benchmark JVM failed (exit {code}); log: {work}/jvm.log")
    with open(report_path) as f:
        rep = json.load(f)
    load_after = load_avg()

    # correctness, outside every timed window
    bad = {}
    if workload != "lakehouse":
        bad = oracle.check(data, os.path.join(work, "results"), rep["extra"]["checked"],
                           rep["extra"]["oracles"])
    timed = rep["ops"]
    # the warm-up pass is checked like the timed ones and counts alike
    checked = rep["warmup_ops"] + timed
    failed_ops = [o for o in checked if not o["ok"] or o["name"] in bad]
    attempted = len(checked)
    failed = len(failed_ops)
    if workload == "lakehouse" and not rep["extra"]["final_check_ok"]:
        attempted += 1
        failed += 1
    correct = failed == 0 and not bad

    setup_s = rep["first_op_ms"] / 1e3 - t_setup
    e2e = layers.end_to_end(rep, setup_s, WRITE_KINDS)
    e2e["ops_failed_ratio"] = (failed / attempted, "ratio")
    per_layer = layers.per_layer(rep) if trace else {}
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "passes": passes, "sf": SF, "source_hash": digest, "commit": git_commit(),
        "selftest": bool(corrupt or ops),
        "nproc": nproc, "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": HEAP, "driver_heap_mb": rep["driver_heap_mb"],
        "load_before": load_before, "load_after": load_after,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_process)),
        "jit_total_s": rep["totals"].get("jit_s"), "gc_total_s": rep["totals"].get("gc_s"),
        "gc_total_count": rep["totals"].get("gc_count"),
        "setup_parts": {"gen_s": gen_s, "workload_setup_s": rep["workload_setup_s"],
                        "warmup_s": rep["warmup_s"],
                        "session_s": (rep["session_ready_ms"] - rep["jvm_start_ms"]) / 1e3},
        "correct": correct, "attempted": attempted, "failed": failed,
        "failures": [{"name": o["name"], "err": o["err"] or bad.get(o["name"], "")}
                     for o in failed_ops][:50],
        "oracle_failures": bad,
        "end_to_end": e2e, "per_layer": per_layer, "timed_counters": rep["counters"],
        "ops": [{k: o[k] for k in ("name", "kind", "pass", "dur_ms", "ok")} for o in timed],
        "extra": {k: v for k, v in rep["extra"].items() if k not in ("oracles", "live_bytes_at_read")},
    }
    record_path = write_record(f"{workload}-s{seed}-t{int(bool(trace))}", record)
    shutil.rmtree(work, ignore_errors=True)
    if not quiet:
        log(f"record: {os.path.relpath(record_path, ROOT)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if trace else "end_to_end"]
    values = per_layer if trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]} for m in listed}
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return line, record


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def selftest():
    """Checks of the benchmark itself: a corrupted query result and a
    corrupted lakehouse read must count as failed, and a query that builds
    its own session (newSession) must report non-zero plans.* time."""
    ok = True
    line, rec = run("analytics", 1, 1, False, corrupt="q1_agg", ops=["q1_agg", "q14_window"], quiet=True)
    hit = "q1_agg" in rec["oracle_failures"] and line["failed"] > 0 and not line["correct"]
    log(f"selftest corrupted result counted as failed: {'PASS' if hit else 'FAIL'} "
        f"(failed {line['failed']} of {line['attempted']})")
    ok &= hit
    line, rec = run("lakehouse", 1, 1, False, corrupt="read", quiet=True)
    hit = line["failed"] > 0 and not line["correct"]
    log(f"selftest corrupted lakehouse read counted as failed: {'PASS' if hit else 'FAIL'} "
        f"(failed {line['failed']} of {line['attempted']})")
    ok &= hit
    line, rec = run("analytics", 1, 1, True, ops=["q44_stream_agg"], quiet=True)
    pl = rec["per_layer"]
    plan_s = pl["plans.analysis_s"][0] + pl["plans.optimization_s"][0] + pl["plans.planning_s"][0]
    hit = line["correct"] and plan_s > 0 and pl["plans.executions"][0] > 0
    log(f"selftest newSession query reports plans.*: {'PASS' if hit else 'FAIL'} "
        f"(plans {plan_s:.4f} s over {pl['plans.executions'][0]:.0f} executions)")
    ok &= hit
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    missing = [m for m in PROGRAM_MARKERS if not os.path.exists(os.path.join(ROOT, m))]
    if missing:
        log(f"not a checkout of the program (missing {', '.join(missing)}); run from its root")
        return 2
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    line, _ = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
