#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py), then
runs the harness JVM on the committed inputs (perfbench/data, cut from the
repository's sf0.01 test data by make_inputs.py): set-up, one untimed
warm-up pass, and timed passes over the workload's queries (in an order
set by --seed). The number of timed passes is --seconds divided by the
nominal pass time PASS_S, at least 3, so every run with the same --seconds
does the same work. Every query result is checked against its expected
digest (perfbench/expected.json). With --trace 0 the metrics are the end-to-end
ones; with --trace 1 a separately traced run gives the per-layer ones and
writes its spans to .bench_build/traces/.

Other flags: --record (check every run's digest against the query's
warm-up run instead of expected.json; the digests are in the result), --keep (keep the run directory, inputs included, and copy the
full result to .bench_build/result-<workload>.json),
--queries a,b (run a subset), --expected-override FILE (check against
other digests; used by the harness tests).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import make_inputs  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SETUP_REPS = 3
# nominal time of one timed pass of either workload on 4 CPUs
PASS_S = 5.4
# a timed window whose CPU steal exceeds this share of the machine's CPU
# time was run under host contention; the run is flagged
STEAL_WARN_SHARE = 0.05
QUERY_TIMEOUT_S = 60
# no timed pass starts that would end after this JVM age; with the kill
# below it keeps a run inside its 180 s limit
DEADLINE_S = 120
JVM_TIMEOUT_S = 170
XMX = "3g"
JVM_FLAGS = ["-XX:+UseG1GC"]
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def timed_passes(seconds):
    """Timed passes that fill `seconds` at the nominal pass time (at least
    3, so the per-query median drops one outlying pass)."""
    return max(3, round(seconds / PASS_S))


def contention(header):
    """A warning when the timed window lost more than STEAL_WARN_SHARE of
    the machine's CPU time to steal, else None."""
    cpus = os.cpu_count() or 1
    share = header["timed_cpu_steal_s"] / (header["measured_s"] * cpus)
    if share <= STEAL_WARN_SHARE:
        return None
    return (f"host contention: {header['timed_cpu_steal_s']:.1f} s of CPU steal in the "
            f"{header['measured_s']:.1f} s timed window ({share:.0%} of {cpus} CPUs); "
            f"this run's times are not comparable")


def module_names(spec_all):
    """Modules of the registry queries the workloads run; each gets its
    per-layer metrics on every workload."""
    return sorted({spec_all["modules"][q] for w in spec_all["workloads"].values()
                   if w.get("registry", "graft") == "graft" for q in w["queries"]})


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(main, args, work):
    """JVM command line for a main class on the built classpath, with its
    temp files kept under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return ["java", f"-Xmx{XMX}", f"-Xms{XMX}", *JVM_FLAGS,
            *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS],
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", build.classpath(), main, *args]


def stream_scratch():
    """Stream scratch directories the program creates on tmpfs
    (SparkEntry.scratchDir); it deletes them itself at JVM exit."""
    shm = "/dev/shm"
    if not os.path.isdir(shm):
        return set()
    return {os.path.join(shm, d) for d in os.listdir(shm) if d.startswith("graft_stream")}


def run_jvm(cfg_path, log_path):
    cmd = java_cmd("perfbench.Harness", [cfg_path], os.path.dirname(cfg_path))
    before = stream_scratch()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            # a killed JVM skips its shutdown hooks: remove what it left
            for d in stream_scratch() - before:
                shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--queries", default="")
    ap.add_argument("--expected-override", default="",
                    help="JSON file of {query: {rows, digest}} used instead of expected.json")
    a = ap.parse_args()

    spec_all = load_json(os.path.join(HERE, "workloads.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if a.workload not in spec_all["workloads"]:
        print(f"[perfbench] unknown workload {a.workload}", file=sys.stderr)
        return 2
    spec = spec_all["workloads"][a.workload]
    queries = a.queries.split(",") if a.queries else spec["queries"]

    try:
        t0 = time.time()
        build.build()
        build_s = time.time() - t0
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    base_dir, data_hash = make_inputs.DATA, make_inputs.content_hash(make_inputs.DATA)
    exp = load_json(os.path.join(HERE, "expected.json"))["workloads"].get(a.workload, {})
    problems = []
    if a.expected_override:
        expected = load_json(a.expected_override)
    else:
        expected = exp.get("queries", {})
        if not a.record and exp.get("data_sha256") != data_hash:
            problems.append(f"input data {data_hash[:12]} differs from the data "
                            f"the expected digests were taken on")

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    out_path = os.path.join(work, "result.json")
    trace_path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
    cores = len(os.sched_getaffinity(0))
    cfg = {
        "workload": a.workload, "registry": spec.get("registry", "graft"), "queries": queries,
        "modules": spec_all["modules"], "module_names": module_names(spec_all),
        "base_dir": base_dir, "work_dir": work,
        "tables": spec["tables"],
        "expected": expected, "record": a.record, "seed": a.seed,
        "passes": timed_passes(a.seconds), "trace": bool(a.trace),
        "cores": cores,
        "setup_reps": SETUP_REPS, "query_timeout_s": QUERY_TIMEOUT_S,
        "deadline_s": DEADLINE_S, "out": out_path,
        "trace_out": trace_path,
        "meta": {"git_commit": git_commit(), "data_sha256": data_hash,
                 "build_s": f"{build_s:.3f}"},
    }
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(BUILD, "logs", f"{run_id}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    rc = run_jvm(cfg_path, log_path)
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"[perfbench] harness exited with {rc}; log {log_path}:\n{tail}",
              file=sys.stderr)
        return 3
    res = load_json(out_path)
    warning = contention(res["header"])
    res["warnings"] = [warning] if warning else []
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{run_id}.json"), "w") as f:
        json.dump(res, f, indent=1)
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    else:
        shutil.copy(os.path.join(BUILD, "results", f"{run_id}.json"),
                    os.path.join(BUILD, f"result-{a.workload}.json"))

    h = res["header"]
    print(f"[perfbench] {a.workload}: {h['timed_passes']} timed passes in "
          f"{h['measured_s']:.1f} s, {len(queries)} queries, cores={h['cores']}, "
          f"load {h['load_avg_before']:.2f}->{h['load_avg_after']:.2f}")
    for f in res["failed_runs"]:
        print(f"[perfbench] FAILED pass {f['pass']} {f['query']}: {f['error']}")
    for p in res["problems"] + problems:
        print(f"[perfbench] problem: {p}")
    for w in res["warnings"]:
        print(f"[perfbench] warning: {w}")
    section = "per_layer" if a.trace else "end_to_end"
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in bench[section]}
    print(json.dumps({"correct": bool(res["correct"]) and not problems,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
