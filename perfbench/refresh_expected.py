#!/usr/bin/env python3
"""Re-derive perfbench/expected.json from an oracle-checked run.

For each benchmark workload: run it once in record mode (keeping its
built inputs), dump the same queries on the same inputs with the
program's `graft.Verify` main, and compare the dump with the DuckDB
oracle (`tools/check_oracle.py`). Only when every query passes are its
row count and digest written to expected.json, with where they came from.

Usage (from the repository root):
  python3 perfbench/refresh_expected.py TESTDATA_DIR [workload ...]

TESTDATA_DIR is the test data the inputs were cut from (the sf0.01
tables; see make_inputs.py). The oracle reads its other tables.
"""
import datetime
import json
import os
import shutil
import subprocess
import sys
import tempfile

import make_inputs
import run

ROOT = os.getcwd()


def main():
    bench = run.load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec_all = run.load_json(os.path.join(run.HERE, "workloads.json"))
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    testdata = sys.argv[1]
    # the committed inputs must be the cut of this test data
    data_hash = make_inputs.content_hash(make_inputs.DATA)
    with tempfile.TemporaryDirectory() as tmp:
        if make_inputs.cut(testdata, tmp) != data_hash:
            sys.exit(f"perfbench/data is not the cut of {testdata}: run make_inputs.py")
    names = sys.argv[2:] or [w["name"] for w in bench["workloads"]]
    exp_path = os.path.join(run.HERE, "expected.json")
    expected = run.load_json(exp_path)
    for w in names:
        spec = spec_all["workloads"][w]
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", w, "--seed", "1", "--seconds", "1",
                            "--trace", "0", "--record", "--keep"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"{w}: record run failed:\n{p.stderr[-3000:]}")
        res = run.load_json(os.path.join(run.BUILD, f"result-{w}.json"))
        # record mode fails a run whose digest differs from the query's
        # first run; refuse digests that were not the same in every pass
        unstable = sorted({r["query"] for r in res["failed_runs"]} |
                          {q for q, v in res["queries"].items() if len(set(v["digests"])) != 1})
        if unstable:
            sys.exit(f"{w}: digests not stable across passes: {unstable}")
        # the oracle reads every table: start from the test data, then put
        # the exact inputs the harness timed on top
        odir = os.path.join(run.BUILD, "oracle", w)
        shutil.rmtree(odir, ignore_errors=True)
        shutil.copytree(testdata, os.path.join(odir, "inputs"))
        for t in spec["tables"]:  # table -> replica count
            shutil.copy(os.path.join(res["header"]["input_dir"], f"{t}.parquet"),
                        os.path.join(odir, "inputs", f"{t}.parquet"))
        queries = spec["queries"]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(res["header"]["cores"]))
        with open(os.path.join(odir, "verify.log"), "w") as log:
            subprocess.run(run.java_cmd("graft.Verify", [os.path.join(odir, "inputs"),
                                                        os.path.join(odir, "dump"), *queries],
                                        odir),
                           env=env, stdout=log, stderr=subprocess.STDOUT, check=True)
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                              os.path.join(odir, "inputs"), os.path.join(odir, "dump"), *queries],
                             capture_output=True, text=True)
        passed = {ln.split()[1].rstrip(":") for ln in chk.stdout.splitlines()
                  if ln.startswith("PASS")}
        print(chk.stdout.strip())
        if passed != set(queries):
            sys.exit(f"{w}: oracle check did not pass for {sorted(set(queries) - passed)}")
        expected["workloads"][w] = {
            "data_sha256": data_hash,
            "inputs": res["header"]["inputs"],
            "source": {
                "checked": "a graft.Verify dump of these queries on the timed inputs "
                           "passed tools/check_oracle.py (DuckDB oracle, exact compare)",
                "inputs": "perfbench/data, the first rows of the sf0.01 test data "
                          "(make_inputs.py)",
                "git_commit": res["header"]["git_commit"],
                "date": datetime.date.today().isoformat(),
                "cores": res["header"]["cores"]},
            "queries": {q: {"rows": res["queries"][q]["rows"],
                            "digest": res["queries"][q]["digest"]} for q in queries}}
        with open(exp_path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: {len(queries)} expected digests recorded")


if __name__ == "__main__":
    main()
