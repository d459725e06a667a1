#!/usr/bin/env python3
"""Pin the expected result fingerprints of one workload at one seed.

    python3 perfbench/pin.py --workload <name> --seed <n> [--seconds <s>]

Run from the repository root. It runs the benchmark once and keeps its
generated inputs. For the query workloads it then runs graft.Verify
over those same inputs and scripts/check_oracle.py over Verify's
outputs: every benchmark query with an oracle must pass it, and the
fingerprint of Verify's output must equal the fingerprint every
benchmark execution produced. A query without an oracle (ss03) is
pinned from its own run and listed as self-pinned. index-ingest has no
oracle; its probe results are self-pinned from the run. The file goes
to perfbench/expected/<workload>/seed-<n>.json.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    args = ap.parse_args()
    args.trace = 0

    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    os.makedirs(state, exist_ok=True)
    cp = run.build(root, state)
    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="pin-", dir=state)
    try:
        raw = run.launch(cp, args, work, cores)
        attempted, failed, bad = run.check(raw)
        if failed:
            run.die(f"the run itself is inconsistent: {bad}")
        ops = list(raw["warmup"]) + [op for w in raw["windows"]
                                     for op in w["ops"]]
        got = {op["name"]: op["fp"] for op in ops if op["fp"] is not None}
        if raw["workload"] == "index-ingest":
            pinned_from = "the benchmark's own run (the index has no oracle)"
            self_pinned = sorted(got)
        else:
            pinned_from = ("graft.Verify outputs on the same inputs, passing "
                           "scripts/check_oracle.py")
            self_pinned = verify(cp, raw, work, cores, got)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(HERE, "expected", raw["workload"])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"seed-{raw['seed']}.json")
    with open(path, "w") as fh:
        json.dump({"workload": raw["workload"], "seed": raw["seed"],
                   "pinned_from": pinned_from, "self_pinned": self_pinned,
                   "results": dict(sorted(got.items()))}, fh, indent=1)
        fh.write("\n")
    print(f"pinned {len(got)} results ({len(self_pinned)} self-pinned) "
          f"to {os.path.relpath(path, root)}")


def verify(cp, raw, work, cores, got):
    """Check the run's queries against the DuckDB oracle; return the
    names that have none."""
    inputs = os.path.join(work, "inputs")
    out = os.path.join(work, "verify")
    names = raw["queries"]
    run.java(cp, "graft.Verify", [inputs, out] + names, work)
    proc = subprocess.run(
        [sys.executable, os.path.join("scripts", "check_oracle.py"),
         inputs, out], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    verdict = {n: v for v, n in re.findall(
        r"^(PASS|FAIL|ROWS) ([^\s:]+)", proc.stdout, re.M)}
    fps_file = os.path.join(work, "verify-fingerprints.json")
    run.java(cp, "perfbench.Main",
             ["--fingerprints", out, "--cores", str(cores), "--work", work,
              "--out", fps_file], work)
    with open(fps_file) as fh:
        verified = json.load(fh)
    self_pinned = []
    for n in names:
        v = verdict.get(n)
        if v == "ROWS":
            self_pinned.append(n)
        elif v != "PASS":
            sys.stdout.write(proc.stdout[-3000:])
            run.die(f"{n}: oracle verdict {v}")
        if verified.get(n) != got.get(n):
            run.die(f"{n}: Verify's output {verified.get(n)} differs from "
                    f"the benchmark's result {got.get(n)}")
    return self_pinned


if __name__ == "__main__":
    main()
