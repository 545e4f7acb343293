"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Checks that

* the same seed gives byte-identical inputs (and another seed does not);
* a tiny run of every workload, untraced and traced, passes every check
  and prints exactly the metrics ``BENCHMARK.json`` names, with their units
  (``bulk_load``, which ``BENCHMARK.json`` does not list, only has to pass);
* a directory holding only the benchmark makes the run fail without a
  result line.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def corpus_digest(seed: int, scratch: str) -> str:
    """Hash of every file a seeded corpus writes (preload with malformed
    files, then batches with revisions and resends)."""
    import gen

    out = os.path.join(scratch, f"seed{seed}-{len(os.listdir(scratch))}")
    c = gen.Corpus(seed, out, pcrs_per_file=3, widen_every=2)
    c.batch(8, malformed=True)
    c.batch(2, n_revised=3, n_resends=2)
    c.batch(2, n_revised=3, n_resends=2)
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(args: list[str], cwd: str) -> tuple[int, list[str]]:
    """Run ``perfbench/run.py`` of ``cwd``; (exit code, stdout lines)."""
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def main() -> int:
    sys.path.insert(0, HERE)
    failures: list[str] = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    scratch = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(scratch)
    try:
        bare = os.path.join(scratch, "bare")
        if corpus_digest(7, scratch) != corpus_digest(7, scratch):
            failures.append("seed 7 gave different inputs on two generations")
        if corpus_digest(7, scratch) == corpus_digest(8, scratch):
            failures.append("seeds 7 and 8 gave the same inputs")
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"], bare)
        if code == 0 or any(line.startswith("{") for line in lines):
            failures.append(f"benchmark-only directory: exit {code}, output {lines[-1:]}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    listed = [w["name"] for w in spec["workloads"]]
    for workload in listed + ["bulk_load"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            if workload not in listed and trace:
                continue
            code, lines = run(["--workload", workload, "--seed", "3", "--seconds", "1",
                               "--trace", str(trace), "--tiny"], ROOT)
            label = f"{workload} --trace {trace}"
            before = len(failures)
            if code != 0 or not lines:
                failures.append(f"{label}: exit {code}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{label}: checks failed: {[x for x in lines if 'CHECK' in x]}")
            if workload in listed:
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want:
                    failures.append(f"{label}: metrics {sorted(got.items())} != {sorted(want.items())}")
                for name, unit in want.items():
                    if not any(line.startswith(f"{name} = ") and line.endswith(f" {unit}") for line in lines):
                        failures.append(f"{label}: no printed line for {name}")
            print(f"{label}: {'ok' if len(failures) == before else 'FAILED'}")

    for f in failures:
        print(f"FAIL: {f}")
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
