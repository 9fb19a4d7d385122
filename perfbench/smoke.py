#!/usr/bin/env python3
"""Self-check of the benchmark on the small inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced at
`--scale smoke` (inputs from the sf 0.001 fixture) and asserts that

  * the result line has exactly `correct`, `attempted`, `failed` and
    `metrics`, every correctness check passed and nothing failed;
  * every end-to-end metric (untraced) and every per-layer metric
    (traced) is present with its unit, and each end-to-end value and
    each per-layer value of a layer the workload runs (layers.json) is
    a number above 0;
  * run.py exits non-zero without a result line in a directory that
    holds only BENCHMARK.json and perfbench/.

Exits 0 when all hold, 1 otherwise.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
from run import layer_workloads  # noqa: E402

failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layers = json.load(open(os.path.join(HERE, "layers.json")))

    for w in (x["name"] for x in bench["workloads"]):
        for trace in ("0", "1"):
            p = run(ROOT, "--workload", w, "--seed", "1", "--seconds", "1",
                    "--trace", trace, "--scale", "smoke")
            tag = f"{w} trace={trace}"
            expect(p.returncode == 0, f"{tag}: exit 0")
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            expect(sorted(r) == ["attempted", "correct", "failed", "metrics"],
                   f"{tag}: result keys")
            expect(r["correct"] is True and r["failed"] == 0
                   and r["attempted"] >= 1,
                   f"{tag}: all {r['attempted']} operations and checks pass")
            names = bench["end_to_end"] if trace == "0" else bench["per_layer"]
            for m in names:
                got = r["metrics"].get(m["name"])
                own = trace == "0" or w in layer_workloads(layers, m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float))
                       and (got["value"] > 0 or not own),
                       f"{tag}: {m['name']} = "
                       f"{got['value'] if got else None} {m['unit']}")

    # without the library sources the benchmark must refuse to run
    bare = os.path.join(HERE, "out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    def outputs(d, names):  # what building and running leave behind
        return [n for n in names if n in ("out", "target") or
                (n == "project" and os.path.basename(d) == "project")]
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=outputs)
    p = run(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0")
    expect(p.returncode != 0 and "correct" not in p.stdout,
           "bare directory: non-zero exit and no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed" if failures else "all checks pass")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
