#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

Run from the root of a checkout:
    python3 perfbench/selftest.py

It checks that
  - every workload prints, as its last line, exactly the keys `correct`,
    `attempted`, `failed` and `metrics`, with every end-to-end metric of
    BENCHMARK.json (untraced) or every per-layer metric (traced), each with
    its unit, and with correct outputs;
  - a planted off-by-one in a reference count is reported as a failure;
  - the benchmark exits non-zero without a result line in a directory that
    holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, *extra):
    cmd = SPEC["command"] + ["--seed", "7", "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(*extra):
    rc, lines, err = run(ROOT, "--scale", "tiny", *extra)
    assert rc == 0 and lines, f"{extra}: exit {rc}\n{err[-3000:]}"
    return json.loads(lines[-1])


def check_shape(r, expected, what):
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {set(r)}"
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, what
    assert isinstance(r["failed"], int), what
    names = {m["name"]: m["unit"] for m in expected}
    assert set(r["metrics"]) == set(names), \
        f"{what}: missing {set(names) - set(r['metrics'])}, extra {set(r['metrics']) - set(names)}"
    for k, v in r["metrics"].items():
        assert set(v) == {"value", "unit"} and v["unit"] == names[k], f"{what}: {k} {v}"
        assert isinstance(v["value"], (int, float)), f"{what}: {k} {v}"


def main():
    for w in SPEC["workloads"]:
        for trace, expected in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
            what = f"{w['name']} trace={trace}"
            r = result("--workload", w["name"], "--trace", trace)
            check_shape(r, expected, what)
            assert r["correct"] and r["failed"] == 0, f"{what}: {r['failed']} failed"
            print(f"ok   {what}: {r['attempted']} checked", flush=True)

        what = f"{w['name']} planted off-by-one"
        r = result("--workload", w["name"], "--trace", "0", "--plant-off-by-one")
        check_shape(r, SPEC["end_to_end"], what)
        assert not r["correct"] and r["failed"] >= 1, f"{what}: not reported"
        print(f"ok   {what}: {r['failed']} of {r['attempted']} reported failed", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
    rc, lines, _ = run(bare, "--workload", SPEC["workloads"][0]["name"], "--trace", "0")
    shutil.rmtree(bare)
    assert rc != 0 and not any(l.startswith("{") for l in lines), f"bare directory: exit {rc}"
    print("ok   bare directory exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
