"""Smoke test of the benchmark itself, at tiny input size.

Checks, for every workload ``run.py`` knows:
  - two seeds give inputs of the same sizes but different content;
  - a tiny timed run and a tiny traced run both finish with exit code 0,
    pass their answer checks, and print every metric named in
    BENCHMARK.json (end-to-end metrics untraced, per-layer metrics
    traced) with the unit given there;
  - in the traced run, the layer self times add up to the operations'
    wall time;
and that ``run.py`` fails, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's own files.

Usage, from the root of a checkout (about five minutes on four cores):

    python3 perfbench/smoke.py [--seed 7]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def check_inputs(seed: int) -> list[str]:
    import importlib

    from perfbench import harness
    from perfbench.run import WORKLOADS

    errors = []
    work = harness.WorkDir(ROOT, "smoke-inputs")
    try:
        for name, (module, cls) in WORKLOADS.items():
            wl_cls = getattr(importlib.import_module(module), cls)
            a = wl_cls(seed, "tiny", harness.WorkDir(work.path, f"{name}-a"))
            b = wl_cls(seed + 1, "tiny", harness.WorkDir(work.path, f"{name}-b"))
            if a.input_sizes != b.input_sizes:
                errors.append(f"{name}: input sizes differ between seeds "
                              f"{a.input_sizes} vs {b.input_sizes}")
            if a.input_fingerprint == b.input_fingerprint:
                errors.append(f"{name}: seeds {seed} and {seed + 1} gave "
                              "the same inputs")
    finally:
        work.close()
    return errors


def run_bench(cwd: str, workload: str, seed: int, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S)


def check_run(workload: str, seed: int, trace: int, spec: dict) -> list[str]:
    p = run_bench(ROOT, workload, seed, trace)
    tag = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{tag}: exit {p.returncode}\n{p.stdout[-2000:]}"
                f"\n{p.stderr[-2000:]}"]
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        return [f"{tag}: last line is not JSON: {lines[-1][:200]}"]
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or \
            res.get("attempted", 0) < 1:
        errors.append(f"{tag}: correct={res.get('correct')} "
                      f"attempted={res.get('attempted')} "
                      f"failed={res.get('failed')}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        errors.append(f"{tag}: metrics differ from BENCHMARK.json: missing "
                      f"{sorted(set(want) - set(got))}, extra "
                      f"{sorted(set(got) - set(want))}, units "
                      f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    if trace and not errors:
        # self times account for the operations' wall time
        from perfbench.layers import SPAN_METRICS
        m = res["metrics"]
        total = sum(m[k]["value"] for k in SPAN_METRICS.values())
        wall = m["trace.op_wall_ms"]["value"]
        if abs(total - wall) > 0.01 * wall:
            errors.append(f"{tag}: layer self times sum to {total:.1f} ms, "
                          f"operations took {wall:.1f} ms")
    return errors


def check_bare_dir(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail fast."""
    bare = os.path.join(ROOT, ".perfbench_work", f"smoke-bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        wl = spec["workloads"][0]["name"]
        p = run_bench(bare, wl, 1, 0)
        out = p.stdout.strip().splitlines()
        if p.returncode == 0 or (out and out[-1].startswith("{")):
            return [f"bare directory: exit {p.returncode}, "
                    f"last line {out[-1:] if out else None}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.run import WORKLOADS

    checks = [("inputs", lambda: check_inputs(args.seed)),
              ("bare directory", lambda: check_bare_dir(spec))]
    for wl in WORKLOADS:
        for trace in (0, 1):
            checks.append((f"{wl} trace={trace}",
                           lambda wl=wl, t=trace: check_run(wl, args.seed, t,
                                                            spec)))
    failed = 0
    for name, fn in checks:
        errors = fn()
        print(f"{'FAIL' if errors else 'ok  '} {name}", flush=True)
        for e in errors:
            print(f"     {e}")
        failed += bool(errors)
    print(f"{len(checks) - failed}/{len(checks)} checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
