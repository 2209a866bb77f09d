"""perfbench — end-to-end and per-layer benchmark of aresdb_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is the separate traced run that reports the per-layer
metrics. ``--size tiny`` shrinks every input (used by ``smoke.py``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is
non-zero when any answer was wrong or the engine could not be imported.
See README.md next to this file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3


class Timer:
    """Times one operation; in a traced run it is also the operation's
    root span and Spark job group."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.elapsed = 0.0
        self._op = None

    def __enter__(self):
        if self.tracer is not None:
            self._op = self.tracer.op()
            self._op.__enter__()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self._t0
        if self._op is not None:
            self._op.__exit__(*exc)
            self._op = None
        return False


# workload name -> (module, class). A workload class is built from
# (seed, size, work dir), generating its inputs and reference answers,
# and provides: ``setup(spark, tracer)`` (timed into setup_s) and
# ``reset()`` between set-ups; ``op(spark, timer)`` -> (items, correct,
# latency or None for the timer's); ``warmup_ops``, ``min_ops`` and
# ``period_ops`` (the loop ends on a multiple of it); ``final_checks``,
# ``details`` (workload-only figures) and ``layer_values()`` (its own
# per-layer metrics); ``last_error``, ``input_sizes`` and
# ``input_fingerprint``.
WORKLOADS = {
    "dashboard": ("perfbench.dashboard", "Dashboard"),
    "ingest": ("perfbench.ingest", "Ingest"),
    "corpus": ("perfbench.corpus", "Corpus"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import aresdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import importlib

    from perfbench import harness
    module, cls = WORKLOADS[args.workload]
    wl_cls = getattr(importlib.import_module(module), cls)

    work = harness.WorkDir(os.getcwd(), args.workload)
    session = harness.Session(work)
    try:
        return run(args, wl_cls, work, session)
    finally:
        session.close()
        work.close()


def run(args, wl_cls, work, session) -> int:
    from perfbench import harness
    from perfbench.trace import Tracer, instrument

    t_gen = time.perf_counter()
    wl = wl_cls(args.seed, args.size, work)      # inputs + reference answers
    gen_s = time.perf_counter() - t_gen

    # set-up, several times: session (re)start + store/catalog init
    setup_times = []
    tracer = None
    for rep in range(SETUP_REPS):
        if rep:
            session.stop()
            wl.reset()
        t0 = time.perf_counter()
        spark = session.start()
        if args.trace and rep == SETUP_REPS - 1:
            tracer = Tracer(spark)
        wl.setup(spark, tracer)
        setup_times.append(time.perf_counter() - t0)

    canary = harness.host_canary_ms(spark)
    attempted = failed = 0
    failures: list[str] = []

    def one(traced: bool):
        nonlocal attempted, failed
        timer = Timer(tracer if traced else None)
        latency, error = None, ""
        try:
            items, ok, latency = wl.op(spark, timer)
            if not ok:
                error = f"wrong answer: {wl.last_error}"
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            items, ok = 0, False
            error = f"{type(e).__name__}: {e}"
        attempted += 1
        if not ok:
            failed += 1
            if len(failures) < 5:
                failures.append(f"op {attempted}: {error}")
        return (timer.elapsed if latency is None else latency), items, ok

    ctx = instrument(tracer) if tracer is not None else contextlib.nullcontext()
    lat, lat_traced, items = [], [], 0
    with ctx:
        for _ in range(wl.warmup_ops):
            one(False)
        # a traced run alternates traced and untraced operations over at
        # least two periods; with an even period the phase flips every
        # period, so each position in a period (such as the scheduler's
        # maintenance cycles) is traced once
        min_ops = max(wl.min_ops, 2 * wl.period_ops if tracer else 0)
        t_start = time.perf_counter()
        i = 0
        # measure for at least --seconds and at least min_ops operations,
        # ending on a period boundary (a whole request rotation or
        # scheduler period), so every run measures the same mix
        while time.perf_counter() - t_start < args.seconds or \
                i < min_ops or i % wl.period_ops:
            flip = i // wl.period_ops if wl.period_ops % 2 == 0 else 0
            traced = tracer is not None and (i + flip) % 2 == 1
            dt, n, _ok = one(traced)
            (lat_traced if traced else lat).append(dt)
            items += n
            i += 1
        elapsed = time.perf_counter() - t_start
        t_check = time.perf_counter()
        for msg in wl.final_checks(spark):
            failures.append(msg)
            failed += 1
            attempted += 1
        check_s = time.perf_counter() - t_check
    session.sample_jvm_peak()

    details = wl.details()
    print(f"workload={wl.name} seed={args.seed} size={args.size} "
          f"trace={args.trace} input_gen_s={gen_s:.2f} "
          f"setup_s_each={[round(s, 3) for s in setup_times]} "
          f"ops={len(lat) + len(lat_traced)} measured_s={elapsed:.2f} "
          f"final_checks_s={check_s:.2f} host.canary_ms={canary:.1f}")
    print(f"  op latencies ms: {[round(x * 1e3) for x in lat]}")
    for k, (v, unit) in details.items():
        print(f"  {k} = {v:.6g} {unit}")
    for msg in failures:
        print(f"  FAILURE: {msg}")

    if not args.trace:
        metrics = {
            "setup_s": (harness.median(setup_times), "s"),
            "latency_p50_ms": (harness.percentile(lat, 50) * 1e3, "ms"),
            "latency_p75_ms": (harness.percentile(lat, 75) * 1e3, "ms"),
            "items_per_s": (items / elapsed, "items/s"),
        }
    else:
        from perfbench.layers import per_layer_metrics
        # the spans of the traced operation with the median wall time
        mid = sorted(tracer.ops, key=lambda o: o.dur)[len(tracer.ops) // 2]
        print(f"  spans of traced op {mid.op_id} (ms):")
        for line in tracer.tree(mid):
            print(f"    {line}")
        metrics = per_layer_metrics(
            tracer, wl, canary=canary, lat=lat, lat_traced=lat_traced,
            driver_peak_kb=harness.vm_hwm_kb("/proc/self/status"),
            jvm_peak_kb=session.jvm_peak_kb)
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(harness.result_line(failed == 0, attempted, failed, metrics))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
