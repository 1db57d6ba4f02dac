"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One workload runs in this process: set-up (repeated, median reported)
and one warm-up, a closed-loop measured window, then the correctness checks outside the
window. Report lines go to stdout, then one JSON object as the last
line. With ``--trace 1`` two more windows follow, traced then
untraced, and the per-layer metrics plus the tracing overhead are
reported.
``--workload all`` runs every workload, untraced and traced, each in a
fresh process, and prints what they report.

Run from the root of a checkout; the program is imported from there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

from perfbench import eventlog, stats  # noqa: E402
from perfbench.harness import SCRATCH, Harness, log  # noqa: E402
from perfbench.layers import LAYER_UNITS  # noqa: E402
from perfbench.trace import Tracer, layer_self_ms  # noqa: E402
from perfbench.workloads import ALL, make, traced_targets  # noqa: E402

SETUP_REPS = 3


def end_to_end(wl, ops, setup_s: float) -> dict:
    """The metrics ``BENCHMARK.json`` declares for every workload, over
    the kinds of operation in the workload's stream (``wl.MIX``, their
    shares) and its closed-loop clients (``wl.CLIENTS``)."""
    mix = getattr(wl, "MIX", None)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.mix_p50(ops, mix), "ms"),
        "ops_per_s": (stats.mix_throughput(ops, getattr(wl, "CLIENTS", 1), mix), "1/s"),
    }


def window(wl, seconds: float, tracer=None):
    t0 = time.perf_counter()
    wall0 = time.time() * 1000.0
    ops = wl.run(t0 + seconds, tracer)
    end = max([o.end for o in ops], default=time.perf_counter())
    return ops, end - t0, (wall0, time.time() * 1000.0)


def run_one(name: str, seed: int, seconds: float, trace: bool) -> int:
    import etl_workflow_spark  # noqa: F401  (fail fast without the program)

    h = Harness(CHECKOUT, trace)
    try:
        wl = make(name, h, seed)
        # The set-up is repeated SETUP_REPS times (application start and
        # input generation; the last one's inputs are measured) and the
        # warm-up runs once, after the last: setup_s is the median set-up
        # plus the warm-up.
        setups, starts, inputs = [], [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            h.start_session()
            t1 = time.perf_counter()
            wl.setup(rep)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t1 - t0)
            inputs.append(t2 - t1)
            log(f"setup {rep}: start {t1 - t0:.2f}s inputs {t2 - t1:.2f}s")
        t0 = time.perf_counter()
        wl.warmup()
        warmup = time.perf_counter() - t0
        log(f"warm-up {warmup:.2f}s")

        ops, elapsed, _ = window(wl, seconds)
        e2e = end_to_end(wl, ops, stats.median(setups) + warmup)
        # printed, not declared: it spreads 0.2-0.5 between runs (JVM
        # heap growth), beyond any bound the benchmark may set
        named = {"peak_rss_mb": (h.peak_rss_mb(), "MB"), **wl.named(ops, elapsed)}
        all_ops = list(ops)
        if trace:
            # traced, then untraced: the overhead compares the two, both
            # after the measured window (whose first operations may be
            # the application's first, cold ones)
            tracer = Tracer()
            tracer.instrument("etl_workflow_spark", *traced_targets())
            try:
                t_ops, _, wall = window(wl, seconds, tracer)
            finally:
                tracer.restore()
            after, _, _ = window(wl, seconds)
            all_ops += t_ops + after

        failures = [f"{o.kind} failed: {o.error}" for o in all_ops if not o.ok]
        failures += wl.check()
        attempted = len(all_ops)
        failed = min(len(failures), attempted)
        named["ops_failed_frac"] = (failed / max(attempted, 1), "frac")

        if trace:
            # kept after the run (the rest of the scratch dir is removed)
            tracer.dump(os.path.join(CHECKOUT, SCRATCH, f"spans-{name}-{seed}.jsonl"))
            h.spark.stop()  # flushes the event log
            h.spark = None
            ev = eventlog.aggregate(
                eventlog.read_events(eventlog.latest_log(h.event_dir)), wall, h.cores)
            layer = layer_metrics(wl, t_ops, tracer, ev, starts[0], warmup,
                                  stats.median(inputs))
            mix = getattr(wl, "MIX", None)
            t_p50 = stats.mix_p50(t_ops, mix)
            layer["trace.overhead_frac"] = t_p50 / stats.mix_p50(after, mix) - 1.0
            named["traced_op_p50_ms"] = (t_p50, "ms")

        print(f"workload {name} seed {seed} seconds {seconds:g} trace {int(trace)} "
              f"ops {attempted} window_s {elapsed:.2f}")
        for k, (v, unit) in {**e2e, **named}.items():
            print(f"  {k} = {_fmt(v)} {unit}")
        for msg in failures[:20]:
            print(f"  FAILED {msg}")
        print(f"  check: {len(failures)} failure(s), "
              f"{'PASS' if not failures else 'FAIL'}")
        if trace:
            for k, v in sorted(layer.items()):
                print(f"  layer {k} = {_fmt(v)} {LAYER_UNITS[k]}")
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        h.close()


def layer_metrics(wl, ops, tracer, ev, start_s: float, warmup_s: float,
                  inputs_s: float) -> dict:
    """Every per-layer metric ``BENCHMARK.json`` declares, plus this
    workload's own; a layer the workload never calls reports 0."""
    out = dict.fromkeys(declared_layer_metrics(), 0)
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    out["setup.inputs_s"] = inputs_s
    out.update({k: v for k, v in ev.items() if k in LAYER_UNITS})
    n_ops = max(len(ops), 1)
    for lay, ms in layer_self_ms(tracer.spans).items():
        out[f"{lay}.self_ms"] = ms / n_ops
    out.update(wl.layer(ops, tracer, ev))
    return out


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return v if isinstance(v, str) else f"{v:.6g}"


def declared_layer_metrics() -> list[str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    status = 0
    for name in ALL:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.splitlines()
            print("\n".join(lines[:-1]), flush=True)
            status |= proc.returncode
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*ALL, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind so the JVM is stopped and the scratch dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
