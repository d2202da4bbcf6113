"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one workload at local[nproc] from the repository root and prints,
as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  The line before
it is the run's environment record, which is also appended with the
result to ``.perfbench/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


class Run:
    """What a workload needs from the harness for one run."""

    def __init__(self, seed: int, run_dir, tally, rec):
        self.seed, self.dir, self.tally, self.rec = seed, run_dir, tally, rec
        self.spark = None


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import pipelinedb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    from perfbench import eventlog, harness, metrics, tracing
    from perfbench.workloads import WORKLOADS

    cores = harness.nproc()
    asked = os.environ.get("SPARK_GRAFT_CPUS")
    if asked not in (None, str(cores)):
        print(f"perfbench: SPARK_GRAFT_CPUS={asked} ignored; "
              f"running at local[{cores}]", file=sys.stderr)
    run_dir = harness.RunDir()
    tally = harness.Tally()
    rec = tracing.Recorder() if args.trace else None
    uninstall = tracing.install(rec) if rec else (lambda: None)
    run = Run(args.seed, run_dir, tally, rec)
    extra: dict = {}
    cpu0 = harness.cpu_times()
    try:
        run.spark = harness.start_spark(run_dir, cores, eventlog=bool(rec),
                                        app=f"perfbench-{args.workload}")
        env = harness.environment(run.spark, cores)
        log(f"spark started at local[{cores}]")
        wl = WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        log("set up")
        m = wl.measure(args.seconds, setup_s)
        log("measured")
        wl.verify()
        log("verified")
        mem = harness.memory_mb(run.spark)
        if rec:
            extra = traced_extras(wl, rec)
            extra["spark.driver_heap_live_mb"] = mem["heap_live"]
            if hasattr(wl, "single_thread_speedup"):
                extra["engine.parallel_speedup"] = \
                    wl.single_thread_speedup(m)
        wl.close()
    except BaseException:
        if run.spark is not None:
            harness.stop_spark(run.spark)
        uninstall()
        run_dir.close()
        raise
    harness.stop_spark(run.spark)
    uninstall()
    log("stopped")

    if rec:
        jobs = eventlog.parse_dir(os.path.join(run_dir.path, "eventlog"))
        values = metrics.per_layer(m, rec, jobs, extra)
        declared = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(m, tally.attempted, tally.failed, mem)
        declared = metrics.END_TO_END
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit, _better in declared},
    }
    env["steal_pct"] = harness.steal_pct(cpu0, harness.cpu_times())
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": env,
              "wall": metrics.wall(m), "preload": m.extra.get("preload"),
              "samples": metrics.sample_counts(m), "memory_mb": mem,
              "problems": tally.problems}
    run_dir.append_result({**record, **result})
    run_dir.close()
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


def traced_extras(wl, rec) -> dict:
    """Per-layer values read once per traced run, outside every timed
    region."""
    from perfbench import tracing
    out = {}
    ctx = getattr(wl, "ctx", None)
    if ctx is not None:
        out.update(tracing.matrel_live(rec, ctx.views["up"].matrel))
    if hasattr(wl, "candidate_pairs") and wl.last is not None:
        verified = wl.last[0].count()
        out["operators.lsh_precision"] = \
            verified / max(1, wl.candidate_pairs())
    return out


if __name__ == "__main__":
    sys.exit(main())
