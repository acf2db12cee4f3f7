"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload keyed_reads --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run sets up (JVM start, seeded input
generation, fixture load -- repeated, and the median reported as
``setup_s``), runs one untimed warm-up cycle, then measures a fixed number
of cycles, about ``--seconds`` of work at the workload's nominal pace,
checks every result against a model of the inputs, and deletes its work
directory. ``--trace 1`` prints the
per-layer metrics instead of the end-to-end ones and writes every span
to ``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))), os.getcwd()]

from perfbench.harness import ENGINE  # noqa: E402

SETUPS = 2  # fixture builds per run; setup_s reports their median


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if importlib.util.find_spec(ENGINE) is None:
        print(f"engine package {ENGINE} not found under {root}", file=sys.stderr)
        return 2
    from perfbench import harness as H

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    spark = None
    try:
        t0 = time.perf_counter()
        H.prepare_env(root, work)
        from perfbench.trace import end_to_end, per_layer, write_trace
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        cls = WORKLOADS[args.workload]
        spark = H.start_session(work)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        builds = []
        for i in range(SETUPS):
            t = time.perf_counter()
            w = cls(spark, os.path.join(work, f"setup{i}"), args.seed)
            w.generate()
            w.load()
            builds.append(time.perf_counter() - t)
            if i < SETUPS - 1:
                spark.catalog.clearCache()
                shutil.rmtree(w.work)
        # one untimed cycle lets code generation and caches settle
        t = time.perf_counter()
        w.start_measuring(H.Recorder(spark, trace=False), False)
        w.cycle(1)
        warmup_s = time.perf_counter() - t
        rec = H.Recorder(spark, trace=bool(args.trace))
        w.start_measuring(rec, rec.trace)
        # the same number of cycles on every run, whatever the host's speed
        # today: about --seconds of work at the workload's nominal pace
        cycles = min(w.max_cycles - 1, max(w.fixed_cycles, round(args.seconds / w.cycle_s)))
        sample, start = None, time.perf_counter()
        for c in range(2, 2 + cycles):
            try:
                w.cycle(c)
            except Exception:
                traceback.print_exc()
            if c - 1 == w.fixed_cycles:
                sample = w.space_sample()
        measure_s = time.perf_counter() - start
        rss = H.peak_rss_mb()
        t = time.perf_counter()
        w.check()
        check_s = time.perf_counter() - t
        run = {
            "workload": args.workload,
            "seed": args.seed,
            "cycles": cycles,
            "session_s": session_s,
            "setup_builds_s": builds,
            "setup_s": session_s + H.median(builds),
            "warmup_s": warmup_s,
            "measure_s": measure_s,
            "check_s": check_s,
            "peak_rss_mb": rss,
            "calls_per_s": rec.calls / rec.busy,
            **sample,
        }
        if rec.trace:
            metrics = per_layer(spark, rec, w, run, root)
            write_trace(os.path.join(root, ".perfbench", "traces"), rec, w, run, metrics)
        else:
            run["spark_jobs"], run["spark_tasks"] = rec.work(root)
            metrics = end_to_end(rec, w, run)
        failed = rec.failed + w.mismatches
        attempted = rec.calls
        print(json.dumps(run), file=sys.stderr)
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
