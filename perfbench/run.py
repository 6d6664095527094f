"""Benchmark entry point.

    python3 perfbench/run.py --workload pcm_tel --seed 1 --seconds 8 --trace 0

Runs one workload as a closed loop with one client on ``local[4]`` for
``--seconds`` seconds after an untimed warm-up, checks every op's output
against the oracle and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the
traced pass instead and reports the per-layer metrics. Lines before the
JSON give every metric by name, value and unit (timings as the median and
the highest percentile with ten samples beyond it, with the sample count),
plus host calibration. Exits non-zero, printing no result, when the
library is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

# Row counts and layout per workload, sized so that 48 runs with their
# set-up fit in 3420 s on a 4-core host (see README.md); --tiny shrinks
# them for the smoke test.
SIZES = {
    "pcm_tel": {"n_rows": 2_000, "n_parts": 4, "group_size": 2},
    "rules_dense": {"n_rows": 40_000, "n_parts": 8},
}
TINY = {
    "pcm_tel": {"n_rows": 600, "n_parts": 4, "group_size": 2},
    "rules_dense": {"n_rows": 2_000, "n_parts": 4},
}
# the metrics of the result line, in BENCHMARK.json's end_to_end order
END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def _line(name: str, value: float, unit: str, extra: str = "") -> None:
    print(f"metric {name} {value:.6g} {unit}{extra}")


def _summary(name: str, values: list[float], unit: str) -> float:
    med = common.median(values)
    t = common.tail(values)
    _line(name, med, unit, f" median n={len(values)}" + (f" {t[0]}={t[1]:.6g}" if t else ""))
    return med


def timed(args, work: str) -> dict:
    from perfbench.workloads import WORKLOADS, WrongOutput

    sizes = (TINY if args.tiny else SIZES)[args.workload]
    t0 = time.monotonic()
    spark = common.start_spark(work, f"perfbench-{args.workload}")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, **sizes)
        wl.setup()
        wl.warmup()
        setup_s = time.monotonic() - t0
        samples: dict[str, list[float]] = {}
        attempted = failed = 0
        with common.PeakRss() as rss:
            deadline = time.monotonic() + args.seconds
            while attempted == 0 or time.monotonic() < deadline:
                attempted += 1
                rss.reset()
                wl.clock.reset()
                try:
                    wl.op()
                except WrongOutput as exc:
                    failed += 1
                    print(f"wrong output: {exc}", file=sys.stderr)
                    continue
                for k, v in wl.clock.walls.items():
                    samples.setdefault(k, []).append(v)
                samples.setdefault("cpu_s", []).append(wl.clock.cpu_s)
                samples.setdefault("peak_rss_mb", []).append(rss.peak)
        for fn in wl.follow_ups:
            attempted += 1
            wl.clock.reset()
            try:
                fn()
            except WrongOutput as exc:
                failed += 1
                print(f"wrong output: {exc}", file=sys.stderr)
                continue
            for k, v in wl.clock.walls.items():
                samples.setdefault(k, []).append(v)
        group_commit_s = getattr(wl, "group_commit_s", [])
    finally:
        common.stop_spark(spark)

    if "run_s" not in samples:
        raise RuntimeError(f"every validation run of {attempted} ops failed")
    samples["clips_per_s"] = [wl.n_rows / v for v in samples["run_s"]]
    if group_commit_s:
        samples["group_commit_s"] = group_commit_s
    units = {**END_TO_END, "run_s": "s", "clips_per_s": "clips/s", "resume_noop_s": "s",
             "revalidate_s": "s", "group_commit_s": "s"}
    _line("setup_s", setup_s, "s")
    metrics = {"setup_s": setup_s}
    for k in sorted(samples):
        metrics[k] = _summary(k, samples[k], units[k])
    _line("error_rate", failed / attempted, "ratio")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: (metrics[k], u) for k, u in END_TO_END.items()}}


def traced(args, work: str) -> dict:
    """One session with the event log on: set-up, warm-up and an untraced
    run (the overhead baseline), then each layer under its own span, the
    PCM kernel, the traced run and, on rules_dense, the registry pass."""
    from perfbench import trace
    from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS, Registry, WrongOutput

    sizes = (TINY if args.tiny else SIZES)[args.workload]
    attempted = failed = 0

    def checked(fn) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            fn()
        except WrongOutput as exc:
            failed += 1
            print(f"wrong output: {exc}", file=sys.stderr)

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = common.start_spark(work, f"perfbench-{args.workload}-traced", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, **sizes)
        wl.setup()
        wl.warmup()
        wl.clock.reset()
        checked(wl.op)
        untraced_s = wl.clock.walls["run_s"]

        tracer = trace.Tracer(spark)
        trace.trace_validation_layers(tracer, wl.inp, work, wl.layers, wl.n_parts,
                                      getattr(wl, "group_size", wl.n_parts))
        kernel = trace.pcm_kernel(wl.inp if "audio" in wl.layers else None)
        wl.clock.reset()
        with tracer.span("run"):
            checked(wl.op)
        run_s = wl.clock.walls["run_s"]  # the run's timed part, no checks
        # the registry layer has no timed workload; its pass rides on the
        # traced run with the most room under the 180 s limit
        if args.workload == "rules_dense":
            checked(lambda: Registry(spark).run(tracer.span))
    finally:
        common.stop_spark(spark)

    groups = trace.reduce_event_log(log_dir)
    tracer.write(os.path.join(work, "spans.jsonl"))
    metrics = trace.layer_metrics(tracer, groups, trace.VALIDATION_LAYERS)
    metrics.update(kernel)
    metrics.update({f"registry.{q}_s": tracer.wall(f"registry.{q}") for q in REGISTRY_QUERIES})
    metrics["trace.layer_sum_s"] = sum(tracer.wall(n) for n in wl.layers)
    metrics["trace.run_s"] = run_s
    metrics["trace.overhead_pct"] = 100.0 * (run_s - untraced_s) / untraced_s
    units = {k: trace.unit_of(k) for k in metrics}
    for k, v in metrics.items():
        _line(k, v, units[k])
    _line("untraced_run_s", untraced_s, "s")
    _line("error_rate", failed / attempted, "ratio")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: (v, units[k]) for k, v in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("pcm_tel", "rules_dense"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny row counts (smoke test), not for measurement")
    args = p.parse_args(argv)
    try:
        work = common.prepare_environment(args.workload)
    except common.LibraryMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    calib = common.host_calibration()
    print("host_calibration " + json.dumps(calib))
    result = traced(args, work) if args.trace else timed(args, work)
    result["metrics"] = {k: {"value": float(v), "unit": u}
                         for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # report, and exit non-zero without a result line
        traceback.print_exc()
        code = 1
    finally:
        common.reap_descendants()
    sys.exit(code)
