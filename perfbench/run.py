"""Repository benchmark: chunk-dedup, near-dup documents and incremental
epochs, measured end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (input generation is never timed). One process runs
the workload on ``local[nproc]`` through ``session.get_spark`` as a
closed loop with one caller, checks every result against a driver-side
reference, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop untraced and then traced (event log plus one job group per
layer span) and reports the per-layer metrics. Host facts, samples,
spans and any check failures go to ``.perfbench_work/report_<workload>.json``
and to stderr. See ``perfbench/DESIGN.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# every end-to-end timing is a median of at least this many passes; more
# would not fit a measuring round into its time budget (perfbench/DESIGN.md)
MIN_PASSES = 4
TRACED_MIN_PASSES = 2  # per phase of a traced run

T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Loop:
    """Timed passes of one workload: wall, CPU and peak RSS per pass,
    and the failure counts."""

    def __init__(self):
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.rss: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.persisted_max = 0
        self.problems: list[str] = []

    def record(self, problems: list[str], spark) -> None:
        """Count one operation: it fails on check problems or on
        persisted RDDs left after the release that follows it."""
        from perfbench.sessions import release

        persisted = release(spark)
        self.persisted_max = max(self.persisted_max, persisted)
        if persisted:
            problems.append(f"{persisted} persisted RDDs left after release")
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            for p in problems:
                _log(f"FAILED: {p}")

    def run(self, spark, wl, tracer, seconds: float, min_passes: int, rss=None) -> None:
        """Passes until ``seconds`` have elapsed, at least ``min_passes``.
        ``rss`` (a ``host.RssSampler``) is only given in traced runs."""
        from perfbench.host import tree_cpu_s, tree_rss_mb

        deadline = time.perf_counter() + seconds
        i = 0
        while i < min_passes or time.perf_counter() < deadline:
            tracer.pass_idx = i
            if rss is not None:
                rss.peak_mb = 0.0
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                result = wl.run_pass(spark, tracer, i)
                self.walls.append(time.perf_counter() - t0)
                self.cpus.append(tree_cpu_s() - c0)
                if rss is not None:
                    self.rss.append(max(rss.peak_mb, tree_rss_mb()))
                problems = wl.check(result)
            except Exception:  # a failed pass is counted, and the loop goes on
                problems = [traceback.format_exc(limit=3)]
            self.record(problems, spark)
            i += 1

    def once(self, spark, work) -> float:
        """One call of ``work()``, which returns its check problems or
        None when it has none to count; returns its seconds."""
        t0 = time.perf_counter()
        try:
            problems = work()
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        took = time.perf_counter() - t0
        if problems is not None:
            self.record(problems, spark)
        return took


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdc_algorithms_spark", "api.py")):
        _log(f"no cdc_algorithms_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, sessions, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    cpus = sessions.configure(WORK)
    wl = WORKLOADS[args.workload](WORK, cpus)
    info = wl.generate(args.seed)
    _log(f"{wl.name} seed={args.seed} inputs {json.dumps(info)[:300]}")

    loop = Loop()
    finish_s = 0.0
    traced_loop = Loop()
    tracer = trace.Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, start_s, warm_s = sessions.start(cpus)
        wl.setup(spark, trace.Tracer())
        setup_s = time.perf_counter() - t0
        sessions.release(spark)
        confs = sessions.sql_confs(spark)
        wl.warmup(spark)
        sessions.release(spark)
        _log(f"set up in {setup_s:.2f}s, warm-up done")
        if not args.trace:
            loop.run(spark, wl, trace.Tracer(), args.seconds, MIN_PASSES)
            finish_s = loop.once(spark, lambda: wl.finish(spark, trace.Tracer()))
        else:
            with host.RssSampler() as rss:
                loop.run(spark, wl, trace.Tracer(), args.seconds / 2,
                         TRACED_MIN_PASSES, rss)
            log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            spark.stop()
            sessions.enable_event_log(log_dir)
            spark, _, _ = sessions.start(cpus)
            tracer = trace.Tracer(spark.sparkContext)
            wl.setup(spark, tracer)
            sessions.release(spark)
            traced_loop.run(spark, wl, tracer, args.seconds / 2, TRACED_MIN_PASSES)
            traced_loop.once(spark, lambda: wl.finish(spark, tracer))
            traced_loop.once(spark, lambda: wl.traced_extras(spark, tracer))
            sessions.release(spark)
            spark.stop()
            spark = None
            trace.attribute(tracer.spans, trace.read_event_log(log_dir))
    finally:
        if spark is not None:
            spark.stop()
        sessions.shutdown()

    attempted = loop.attempted + traced_loop.attempted
    failed = loop.failed + traced_loop.failed
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.facts(ROOT), "inputs": info,
        "native_loaded": sessions.native_loaded(), "spark_sql_confs": confs,
        "setup_s": [setup_s, start_s, warm_s], "pass_walls": loop.walls,
        "pass_cpu": loop.cpus, "pass_rss": loop.rss, "finish_s": finish_s,
        "problems": loop.problems + traced_loop.problems,
    }
    if not loop.walls:
        _log("no pass completed")
        print(json.dumps({"correct": False, "attempted": max(1, attempted),
                          "failed": max(1, failed), "metrics": {}}))
        return 1
    if args.trace:
        metrics = trace.layer_metrics(tracer.spans, list(wl.layers), cpus)
        full = {wl.full_pass} if isinstance(wl.full_pass, str) else set(wl.full_pass)
        per_pass: dict[int, float] = {}
        for sp in tracer.spans:
            if sp["name"] in full:
                per_pass[sp["pass"]] = per_pass.get(sp["pass"], 0.0) + sp["wall_s"]
        metrics["tracing_overhead_s"] = (
            statistics.median(per_pass.values()) - statistics.median(loop.walls)
            if per_pass else 0.0
        )
        metrics.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "chunkers.native_loaded": float(report["native_loaded"]),
            "cache.persisted_rdds": float(max(loop.persisted_max,
                                              traced_loop.persisted_max)),
            # reported without a bound: the sum moves with how many Python
            # workers happen to be alive, too much for a regression bound
            "process.peak_rss_mb": statistics.median(loop.rss),
        })
        metrics.update(wl.singles)
        report["spans"] = tracer.spans
        units = _units("per_layer")
    else:
        half = loop.walls[len(loop.walls) // 2:]
        metrics = {
            "setup_s": setup_s,
            "input_mb_per_s": wl.input_mb * len(loop.walls) / (sum(loop.walls) + finish_s),
            "cpu_s": statistics.median(loop.cpus),
            "epoch_p50_s": statistics.median(loop.walls),
            "epoch_late_p50_s": statistics.median(half),
        }
        units = _units("end_to_end")
    with open(os.path.join(WORK, f"report_{wl.name}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    missing = sorted(set(units) - set(metrics))
    for name in missing:  # a layer this workload never reaches did no work
        metrics[name] = 0.0
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    _log(f"passes={len(loop.walls)} failed={failed} setup_s={setup_s:.2f}")
    print(json.dumps(out), flush=True)
    return 0


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
