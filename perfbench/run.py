"""Benchmark of record: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload ingest_api|serve_reads|analytics_batch \\
        --seed N --seconds S --trace 0|1

Set-up (session boot, warehouse bootstrap or preload, the ingest warm-up
rounds and the analytics Spark pass of the oracle check) is timed as
``setup_s``; the benchmark's own work (input generation, DuckDB oracle
queries, read warm-up traffic) runs outside it. The clients then run for
``--seconds``. With ``--trace 1`` the run measures half a
window untraced, a full window with the outside-in tracer on, and another
half window untraced, and reports the per-layer metrics of
``BENCHMARK.json``; traced minus untraced ``primary_p50_s`` is the tracing
overhead, and the spans with their self times are written to
``.perfbench_work/traces/``.

Names and units of the reported metrics come from ``BENCHMARK.json``. The
last line of standard output is the result object; a human-readable report
goes to standard error. The exit code is 1 when any output check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from interpreter start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.trace import EVENT_LOG_METRICS, Tracer, read_event_log  # noqa: E402

WORKLOADS = ("ingest_api", "serve_reads", "analytics_batch")


def load_spec() -> dict:
    with open(os.path.join(common.REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def make_workload(name: str, spark, work: str, seed: int):
    if name == "ingest_api":
        from perfbench.ingest_api import IngestWorkload

        return IngestWorkload(spark, work, seed)
    if name == "serve_reads":
        from perfbench.serve_reads import ReadsWorkload

        return ReadsWorkload(spark, work, seed)
    from perfbench.analytics_batch import AnalyticsWorkload

    return AnalyticsWorkload(spark, work, seed)


def run(workload: str, seed: int, seconds: float, trace: bool, *,
        factory=make_workload, t_start: float | None = None) -> tuple[dict, common.Outcome]:
    """One benchmark run; returns (metric values by name, checks outcome)."""
    from perfbench.ingest_api import encryption_key

    t_start = T_START if t_start is None else t_start
    common.import_engine()
    work = common.work_dir(workload)
    os.environ["PHI_ENCRYPTION_KEY"] = encryption_key(seed)
    out = common.Outcome()
    tracer = Tracer()
    spark = common.start_spark(work, event_log=trace)
    wl = None
    try:
        t_boot = time.perf_counter()
        wl = factory(workload, spark, work, seed)
        t_built = time.perf_counter()
        wl.warm_up(out)
        t_warm = time.perf_counter()
        # work of the benchmark itself (input generation, oracle queries,
        # fixed-size warm-up traffic) is not set-up time of the program
        setup_s = t_warm - t_start - wl.untimed_s
        print(f"   set-up: boot {t_boot - t_start:.1f} s, build "
              f"{t_built - t_boot:.1f} s, warm-up {t_warm - t_built:.1f} s, "
              f"untimed {wl.untimed_s:.1f} s", file=sys.stderr)
        if trace:
            # untraced halves around the traced window: their pooled median
            # cancels the drift of a still-warming session to first order
            before = wl.measure(seconds / 2, out, tracer)
            wl.instrument(tracer)
            tracer.enabled = True
            traced = wl.measure(seconds, out, tracer)
            tracer.enabled = False
            tracer.restore()
            plain = before + wl.measure(seconds / 2, out, tracer)
        else:
            plain = wl.measure(seconds, out, tracer)
        values = {"setup_s": setup_s, **plain.stats()}
        wl.final_check(out)
        values["peak_rss_mb"] = common.peak_rss_mb()
        if trace:
            values["jvm.live_heap_mb"] = common.jvm_live_heap_mb(spark)
            values.update(layer_values(wl, tracer, plain, traced, work, out))
            traces = os.path.join(common.REPO, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{workload}-seed{seed}.json"))
            values["_self_times"] = tracer.self_times()
        values["_samples"] = {"primary": len(plain.primary),
                              "secondary": len(plain.secondary)}
        return values, out
    finally:
        tracer.restore()
        if wl is not None:
            wl.close()
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_values(wl, tracer: Tracer, plain: common.Window, traced: common.Window,
                 work: str, out: common.Outcome) -> dict:
    """Per-layer figures of the traced window plus run-wide ones."""
    groups = {
        s.request for s in tracer.spans if s.parent is None and s.request
    }
    # analytics tags jobs per query below its pass span
    groups |= {f"{s.request}-{q}" for s in tracer.of("queries.pass")
               for q in getattr(wl, "specs", ())}
    totals, per_group = read_event_log(os.path.join(work, "events"), groups)
    # per operation: a batch, a read request, or an analytics pass
    ops = max(1, len(traced.primary) + len(traced.secondary))
    if tracer.of("queries.pass"):
        ops = max(1, len(traced.primary))
    values = {name: totals[name] / ops for name in EVENT_LOG_METRICS}
    values.update(wl.layer_metrics(tracer, traced, per_group))
    untraced = plain.stats()
    traced_p50 = traced.stats()["primary_p50_s"]
    overhead = traced_p50 - untraced["primary_p50_s"]
    values.update(
        {
            "error_rate": out.failed / max(1, out.attempted),
            "primary_p90_s": untraced["primary_p90_s"],
            "secondary_p90_s": untraced["secondary_p90_s"],
            "samples.primary": len(plain.primary),
            "samples.secondary": len(plain.secondary),
            "trace.primary_p50_s": traced_p50,
            "trace.overhead_primary_p50_s": overhead,
            "trace.overhead_share": overhead / untraced["primary_p50_s"],
            "trace.spans": len(tracer.spans),
        }
    )
    return values


def result_object(values: dict, out: common.Outcome, spec: dict, trace: bool) -> dict:
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], math.nan))
        if not math.isfinite(v):
            if not trace:
                raise ValueError(f"run measured no value for {m['name']}")
            v = 0.0  # a layer this workload does not run
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def report(workload: str, result: dict, values: dict, out: common.Outcome) -> None:
    """Readable report on standard error: checks, metrics with their sample
    counts and, for a traced run, span self times."""
    samples = values["_samples"]
    print(f"== {workload}: error_rate {out.error_rate:.4f} "
          f"({out.failed} failed / {out.attempted} attempted)", file=sys.stderr)
    for p in out.problems:
        print(f"   FAILED {p}", file=sys.stderr)
    for name, m in result["metrics"].items():
        n = ""
        if name.startswith(("primary", "secondary")):
            n = f"  (n={samples.get(name.split('_')[0], '?')})"
        print(f"   {name:44s} {m['value']:.6g} {m['unit']}{n}", file=sys.stderr)
    if any(name.startswith("trace.") for name in result["metrics"]):
        print("   span self time (traced window):", file=sys.stderr)
        for name, t in sorted(values["_self_times"].items(),
                              key=lambda kv: -kv[1]["self_s"]):
            print(f"   {name:44s} n={t['count']:<5d} total {t['total_s']:8.3f} s"
                  f"  self {t['self_s']:8.3f} s", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    values, out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = result_object(values, out, spec, bool(args.trace))
    report(args.workload, result, values, out)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
