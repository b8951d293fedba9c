"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark starts ``get_spark()``
as ``local[nproc / 2]``, generates its inputs from ``--seed``, sets up,
measures for ``--seconds`` and checks every output. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it reports
the same run under the metric names of ``perfbench/README.md``.
Spark's scratch files live in ``.perfbench_work/`` under the checkout
and are removed on exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s starts here, before pyspark is imported

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import this directory as the ``perfbench`` package only: as a plain path
# entry its ``trace.py`` would shadow the standard library's ``trace``
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
WORKLOADS = ("analytics_sf0.1", "rag_serve")
OP_STATS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_cpu_s", "s"), ("executor_run_s", "s"), ("driver_s", "s"),
    ("input_records", "count"), ("shuffle_write_bytes", "bytes"),
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _workload(name: str, ctx: Ctx):
    if name == "rag_serve":
        from perfbench.rag import Rag

        return Rag(ctx)
    from perfbench.analytics import Analytics

    return Analytics(ctx)


def _per_layer(wl, session_s: float, rss: dict, ops: dict) -> dict:
    """The per-layer metrics of BENCHMARK.json: set-up parts, memory high
    water per process kind, medians over the traced operations of each op,
    and each op's tracing overhead as its workload measured it."""
    from perfbench import harness

    out = {
        "session.start_s": _metric(session_s, "s"),
        "setup.inputs_s": _metric(wl.layers["setup.inputs_s"], "s"),
        "setup.warmup_s": _metric(wl.layers["setup.warmup_s"], "s"),
        "mem.jvm_mb": _metric(rss["jvm"], "MB"),
        "mem.python_mb": _metric(rss["driver"] + rss["workers"], "MB"),
    }
    for op, (totals, overhead) in ops.items():
        for key, unit in OP_STATS:
            out[f"{op}.{key}"] = _metric(harness.median(t[key] for t in totals), unit)
        out[f"{op}.trace_overhead_s"] = _metric(overhead, "s")
    return out


def run(args) -> dict:
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.set_posture(work)
    ticks = harness.cpu_ticks()
    spark = None
    try:
        t = time.perf_counter()
        spark = harness.start_session(work, traced=bool(args.trace))
        session_s = time.perf_counter() - t
        wl = _workload(args.workload, Ctx(spark, work, args.seed))
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            wl.setup(tracer)
            report, ops = wl.traced(args.seconds, tracer)
            report = {k: _metric(v, u) for k, (v, u) in report.items()}
            report["session.start_s"] = _metric(session_s, "s")
            report["trace.missing_stages"] = _metric(tracer.missing_stages, "count")
            metrics = _per_layer(wl, session_s, harness.peak_rss_mb(), ops)
        else:
            wl.setup()
            setup_s = time.perf_counter() - T0
            walls = wl.measure(args.seconds)
            op1, op2 = wl.op_values(walls)
            metrics = {
                "setup_s": _metric(setup_s, "s"),
                "op1_s": _metric(op1, "s"),
                "op2_s": _metric(op2, "s"),
                "ref_agreement": _metric(wl.agreement(), "ratio"),
            }
            report = {k: _metric(v, u) for k, (v, u) in wl.summary(walls).items()}
            report["setup_s"] = metrics["setup_s"]
            rss = harness.peak_rss_mb()
            report["peak_rss_mb"] = _metric(rss["total"], "MB")
        report["failed_frac"] = _metric(wl.failed / max(1, wl.attempted), "ratio")
        report["host.steal_share"] = _metric(
            harness.steal_share(ticks, harness.cpu_ticks()), "ratio")
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report, "errors": wl.errors[:20]}))
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kfai_pipeline_spark", "__init__.py")):
        print(f"perfbench: no kfai_pipeline_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
