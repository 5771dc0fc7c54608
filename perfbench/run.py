"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload lake_point_read --seed 1 --seconds 14 --trace 0

Runs from the root of a source checkout of this repository. The load is one
closed-loop client with one operation in flight, on ``get_spark(cpus=nproc)``
without extra configuration. ``--seconds`` fixes how many whole passes over
the workload's fixed mix the run makes (never a deadline), so every run with
the same arguments carries the same mix. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics, harvested
from Spark job groups on alternate operations of each kind. The last line of
stdout is the result object; every Spark process is stopped before exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time runs from here

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TESTDATA = "/root/testdata"  # the test tables of TESTDATA.md

# Seconds of timed work one pass takes on a 4-core machine, and the fewest
# passes a run makes: they turn --seconds into a fixed pass count.
PASS_SECONDS = {"lake_ingest": 2.0, "lake_point_read": 1.75, "analytics_gates": 11.5}
MIN_PASSES = {"lake_ingest": 4, "lake_point_read": 2, "analytics_gates": 2}


@dataclasses.dataclass
class Size:
    vehicles: int = 600  # STIB-fleet scale
    read_snapshots: int = 100  # the reference's MAX_DOCUMENTS
    snaps_per_round: int = 4
    ivf_corpus: int = 2000
    vectors_per_round: int = 200
    sf_dir: str = f"{TESTDATA}/sf0.1"
    passes: int = 1  # ingest rounds, read rounds or gate passes


def make_size(workload: str, seconds: int, tiny: bool) -> Size:
    size = Size(passes=max(MIN_PASSES[workload], round(seconds / PASS_SECONDS[workload])))
    if tiny:  # the self-test's size: every code path, seconds of work
        size = dataclasses.replace(
            size,
            vehicles=30,
            read_snapshots=8,
            snaps_per_round=2,
            ivf_corpus=200,
            vectors_per_round=20,
            sf_dir=f"{TESTDATA}/sf0.001",
            passes=2,
        )
    return size


class Context:
    """What a workload needs: session, recorder, size, work directory,
    and the per-layer figures it fills in."""

    def __init__(self, spark, rec, size, work, seed, trace):
        self.spark, self.rec, self.size, self.work = spark, rec, size, work
        self.seed, self.trace = seed, trace
        self.layer: dict[str, float] = {}

    def install_probe(self) -> None:
        """Wrap ``functions.codecs`` once the workload's modules are loaded."""
        if self.trace:
            from measure import CodecsProbe

            self.rec.probe = CodecsProbe()


def _isolate(work: str) -> None:
    """Keep Spark's and Python's temporary files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM gateway process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tools.check_oracle  # noqa: F401
        from mobilitydatalakebenchmark_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: run from a checkout of the repository ({exc})", file=sys.stderr)
        return 2

    from gates import analytics_gates
    from lake import lake_ingest, lake_point_read
    from measure import Recorder, Stopwatch, Tracer
    from metrics import END_TO_END, PER_LAYER, report

    workload = {
        "lake_ingest": lake_ingest,
        "lake_point_read": lake_point_read,
        "analytics_gates": analytics_gates,
    }[args.workload]
    size = make_size(args.workload, args.seconds, args.tiny)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    with Stopwatch() as t:
        spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    try:
        tracer = Tracer(spark) if args.trace else None
        ctx = Context(spark, Recorder(T0, tracer), size, work, args.seed, bool(args.trace))
        e2e = workload(ctx)
        rec = ctx.rec
        if args.trace:
            layer = dict(ctx.layer)
            layer["session.get_spark_ms"] = t.ms
            layer["bench.trace_overhead_pct"] = rec.trace_overhead_pct()
            if rec.probe is not None:
                layer["functions.codecs.calls_per_pass"] = rec.probe.calls / size.passes
                layer["functions.codecs.eager_ms_per_pass"] = rec.probe.ms / size.passes
            metrics = report(layer, PER_LAYER)
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = report({**rec.end_to_end(), **e2e}, END_TO_END)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in rec.errors:
        print(f"perfbench: failed: {err}", file=sys.stderr)
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
