"""The ``analytics_gates`` workload: oracle-backed query gates over the
test tables of TESTDATA.md, in whole passes shuffled by the seed."""

from __future__ import annotations

import os
import random

from measure import FAILED, mean, p50
from metrics import GATES


def gate_problems(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """The repository's oracle compare (``tools/check_oracle.py``): row
    count, column names, then the order-insensitive canonical rows."""
    from tools.check_oracle import _canon_rows

    if len(s_rows) != len(d_rows):
        return [f"row count {len(s_rows)} vs oracle {len(d_rows)}"]
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns {sorted(s_cols)} vs oracle {sorted(d_cols)}"]
    if _canon_rows(s_cols, s_rows)[1] != _canon_rows(d_cols, d_rows)[1]:
        return ["values differ from the oracle"]
    return []


def analytics_gates(ctx) -> dict:
    import duckdb

    from mobilitydatalakebenchmark_spark.plans import load_registry
    from tools.check_oracle import TABLES

    spark, rec, size = ctx.spark, ctx.rec, ctx.size
    registry = load_registry()
    ctx.install_probe()
    sf = size.sf_dir
    rng = random.Random(ctx.seed)

    # warm-up: each gate once, collected; the rows are compared against
    # the oracle after the timed phase
    def collect(name):
        df = registry[name].spark(spark, sf)
        return df.columns, [tuple(r) for r in df.collect()]

    results = {}
    for name in rng.sample(GATES, len(GATES)):
        results[name] = rec.call(f"plans.{name}", lambda: collect(name), timed=False)
    rec.setup_done()

    def run(name):
        with rec.phase("build"):
            df = registry[name].spark(spark, sf)
        with rec.phase("execute"):
            df.write.mode("overwrite").format("noop").save()

    rec.start_timed()
    for _ in range(size.passes):
        for name in rng.sample(GATES, len(GATES)):
            rec.call(f"plans.{name}", lambda: run(name))
        rec.harvest()
    rec.end_timed()

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{ctx.work}/duckdb'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    for name in GATES:
        if results[name] is FAILED:
            continue
        s_cols, s_rows = results[name]
        oracle = registry[name].oracle
        try:
            if oracle is None:
                problems = [] if s_rows else ["rows-only gate returned 0 rows"]
            else:
                res = con.execute(oracle)
                d_cols = [d[0] for d in res.description]
                problems = gate_problems(s_cols, s_rows, d_cols, res.fetchall())
        except Exception as exc:  # noqa: BLE001 - an oracle error fails the check
            problems = [f"oracle: {type(exc).__name__}: {str(exc)[:200]}"]
        if problems:
            rec.fail(f"{name}: {'; '.join(problems)}")
    con.close()

    out = {"bytes_per_input_byte": input_compression(sf)}
    if ctx.trace:
        ops = rec.ops
        layer = {
            "plans.build_ms_p50": p50([o["phases"]["build"] for o in ops if "build" in o["phases"]]),
            "plans.execute_ms_p50": p50([o["phases"]["execute"] for o in ops if "execute" in o["phases"]]),
            "plans.jobs_per_gate": mean(rec.counts(ops)),
            "plans.build_jobs_per_gate": mean(rec.counts(ops, phase="build")),
            "plans.stages_per_gate": mean(rec.counts(ops, key="stages")),
            "plans.failed_tasks": sum(rec.counts(ops, key="failed_tasks")),
        }
        for name in GATES:
            mine = rec.of(f"plans.{name}")
            layer[f"plans.{name}.jobs"] = p50(rec.counts(mine))
            layer[f"plans.{name}.build_ms"] = p50([o["phases"].get("build", 0.0) for o in mine])
        ctx.layer.update(layer)
    return out


def input_compression(sf: str) -> float:
    """On-disk parquet bytes of the gate tables over their uncompressed
    column bytes (from the parquet footers). The gates store nothing, so
    this describes the input alone and stays flat by construction."""
    import pyarrow.parquet as pq

    from tools.check_oracle import TABLES

    disk = raw = 0
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        meta = pq.read_metadata(path)
        disk += os.path.getsize(path)
        raw += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
    return disk / raw
