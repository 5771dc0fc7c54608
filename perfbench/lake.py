"""The two store workloads: ``lake_ingest`` (streaming write path with
growing history) and ``lake_point_read`` (the paper's random point reads
over the eight storage strategies)."""

from __future__ import annotations

import collections
import inspect
import os
import random

import numpy as np

from measure import FAILED, Stopwatch, growth_ratio, mean, p50, p90
from metrics import INGEST_STORES

VECTOR_DIM = 64


def count_problems(store: str, expected: dict, got: dict) -> list[str]:
    """Per-key row counts must match exactly: a missing key is a lost
    snapshot, an extra one a stray write, a higher count a double insert."""
    problems = []
    for key in sorted(set(expected) | set(got)):
        if expected.get(key, 0) != got.get(key, 0):
            problems.append(f"{store}: {key} holds {got.get(key, 0)} rows, expected {expected.get(key, 0)}")
    return problems[:5]


def uuid_problems(rows: list, doc: dict, distinct: bool = False) -> list[str]:
    """The uuid multiset of a point read must equal the snapshot's. With
    ``distinct`` only the uuid set is compared: the temporal store keeps
    one sequence per vehicle, so a vehicle listed twice in one snapshot
    reads back once (its documented model, as in the repository's
    round-trip test); a uuid may still not read back more often than the
    snapshot lists it."""
    got = collections.Counter(
        f["properties"]["uuid"] for r in rows for f in (r["data"]["features"] or [])
    )
    want = collections.Counter(f["properties"]["uuid"] for f in doc["features"])
    if got == want or (distinct and set(got) == set(want) and not got - want):
        return []
    return [f"uuid multiset differs: {sum((want - got).values())} missing, {sum((got - want).values())} extra"]


def _features(snaps) -> dict:
    return {ts: len(doc["features"]) for ts, doc in snaps if doc["features"]}


def lake_ingest(ctx) -> dict:
    from pyspark.sql import functions as F

    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore
    from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
    from mobilitydatalakebenchmark_spark.operators.versioned_store import VersionedParquetStore
    from mobilitydatalakebenchmark_spark.session import local_df
    from mobilitydatalakebenchmark_spark.sources.geojson import (
        generate_snapshots,
        snapshots_to_df,
        write_snapshot_dir,
    )
    from mobilitydatalakebenchmark_spark.sources.size import dir_size
    from mobilitydatalakebenchmark_spark.streaming.ingest import (
        read_snapshot_stream,
        stream_to_flat_store,
    )
    from mobilitydatalakebenchmark_spark.streaming.versioned_stream import (
        stream_to_versioned_store,
    )

    spark, rec, size, w = ctx.spark, ctx.rec, ctx.size, ctx.work
    ctx.install_probe()
    k, rounds = size.snaps_per_round, size.passes
    layer = {}
    with Stopwatch() as t:
        snaps = generate_snapshots(
            n_snapshots=k * (rounds + 2), n_vehicles=size.vehicles, seed=ctx.seed
        )
    layer["sources.generate_snapshots_ms"] = t.ms
    vec_rng = np.random.default_rng(ctx.seed)
    next_id = [0]

    def vectors(n: int):
        v = vec_rng.standard_normal((n, VECTOR_DIM)).astype(np.float32)
        ids = range(next_id[0], next_id[0] + n)
        next_id[0] += n
        return local_df(
            spark,
            [(i, row.tolist()) for i, row in zip(ids, v)],
            "vec_id long, embedding array<float>",
        )

    paths = {s: os.path.join(w, s) for s in INGEST_STORES}
    landing = os.path.join(w, "landing")
    versioned = VersionedParquetStore(paths["versioned"])
    temporal = TemporalStore(paths["temporal"])
    ivf = IVFIndexStore(paths["ivf"], n_centroids=16)
    land_ms, landed = [], []

    def land(batch):
        with Stopwatch() as t:
            write_snapshot_dir(batch, landing)
        land_ms.append(t.ms)
        landed.extend(batch)

    def drain(query):
        query.awaitTermination()
        return query

    def flat_sink():
        return drain(
            stream_to_flat_store(
                read_snapshot_stream(spark, landing), paths["flat"], os.path.join(w, "ck_flat")
            )
        )

    def versioned_sink():
        return drain(
            stream_to_versioned_store(
                read_snapshot_stream(spark, landing), versioned, os.path.join(w, "ck_versioned")
            )
        )

    def one_round(batch, timed: bool):
        land(batch)
        rec.call("streaming.flat_sink", flat_sink, timed)
        rec.call("streaming.versioned_sink", versioned_sink, timed)

        def append_batch():
            with rec.phase("snapshots_to_df"):
                docs = snapshots_to_df(spark, batch)
            temporal.append_batch(spark, docs)

        rec.call("operators.temporal_store.append_batch", append_batch, timed)
        new = vectors(size.vectors_per_round)
        rec.call("operators.ivf_index.append", lambda: ivf.append(new), timed)

    # set-up: the first round creates every store, the second warms each
    # timed operation kind once
    rec.call("operators.ivf_index.build", lambda: ivf.build(vectors(size.ivf_corpus)), timed=False)
    first = snaps[:k]
    land(first)
    rec.call("streaming.flat_sink", flat_sink, timed=False)
    rec.call("streaming.versioned_sink", versioned_sink, timed=False)
    rec.call(
        "operators.temporal_store.write",
        lambda: temporal.write(snapshots_to_df(spark, first)),
        timed=False,
    )
    one_round(snaps[k : 2 * k], timed=False)
    rec.setup_done()

    rec.start_timed()
    for r in range(rounds):
        one_round(snaps[(r + 2) * k : (r + 3) * k], timed=True)
        rec.harvest()
    rec.end_timed()

    # -- correctness: every store holds exactly the landed snapshots -------
    want = _features(landed)
    checks = {
        "flat": lambda: count_problems(
            "flat",
            want,
            {r[0]: r[1] for r in spark.read.parquet(paths["flat"]).groupBy("timestamp").count().collect()},
        ),
        "versioned": lambda: count_problems(
            "versioned",
            {ts: 1 for ts, _ in landed},
            {r[0]: r[1] for r in versioned.snapshot(spark).groupBy("timestamp").count().collect()},
        )
        + count_problems("versioned", {"versions": rounds + 2}, {"versions": len(versioned.history())}),
        "temporal": lambda: count_problems(
            "temporal",
            want,
            {
                r[0]: r[1]
                for r in temporal.scan(spark)
                .select(F.explode("positions.ts").alias("ts"))
                .groupBy(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
                .count()
                .collect()
            },
        ),
        "ivf": lambda: count_problems(
            "ivf", {"n_vectors": next_id[0]}, {"n_vectors": ivf.meta(spark)["n_vectors"]}
        ),
    }
    for name, check in checks.items():
        try:
            problems = check()
        except Exception as exc:  # noqa: BLE001 - an unreadable store fails its check
            problems = [f"{name}: {type(exc).__name__}: {str(exc)[:200]}"]
        if problems:
            rec.fail("; ".join(problems))

    sizes = {s: dir_size(p) for s, p in paths.items()}
    out = {"bytes_per_input_byte": sum(sizes.values()) / dir_size(landing)}
    if ctx.trace:
        layer["sources.write_snapshot_dir_ms_p50"] = p50(land_ms)
        layer["sources.snapshots_to_df_ms_p50"] = p50(
            [o["phases"]["snapshots_to_df"] for o in rec.of("operators.temporal_store.append_batch")]
        )
        for sink in ("flat_sink", "versioned_sink"):
            kind = f"streaming.{sink}"
            ms = rec.ms(kind)
            layer[f"{kind}.drain_ms_p50"] = p50(ms)
            layer[f"{kind}.drain_ms_p90"] = p90(ms)
            layer[f"{kind}.jobs_per_drain"] = mean(rec.counts(rec.of(kind)))
            layer[f"{kind}.growth_ratio"] = growth_ratio(ms)
        for op in ("temporal_store.append_batch", "ivf_index.append"):
            kind = f"operators.{op}"
            ms = rec.ms(kind)
            layer[f"{kind}.ms_p50"] = p50(ms)
            layer[f"{kind}.ms_p90"] = p90(ms)
            layer[f"{kind}.jobs_per_op"] = mean(rec.counts(rec.of(kind)))
            layer[f"{kind}.growth_ratio"] = growth_ratio(ms)
        for s, b in sizes.items():
            layer[f"operators.ingest.{s}.bytes"] = b
    ctx.layer.update(layer)
    return out


def lake_point_read(ctx) -> dict:
    from mobilitydatalakebenchmark_spark.operators.document_store import (
        DocumentParquetStore,
        GzipJsonStore,
    )
    from mobilitydatalakebenchmark_spark.operators.encoded_store import (
        CantorParquetStore,
        VelocitySplitParquetStore,
    )
    from mobilitydatalakebenchmark_spark.operators.flat_store import FlatParquetStore
    from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
    from mobilitydatalakebenchmark_spark.operators.velocity_store import VelocityParquetStore
    from mobilitydatalakebenchmark_spark.sources.geojson import (
        generate_snapshots,
        snapshots_to_df,
        write_snapshot_dir,
    )
    from mobilitydatalakebenchmark_spark.sources.size import dir_size

    spark, rec, size, w = ctx.spark, ctx.rec, ctx.size, ctx.work
    ctx.install_probe()
    layer = {}
    # the eight stores of tools/bench_stores.py, in its order
    stores = {
        "flat_parquet": FlatParquetStore(f"{w}/flat"),
        "flat_segmented": FlatParquetStore(f"{w}/flatseg", segment_by="uuid"),
        "velocity_parquet": VelocityParquetStore(f"{w}/velocity"),
        "velocity_split": VelocitySplitParquetStore(f"{w}/vsplit"),
        "cantor_packed": CantorParquetStore(f"{w}/cantor", packed=True),
        "temporal": TemporalStore(f"{w}/temporal"),
        "document_parquet": DocumentParquetStore(f"{w}/docs"),
        "gzip_json_single": GzipJsonStore(f"{w}/gz", single_file=True),
    }
    with Stopwatch() as t:
        snaps = generate_snapshots(
            n_snapshots=size.read_snapshots, n_vehicles=size.vehicles, seed=ctx.seed
        )
    layer["sources.generate_snapshots_ms"] = t.ms
    with Stopwatch() as t:
        write_snapshot_dir(snaps, f"{w}/snapshots")
    layer["sources.write_snapshot_dir_ms_p50"] = t.ms
    with Stopwatch() as t:
        docs = snapshots_to_df(spark, snaps)
    layer["sources.snapshots_to_df_ms_p50"] = t.ms
    for name, store in stores.items():
        with Stopwatch() as t:
            rec.call(f"operators.{name}.write", lambda: store.write(docs), timed=False)
        layer[f"operators.{name}.write_ms"] = t.ms

    def reader(store):
        needs_spark = "spark" in inspect.signature(store.get_document).parameters
        if needs_spark:
            return lambda ts: store.get_document(spark, ts).collect()
        return lambda ts: store.get_document(ts).collect()

    readers = {name: reader(s) for name, s in stores.items()}
    by_ts = dict(snaps)
    timestamps = [ts for ts, _ in snaps]
    rng = random.Random(ctx.seed)
    reads = []
    for name, read in readers.items():
        ts = rng.choice(timestamps)
        reads.append((name, ts, rec.call(f"operators.{name}.get_document", lambda: read(ts), timed=False)))
    rec.setup_done()

    rec.start_timed()
    for _ in range(size.passes):
        for name, read in readers.items():
            ts = rng.choice(timestamps)
            reads.append((name, ts, rec.call(f"operators.{name}.get_document", lambda: read(ts))))
        rec.harvest()
    rec.end_timed()

    for name, ts, rows in reads:
        if rows is not FAILED:
            for p in uuid_problems(rows, by_ts[ts], distinct=name == "temporal"):
                rec.fail(f"{name} @ {ts}: {p}")

    sizes = {name: s.total_size() for name, s in stores.items()}
    out = {"bytes_per_input_byte": sum(sizes.values()) / dir_size(f"{w}/snapshots")}
    if ctx.trace:
        for name in stores:
            kind = f"operators.{name}.get_document"
            layer[f"operators.{name}.get_document_ms_p50"] = p50(rec.ms(kind))
            layer[f"operators.{name}.jobs_per_read"] = mean(rec.counts(rec.of(kind)))
            layer[f"operators.{name}.bytes"] = sizes[name]
    ctx.layer.update(layer)
    return out
