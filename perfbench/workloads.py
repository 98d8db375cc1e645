"""The two workloads. Each stages its seeded inputs outside timing (with
pyarrow, so staging runs no Spark job), calls the program's public
functions for at least ``seconds`` of measurement, checks the outputs
(read back with pyarrow, against numpy and the rule oracle), and fills
``Run``.

A rep is the workload's unit of work: the whole validation job (wp_job),
one micro-batch through kNN, PIP and their sinks (enrich_stream, after
the index builds). ``job_cpu_s`` is a rep's CPU seconds (driver thread,
JVM and Python workers): the median rep on wp_job, the mean batch on
enrich_stream. Wall times and the rates derived from them go to the
report line. At the benchmark's ``--seconds 5`` the minimum number
of reps already outlasts the measuring time, so a run measures exactly
that many and its figures do not depend on how fast the host is.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np

import checks
import inputs
from harness import cpu_seconds, leftover_rdds, median, persistent_rdds, tail

# Input sizes (documented in README.md and BENCHMARK.json).
WP_PAGES = 3000          # → 1,800 ways, 9,000 nodes
WP_BUCKETS = 2
WP_TILE_Z = 12
WP_ORACLE_SAMPLE = 60

EN_WAYS = 6000           # 2-8 vertices each (~30k vertices)
EN_POLYS = 300
EN_POINTS = 8_000        # staged as 4 micro-batches of ST_BATCH
EN_KNN_SAMPLE = 400      # points checked against the brute-force kNN
PYR_Z = (6, 15)
ST_BATCH = 2000
ST_MIN_BATCHES = 3       # untraced batches a run measures at least


class Run:
    """What one benchmark run measured."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, dict] = {}
        # traced reps the per-layer figures are averaged over
        self.traced_reps = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def cpu(self) -> float:
        """CPU seconds the driver, the JVM and its Python workers used so far."""
        return cpu_seconds(self.sc._gateway.proc.pid)

    def cache_guard(self, allowed: set[int], what: str) -> int:
        left = leftover_rdds(self.sc, allowed)
        self.check(left == 0, f"{what}: {left} persistent RDDs left behind")
        return left


# process start; run.py sets it before anything is timed
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result lines),
    stamped with the seconds since the process started."""
    print(f"perfbench: {time.perf_counter() - T0:7.2f} {msg}", file=sys.stderr, flush=True)


def _reps(run: Run, rep_fn, min_reps: int) -> None:
    """Call ``rep_fn(i)`` until ``seconds`` have passed, at least
    ``min_reps`` times."""
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < min_reps or time.perf_counter() < deadline:
        rep_fn(i)
        i += 1


# ==========================================================================
# wp_job — the production validation job
# ==========================================================================

def wp_job(run: Run) -> None:
    from pyspark.sql import functions as F

    from wayproblems_spark.operators.resolve import (
        drop_invalid_geometry,
        resolve_locations,
    )
    from wayproblems_spark.operators.tiles import tile_counts_anchored
    from wayproblems_spark.plans.checkpoint import (
        CheckpointLog,
        run_bucketed,
        stage_bucketed_input,
    )
    from wayproblems_spark.rules import problems
    from wayproblems_spark.rules.engine import gate
    from wayproblems_spark.sinks.meta import write_meta
    from wayproblems_spark.sinks.writer import layer_features
    from wayproblems_spark.sources.pages_source import (
        nodes_from_pages,
        verify_extraction,
        ways_from_pages,
    )

    spark, tr = run.spark, run.tracer
    corpus = inputs.pages_corpus(run.seed, WP_PAGES)
    pages_path = run.path("in", "pages")
    inputs.write_pages(pages_path, corpus["pages"])
    log("wp_job: inputs staged")

    class TimedLog(CheckpointLog):
        """Checkpoint log that also stamps each bucket's completion."""

        def __init__(self, path):
            super().__init__(path)
            self.stamps = [time.perf_counter()]

        def mark(self, bucket, rows, fingerprint, extra=None):
            super().mark(bucket, rows, fingerprint, extra)
            self.stamps.append(time.perf_counter())

    traced_counts = {"gated": 0, "flagged": 0}
    held = []

    def transform(part):
        return layer_features(problems(part), with_anchor=True)

    def transform_traced(part):
        with tr.span("rules", "rules"):
            p = problems(part).persist()
            held.append(p)
            traced_counts["flagged"] += p.count()
            traced_counts["gated"] += gate(part).count()
        # the write, count and fingerprint run_bucketed issues next run
        # in the sinks group; the event log moves count/collect to
        # checkpoint (see relabel)
        tr.set_group("sinks")
        return layer_features(p, with_anchor=True)

    def job(out: str, traced: bool) -> dict:
        """One full job; returns what the checks and metrics need."""
        res = {"out": out}
        c0 = run.cpu()
        t0 = time.perf_counter()
        pages = spark.read.parquet(pages_path)
        with tr.span("sources.extract", "sources"):
            res["mismatches"] = verify_extraction(pages)
        ways = ways_from_pages(pages).drop("src_url")
        nodes = nodes_from_pages(pages)
        if traced:
            with tr.span("sources.geoparse", "sources"):
                ways, nodes = ways.persist(), nodes.persist()
                held.extend([ways, nodes])
                res["ways"], res["nodes"] = ways.count(), nodes.count()
        resolved = drop_invalid_geometry(
            resolve_locations(ways, nodes, broadcast_nodes=False)
        )
        ckpt = TimedLog(os.path.join(out, "checkpoints"))
        problems_dir = os.path.join(out, "problems")
        if traced:
            with tr.span("resolve", "resolve"):
                resolved = resolved.persist()
                held.append(resolved)
                res["resolved"] = resolved.count()
            with tr.span("checkpoint.stage", "checkpoint"):
                stage_bucketed_input(
                    resolved, "way_id", WP_BUCKETS, problems_dir.rstrip("/") + ".staged"
                )
        with tr.span("checkpoint.run", "checkpoint"):
            ckpt.stamps[0] = time.perf_counter()
            run_bucketed(
                resolved, "way_id", WP_BUCKETS,
                transform_traced if traced else transform, ckpt, problems_dir,
            )
        feats = spark.read.parquet(os.path.join(problems_dir, "bucket=*"))
        with tr.span("tiles.counts", "tiles"):
            tile_counts_anchored(feats, WP_TILE_Z, "anchor_lon", "anchor_lat") \
                .write.mode("overwrite").parquet(os.path.join(out, "tiles"))
        write_meta(os.path.join(out, "meta.json"))
        res["wall"] = time.perf_counter() - t0
        res["cpu"] = run.cpu() - c0
        log(f"wp_job: job in {res['wall']:.2f}s ({res['cpu']:.2f} cpu-s), buckets at "
            + " ".join(f"{b - ckpt.stamps[0]:.1f}" for b in ckpt.stamps[1:]))
        res["log"] = ckpt
        if traced:
            with tr.span("trace.extra", "none"):
                res["vertex_rows"] = resolved.select(
                    F.sum(F.size("geom"))
                ).collect()[0][0]
        for df in held:
            df.unpersist()
        held.clear()
        return res

    walls, traced_walls, cpus, last = [], [], [], {}

    def rep(i):
        out = run.path("out", f"rep{i}")
        traced = run.traced and i == 1
        with tr.paused(not traced):
            res = job(out, traced)
        tr.set_group("none")
        rows = sum(r["rows"] for r in res["log"].completed().values())
        (traced_walls if traced else walls).append(res["wall"])
        if not traced:
            cpus.append(res["cpu"])
        run.check(res["mismatches"] == 0,
                  f"wp_job: {res['mismatches']} extraction mismatches")
        run.cache_guard(set(), "wp_job rep")
        last["rows"] = rows
        if traced:
            run.traced_reps += 1
            run.layer.update(_wp_trace_metrics(run, res, rows, traced_counts))
        else:
            _wp_check_outputs(run, res, rows, corpus)
            if i > 0:
                shutil.rmtree(run.path("out", f"rep{i - 1}"), ignore_errors=True)

    # One job, as in production: a fresh JVM runs it once, so its first
    # (cold) run is the figure. The traced run runs U, T, U: the first job
    # warms the JVM, and the overhead compares the warm traced job with
    # the warm untraced one.
    _reps(run, rep, min_reps=3 if run.traced else 1)
    # items_per_s counts input ways, not flagged rows: the flagged count
    # moves ±5% with the seed's tags
    job_s = median(walls)
    run.e2e["job_cpu_s"] = median(cpus)
    run.report.update({
        "job_s": {"value": job_s, "unit": "s", "reps": len(walls)},
        "flagged_per_s": {"value": last["rows"] / job_s, "unit": "1/s"},
        "items_per_s": {"value": len(corpus["ways"]) / job_s, "unit": "1/s"},
        "flagged_rows": {"value": last["rows"], "unit": "count"},
    })
    if run.traced:
        run.layer["trace.overhead_s"] = median(traced_walls) - median(walls[1:])


FINGERPRINT_ACTIONS = ("count", "collect")


def relabel(group: str, action: str) -> str:
    """In the bucket loop the write, the re-read count and the content
    fingerprint share the sinks group; only the write belongs to sinks."""
    if group == "sinks" and action in FINGERPRINT_ACTIONS:
        return "checkpoint"
    return group


def _wp_check_outputs(run: Run, res: dict, rows: int, corpus: dict) -> None:
    """Checkpoint rows == written rows == tile-count total, and a seeded
    sample of ways matches the Python oracle row for row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from wayproblems_spark.rules.oracle import way_problems

    cols = ["id", "site", "sub", "layer", "style", "problem"]
    feats = inputs.read_table(os.path.join(res["out"], "problems"), cols)
    written = feats.num_rows
    tiles = inputs.read_table(os.path.join(res["out"], "tiles"), ["problem_count"])
    tile_total = pc.sum(tiles["problem_count"]).as_py() or 0
    run.check(rows == written == tile_total,
              f"wp_job: log rows {rows}, written {written}, tile total {tile_total}")
    rng = np.random.default_rng(run.seed + 7)
    ids = [int(w) for w in rng.choice(sorted(corpus["ways"]), WP_ORACLE_SAMPLE, replace=False)]
    got: dict[int, list] = {w: [] for w in ids}
    sample = feats.filter(pc.is_in(feats["id"], value_set=pa.array([str(w) for w in ids])))
    for r in sample.to_pylist():
        got[int(r["id"])].append(tuple(r[c] for c in cols[1:]))
    bad = 0
    for w in ids:
        tags, closed, resolved = corpus["ways"][w]
        want = [] if resolved < 2 else [
            (e["site"], e["sub"], e["layer"], e["style"], e["problem"])
            for e in way_problems({"tags": tags, "closed": closed})
        ]
        bad += sorted(got[w]) != sorted(want)
    run.check(bad == 0, f"wp_job: {bad}/{len(ids)} sampled ways differ from the oracle")


def _wp_trace_metrics(run: Run, res: dict, rows: int, counts: dict) -> dict:
    """Per-layer figures of the traced reps so far: span totals and counts
    are averaged per traced rep; sizes come from the latest one."""
    tr = run.tracer
    n = run.traced_reps
    ckpt = res["log"]
    per_bucket = [b - a for a, b in zip(ckpt.stamps, ckpt.stamps[1:])]
    size = 0
    for dirpath, _, files in os.walk(os.path.join(res["out"], "problems")):
        size += sum(os.path.getsize(os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet"))
    return {
        "sources.extract_s": tr.total("sources.extract") / n,
        "sources.geoparse_s": tr.total("sources.geoparse") / n,
        "sources.ways": res["ways"],
        "sources.nodes": res["nodes"],
        "resolve.s": tr.total("resolve") / n,
        "resolve.vertex_rows": res["vertex_rows"] or 0,
        "resolve.kept_frac": res["resolved"] / max(res["ways"], 1),
        "checkpoint.stage_s": tr.total("checkpoint.stage") / n,
        "checkpoint.bucket_s": median(per_bucket),
        "checkpoint.buckets": len(ckpt.completed()),
        "rules.s": tr.total("rules") / n,
        "rules.gated_ways": counts["gated"] / n,
        "rules.flagged_per_way": counts["flagged"] / max(counts["gated"], 1),
        "sinks.bytes_per_row": size / max(rows, 1),
        "tiles.counts_s": tr.total("tiles.counts") / n,
    }


# ==========================================================================
# enrich_stream — micro-batch kNN + PIP against static clustered layers
# ==========================================================================

def _stage_layers(run: Run):
    """Seeded clustered way + polygon layers, staged as parquet. Returns
    (way geometries, rng, ways_path, polys_path, vertex arrays, polys)."""
    rng = np.random.default_rng(run.seed)
    cities = inputs.Cities(rng)
    way_ids, geoms = inputs.clustered_ways(rng, cities, EN_WAYS)
    polys = inputs.clustered_polys(rng, cities, EN_POLYS)
    ways_path, polys_path = run.path("in", "ways"), run.path("in", "polys")
    inputs.write_ways(ways_path, way_ids, geoms)
    inputs.write_polys(polys_path, polys)
    verts = checks.vertex_arrays(way_ids, geoms)
    return geoms, rng, ways_path, polys_path, verts, polys


def _knn_index_stats(index) -> dict:
    from pyspark.sql import functions as F

    r = index.select(F.size("vs").alias("n")).agg(
        F.count("*").alias("cells"), F.max("n").alias("mx"),
        F.expr("percentile(n, 0.5)").alias("med"),
    ).collect()[0]
    return {
        "knn.index_cells": r["cells"],
        "knn.max_cell_verts": r["mx"],
        "knn.median_cell_verts": r["med"],
        "knn.cell_skew": r["mx"] / max(r["med"], 1),
    }


def enrich_stream(run: Run) -> None:
    """Micro-batch enrichment against static clustered layers.

    1. The static side is built once and timed: ``build_knn_index`` (its
       vertex frame and cell index materialized), then
       ``knn_foreach_batch`` over the same way frame, whose index plan is
       the one just cached, so the stream shares it (checked); and
       ``pip_foreach_batch``, which builds the PIP index.
    2. Closed loop, one client: each batch of ST_BATCH points goes through
       kNN and PIP into ``exactly_once_parquet_sink``, at least
       ST_MIN_BATCHES untraced batches and until ``seconds`` have passed.
    3. ``tile_pyramid_anchored`` over the whole point set.
    """
    from wayproblems_spark.operators.knn import build_knn_index
    from wayproblems_spark.operators.tiles import tile_pyramid_anchored
    from wayproblems_spark.streaming.knn_stream import (
        exactly_once_parquet_sink,
        knn_foreach_batch,
    )
    from wayproblems_spark.streaming.pip_stream import pip_foreach_batch

    spark, sc, tr = run.spark, run.sc, run.tracer
    geoms, rng, ways_path, polys_path, verts, polys = _stage_layers(run)
    pts_pdf = inputs.clustered_points(rng, geoms, EN_POINTS)
    pts_path = run.path("in", "points")
    inputs.write_batches(pts_path, pts_pdf, ST_BATCH)
    log("enrich_stream: inputs staged")
    ways_df, polys_df = spark.read.parquet(ways_path), spark.read.parquet(polys_path)

    # -- static side, built once ---------------------------------------------
    t = {}
    with tr.span("knn.build", "knn"):
        s = time.perf_counter()
        kidx = build_knn_index(ways_df)
        kidx[1].count()
        kidx[2].count()
        t["knn_build"] = time.perf_counter() - s
    allowed = persistent_rdds(sc)
    kfb = knn_foreach_batch(ways_df)
    run.check(persistent_rdds(sc) == allowed,
              "enrich_stream: the stream did not share the built kNN index")
    with tr.span("pip.build", "pip"):
        s = time.perf_counter()
        pfb = pip_foreach_batch(spark, polys_df)
        t["pip_build"] = time.perf_counter() - s
    tr.set_group("none")
    allowed = persistent_rdds(sc)
    log("enrich_stream: indexes " + " ".join(f"{k} {v:.2f}s" for k, v in t.items()))

    # -- micro-batch loop ----------------------------------------------------
    knn_out, pip_out = run.path("out", "knn"), run.path("out", "pip")

    def traced_sink(real, layer):
        """Materialize the operator's result (its layer's self time), then
        time the sink alone."""
        def sink(df, bid):
            df = df.persist()
            df.count()
            with tr.span("stream.sink", "sinks"):
                real(df, bid)
            tr.set_group(layer)
            df.unpersist()
        return sink

    plain = (exactly_once_parquet_sink(knn_out), exactly_once_parquet_sink(pip_out))
    traced = (traced_sink(plain[0], "knn"), traced_sink(plain[1], "pip"))
    # A traced run traces batch 1 between untraced batches 0 and 2, for
    # the tracing overhead; only untraced batches count toward the
    # end-to-end figures.
    lat, traced_lat, leftovers, cpus = [], [], [], []
    knn_jobs0, pip_jobs0 = tr.jobs_in_group("knn"), tr.jobs_in_group("pip")
    deadline = time.perf_counter() + run.seconds
    n_batches = 0
    while n_batches < EN_POINTS // ST_BATCH and (
        n_batches < ST_MIN_BATCHES + run.traced or time.perf_counter() < deadline
    ):
        df = spark.read.parquet(os.path.join(pts_path, f"batch={n_batches}"))
        tracing = run.traced and n_batches == 1
        kfb.sink, pfb.sink = traced if tracing else plain
        c0 = run.cpu()
        s = time.perf_counter()
        with tr.paused(not tracing):
            with tr.span("stream.knn_batch", "knn"):
                kfb(df, n_batches)
            with tr.span("stream.pip_batch", "pip"):
                pfb(df, n_batches)
        took = time.perf_counter() - s
        (traced_lat if tracing else lat).append(took)
        if not tracing:
            cpus.append(run.cpu() - c0)
        log(f"enrich_stream: batch {n_batches} in {took:.2f}s ({run.cpu() - c0:.2f} cpu-s)")
        leftovers.append(run.cache_guard(allowed, f"enrich_stream batch {n_batches}"))
        n_batches += 1
    n_traced = len(traced_lat)
    knn_jobs = tr.jobs_in_group("knn") - knn_jobs0
    pip_jobs = tr.jobs_in_group("pip") - pip_jobs0

    # -- tile pyramid over the point set -------------------------------------
    pyramid = run.path("out", "pyramid")
    pts = spark.read.parquet(pts_path).select("point_id", "lat", "lon", "src")
    with tr.span("tiles.pyramid", "tiles"):
        s = time.perf_counter()
        tile_pyramid_anchored(pts, PYR_Z[0], PYR_Z[1], "lon", "lat", "src") \
            .write.mode("overwrite").parquet(pyramid)
        t["pyr"] = time.perf_counter() - s
    tr.set_group("none")
    run.cache_guard(allowed, "enrich_stream pyramid")

    stats = _knn_index_stats(kidx[2]) if run.traced else {}
    log("enrich_stream: checking")
    pip_pairs = _enrich_checks(run, pts_pdf, verts, polys, knn_out, pip_out, pyramid,
                               n_batches * ST_BATCH)
    log("enrich_stream: checked")

    p50 = median(lat)
    tail_v, tail_p, n = tail(lat)
    stream_rate = ST_BATCH * n / sum(lat)
    # CPU per batch over the whole stream, its cold first batch included:
    # over ten runs the mean spread 0.12 where the median batch spread 0.19
    # (the later batches still get cheaper as the JIT warms, so which one
    # is the median varies)
    run.e2e["job_cpu_s"] = sum(cpus) / len(cpus)
    n_z = PYR_Z[1] - PYR_Z[0] + 1
    run.report.update({
        "index_build_s": {"value": t["knn_build"] + t["pip_build"], "unit": "s"},
        "tile_pairs_per_s": {"value": EN_POINTS * n_z / t["pyr"], "unit": "1/s"},
        "batch_p50_s": {"value": p50, "unit": "s", "samples": n},
        "batch_tail_s": {"value": tail_v, "unit": "s", "percentile": tail_p, "samples": n},
        "stream_points_per_s": {"value": stream_rate, "unit": "1/s"},
    })
    if not run.traced:
        return
    zs = inputs.read_table(pyramid, ["tile_z"])["tile_z"].to_numpy()
    base_tiles = int((zs == PYR_Z[1]).sum())
    run.layer.update(stats)
    run.layer.update({
        "knn.build_s": t["knn_build"],
        "pip.build_s": t["pip_build"],
        "pip.bucket_rows": pfb.prebuilt[1].count(),
        "pip.hits_per_point": pip_pairs / (n_batches * ST_BATCH),
        "tiles.pyramid_s": t["pyr"],
        "tiles.base_reduction": EN_POINTS / max(base_tiles, 1),
        "knn.jobs_per_call": knn_jobs / n_traced,
        "pip.jobs_per_call": pip_jobs / n_traced,
        "stream.knn_batch_s": tr.self_time("stream.knn_batch") / n_traced,
        "stream.pip_batch_s": tr.self_time("stream.pip_batch") / n_traced,
        "stream.sink_s": median(tr.durations("stream.sink")),
        "stream.cached_after_batch": max(leftovers),
        "trace.overhead_s": median(traced_lat) - p50,
    })


def _enrich_checks(run, pts_pdf, verts, polys, knn_out, pip_out, pyramid, n_streamed) -> int:
    """Against numpy: every streamed point has exactly one kNN row, and a
    seeded sample's rows are at the brute-force nearest vertex; every
    streamed point's (point, polygon) pairs equal an even-odd ray cast,
    each once; every pyramid zoom accounts for every point. Returns the
    number of PIP pairs written."""
    ids = np.arange(n_streamed)
    knn = inputs.read_table(knn_out, ["point_id", "way_id", "dist_m"]).to_pandas()
    dup = int(knn["point_id"].duplicated().sum())
    seen = set(knn["point_id"])
    run.check(dup == 0 and seen == set(ids.tolist()),
              f"enrich_stream: kNN rows {len(knn)}, {dup} duplicated, "
              f"{len(seen ^ set(ids.tolist()))} points missing or unexpected")
    sample = np.sort(np.random.default_rng(run.seed + 11).choice(
        ids, EN_KNN_SAMPLE, replace=False))
    checks.check_knn(run, knn[knn["point_id"].isin(sample)], pts_pdf, verts, sample)
    pip = inputs.read_table(pip_out, ["point_id", "poly_id", "kind"]).to_pandas()
    checks.check_pip(run, pip, pts_pdf, polys, ids)
    pyr = inputs.read_table(pyramid, ["tile_z", "problem_count"])
    zooms = pyr.to_pandas().groupby("tile_z")["problem_count"].sum().to_dict()
    run.check(all(zooms.get(z) == EN_POINTS for z in range(PYR_Z[0], PYR_Z[1] + 1)),
              f"enrich_stream: pyramid zoom totals {zooms}")
    return len(pip)
