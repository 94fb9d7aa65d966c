"""The benchmark's two workloads. Each is a closed loop with one
client: the next batch starts when the previous one has returned.

- ``tiles_pipeline``: the paper's workload. A batch makes two controller
  calls on two seeded tile sets.
  1. ``ahn_controller`` selects tiles by an explicit list (with unknown
     IDs, so ``TileSet.with_list`` warns), matches them to a coarser
     two-version elevation index by bbox (a few feature tiles have no
     coverage, so the P9 skip runs), and fans ``PercentileHeights`` out
     over many small, Pareto-skewed tile groups with ``restarts=1``.
     About 1% of tiles fail on their first attempt only, so retry is on
     the timed path. No files are written.
  2. ``example_controller`` with ``tiles=["all"]`` runs ``TileExporter``
     over fewer, larger tiles and writes one parquet file per tile.
     Selection, matching and retry are bypassed here, so a gain there
     shows only in the first call's time; a fan-out change that helps
     small groups and hurts large ones shows in the second.
- ``queries_headline``: a fixed set of ``headline``-tagged registry
  queries through the noop sink, pass after pass. It covers the query
  engine (the ``sources`` ingest re-layout, ``plans`` construction,
  Catalyst execution and an Arrow UDF) and bypasses ``pipeline.*``,
  which ``tiles_pipeline`` exercises instead.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen

WORKER_KEY = "Perfbench"
# Many small Pareto-skewed tiles for the AHN call, few large ones for the
# export; sized so that one run (a JVM start, warm-up and timed batches)
# stays near a minute on four cores.
AHN_SIZE = {"grid": 16, "n_points": 120_000}
EXPORT_SIZE = {"grid": 10, "n_points": 300_000}


def bench_worker(tile_id: str, pdf, config: dict):
    """Wraps a registered worker (``config['inner']``). Tiles named in
    ``config['fail_once']`` fail on their first attempt in a batch; every
    attempt on them is counted in ``config['attempt_dir']``. With
    ``config['payload_dir']`` set, the time spent in the inner worker is
    appended to a per-process file there."""
    from tile_processor_spark.pipeline.workers import get_worker

    if tile_id in config.get("fail_once", ()):
        path = os.path.join(config["attempt_dir"], tile_id)
        with open(path, "a") as f:
            f.write(".")
        if os.path.getsize(path) == 1:
            raise RuntimeError(f"injected first-attempt failure for {tile_id}")
    t0 = time.perf_counter()
    out = get_worker(config["inner"])(tile_id, pdf, config)
    if "payload_dir" in config:
        with open(os.path.join(config["payload_dir"], str(os.getpid())), "a") as f:
            f.write(f"{time.perf_counter() - t0}\n")
    return out


def read_payload_s(payload_dir: str) -> float:
    total = 0.0
    for path in glob.glob(os.path.join(payload_dir, "*")):
        with open(path) as f:
            total += sum(float(line) for line in f if line.strip())
    return total


@dataclass
class Batch:
    wall_s: float
    attempted: int
    failed: int
    ops: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


class TilesPipeline:
    """One batch is two controller calls on two tile sets: the AHN
    pipeline with retry, then the export."""

    name = "tiles_pipeline"
    # batch times are near flat after two warm-up batches
    warmup_batches = 2
    min_batches = 3

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.ahn_dir = os.path.join(work, "inputs", "ahn")
        self.export_dir = os.path.join(work, "inputs", "export")
        self.out_dir = os.path.join(work, "export")
        self.ahn = gen.tiles_ahn(self.ahn_dir, seed, **AHN_SIZE)
        self.export = gen.tiles_export(self.export_dir, seed + 1, **EXPORT_SIZE)
        self.batch_ids = itertools.count()

    def describe(self) -> dict:
        a = self.ahn
        ahn = {k: a[k] for k in ("tiles", "points", "max_points_per_tile",
                                 "median_points_per_tile", "elevation_tiles",
                                 "uncovered_tiles", "expected_success")}
        ahn |= {"selected": len(a["selected"]), "unknown_ids": len(a["unknown_ids"]),
                "fail_once": a["fail_once"]}
        return {"ahn": ahn, "export": {k: v for k, v in self.export.items() if k != "z_cents"}}

    def setup(self, spark) -> None:
        from tile_processor_spark.pipeline.workers import register_worker

        register_worker(WORKER_KEY, bench_worker)
        self.ahn_frames = [spark.read.parquet(f"{self.ahn_dir}/{n}.parquet")
                           for n in ("features", "tile_index", "elevation_index")]
        self.export_frame = spark.read.parquet(f"{self.export_dir}/features.parquet")

    def batch(self, spark, payload: bool) -> Batch:
        out = self._ahn(payload)
        exp = self._export(payload)
        out.wall_s += exp.wall_s
        out.attempted += exp.attempted
        out.failed += exp.failed
        out.ops |= exp.ops
        for k, v in exp.layer.items():
            out.layer[k] = out.layer.get(k, 0.0) + v
        return out

    def _ahn(self, payload: bool) -> Batch:
        from tile_processor_spark.pipeline import controller

        f = self.ahn
        tag = str(next(self.batch_ids))
        cfg = {"inner": "PercentileHeights", "fail_once": f["fail_once"],
               "attempt_dir": os.path.join(self.work, "attempts", tag)}
        os.makedirs(cfg["attempt_dir"])
        if payload:
            cfg["payload_dir"] = os.path.join(self.work, "payload", tag)
            os.makedirs(cfg["payload_dir"])
        t0 = time.perf_counter()
        res = controller.ahn_controller(*self.ahn_frames, WORKER_KEY, tiles=f["selected"],
                                        config=cfg, restarts=1)
        wall = time.perf_counter() - t0
        runs = [os.path.getsize(os.path.join(cfg["attempt_dir"], t))
                if os.path.exists(os.path.join(cfg["attempt_dir"], t)) else 0
                for t in f["fail_once"]]
        failed = (len(res["failed_tiles"]) + abs(res["nr_success"] - f["expected_success"])
                  + sum(1 for n in runs if n != 2))
        out = Batch(wall, f["expected_success"], min(failed, f["expected_success"]),
                    {"ahn": wall})
        if payload:
            out.layer["pipeline.workers.payload_s"] = read_payload_s(cfg["payload_dir"])
        return out

    def _export(self, payload: bool) -> Batch:
        import pyarrow.parquet as pq

        from tile_processor_spark.pipeline import controller

        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        cfg = {"out_dir": self.out_dir}
        worker = "TileExporter"
        if payload:
            worker = WORKER_KEY
            cfg |= {"inner": "TileExporter",
                    "payload_dir": os.path.join(self.work, "payload", str(next(self.batch_ids)))}
            os.makedirs(cfg["payload_dir"])
        t0 = time.perf_counter()
        res = controller.example_controller(self.export_frame, worker, tiles=["all"], config=cfg)
        wall = time.perf_counter() - t0

        f = self.export
        files = glob.glob(os.path.join(self.out_dir, "*.parquet"))
        z = pq.read_table(files, columns=["z"]).column("z").to_numpy() if files else np.zeros(0)
        ok = (not res["failed_tiles"] and res["nr_success"] == f["tiles"]
              and len(files) == f["tiles"] and len(z) == f["points"]
              and int(np.round(z * 100).astype(np.int64).sum()) == f["z_cents"])
        out = Batch(wall, f["tiles"], 0 if ok else f["tiles"], {"export": wall})
        if payload:
            out.layer["pipeline.workers.payload_s"] = read_payload_s(cfg["payload_dir"])
            out.layer["pipeline.output.files"] = len(files)
            out.layer["pipeline.output.mb"] = sum(os.path.getsize(p) for p in files) / 2 ** 20
        return out


# Fixed order: relational aggregate, join with top-k, events window,
# spatial join, and spatial_version_boundary_region, the one headline
# query besides dedup_minhash_pairs that evaluates an Arrow UDF (its
# DE-9IM relate) on every execution. dedup_minhash_pairs is left out
# because it disagrees with its oracle on some generated corpora (seed
# 4002 of gen.star, for one), and every query here must pass on every
# seed. Five short queries leave room for seven passes a run, so each
# query's fastest pass is one that no burst of host contention hit.
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_tumbling_window",
    "spatial_point_in_tile_join",
    "spatial_version_boundary_region",
)


class QueriesHeadline:
    name = "queries_headline"
    # passes keep shortening for several passes after the first
    warmup_batches = 4
    min_batches = 7
    # the benchmark's own calls into the registry, spanned in traced runs
    traced = {"construct": "plans.construct", "execute": "plans.execute"}

    def __init__(self, work: str, seed: int) -> None:
        self.inputs = os.path.join(work, "inputs")
        self.facts = gen.star(self.inputs, seed)

    def describe(self) -> dict:
        return {"rows": self.facts, "queries": len(QUERIES)}

    def setup(self, spark) -> None:
        from tile_processor_spark.plans.registry import all_specs
        from tile_processor_spark.sources import tables

        self.specs = all_specs()
        tables.load_tables(spark, self.inputs)

    def batch(self, spark, payload: bool) -> Batch:
        """One pass over QUERIES. Wrong answers are counted after the
        timed loop, by ``check``; a query that raises counts here."""
        ops, failed = {}, 0
        t0 = time.perf_counter()
        for name in QUERIES:
            q0 = time.perf_counter()
            try:
                self.execute(self.construct(spark, name))
            except Exception:  # counted, and the pass goes on
                traceback.print_exc()
                failed += 1
                continue
            ops[name] = time.perf_counter() - q0
        wall = time.perf_counter() - t0
        return Batch(wall, len(QUERIES), failed, ops)

    def construct(self, spark, name: str):
        return self.specs[name].spark_fn(spark, self.inputs)

    @staticmethod
    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> dict[str, str]:
        """Each query once against its DuckDB oracle (rows-only where the
        registry has none); returns the failures."""
        from tile_processor_spark.testing.oracle import compare_query

        bad = {}
        for name in QUERIES:
            spec = self.specs[name]
            try:
                r = compare_query(spark, name, spec.spark_fn, spec.oracle, self.inputs)
                if not r.ok:
                    bad[name] = r.detail
            except Exception as e:  # a query that raises is a wrong answer
                bad[name] = repr(e)[:300]
        return bad


WORKLOADS = {w.name: w for w in (TilesPipeline, QueriesHeadline)}
