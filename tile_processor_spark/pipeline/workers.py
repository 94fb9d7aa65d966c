"""Per-tile worker registry — the Spark analogue of the reference's
``WorkerFactory`` (tile_processor/worker.py:30-54, registrations at
worker.py:754-763).

A worker is a Python callable ``(tile_id: str, pdf: pandas.DataFrame,
config: dict) -> pandas.DataFrame | None`` executed once per tile group
via ``applyInPandas`` — the reference's ``execute(tile, tiles, **cfg) ->
bool`` contract (worker.py:60, 181-189) with the side-effecting
subprocess replaced by a returned (or written) DataFrame. Success is a
status row, not an exit code.

Bounded retry (``--restart``) runs inside the task that holds the tile's
rows: a failed attempt is retried right away, on a fresh copy of the
group, not after the round in a second Spark job. Workers that genuinely
need an external binary use the subprocess escape hatch inside the
function; those retries and Spark's own task re-runs make side effects
non-idempotent, so such workers must write overwrite-by-tile outputs
(SURVEY.md §7 risk register).
"""

from __future__ import annotations

import traceback
from collections.abc import Callable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WorkerFn = Callable[[str, pd.DataFrame, dict], Any]

_REGISTRY: dict[str, WorkerFn] = {}


def register_worker(key: str, fn: WorkerFn) -> None:
    """WorkerFactory.register_worker (worker.py:36-44)."""
    _REGISTRY[key] = fn


def get_worker(key: str) -> WorkerFn:
    if key not in _REGISTRY:
        raise KeyError(f"unknown worker {key!r}; registered: {sorted(_REGISTRY)}")
    return _REGISTRY[key]


def list_workers() -> list[str]:
    return sorted(_REGISTRY)


STATUS_SCHEMA = (
    "tile_id string, success boolean, n_rows long, error string, attempts int"
)


def run_worker_over_tiles(
    data: DataFrame,
    worker_key: str,
    config: dict | None = None,
    tile_col: str = "tile_id",
    restarts: int = 0,
) -> DataFrame:
    """Fan the worker out over tile groups; one status row per tile.

    The reference runs one thread + child process per tile
    (processor.py:133-149); here each tile group is one pandas call in a
    Spark task. A worker exception is *captured* into the status row
    (success=False) rather than failing the job. A failed tile is retried
    up to ``restarts`` times in the same task, each attempt on its own
    copy of the group so an attempt that mutated its input and then
    raised cannot leak that into the next; ``attempts`` counts the calls.
    """
    config = dict(config or {})
    fn = get_worker(worker_key)
    last = max(restarts, 0) + 1

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = str(pdf[tile_col].iloc[0])
        for attempt in range(1, last + 1):
            try:
                # the last attempt may have the group itself: no retry follows it
                out = fn(tile, pdf.copy() if attempt < last else pdf, config)
            except Exception:
                error = traceback.format_exc(limit=3)
                continue
            n = len(out) if hasattr(out, "__len__") else int(bool(out))
            return pd.DataFrame(
                {"tile_id": [tile], "success": [True], "n_rows": [n],
                 "error": [None], "attempts": [attempt]}
            )
        return pd.DataFrame(
            {"tile_id": [tile], "success": [False], "n_rows": [0],
             "error": [error], "attempts": [last]}
        )

    # Python tile groups are byte-light but CPU-heavy, so AQE's byte-sized
    # coalescing would pack them into fewer tasks than cores. An explicit
    # partition count is never coalesced. It is taken on a computed key, a
    # hash of the tile ID: AQE drops a repartition whose input is already
    # hash-partitioned on the same key (as a join on tile_id leaves it),
    # and would then coalesce that input. Grouping by (key, tile) keeps
    # one group per tile and is satisfied by the repartition, so the
    # fan-out is still one Exchange.
    n = int(data.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key = F.hash(F.col(tile_col))
    return (
        data.repartition(n, key)
        .groupBy(key, F.col(tile_col))
        .applyInPandas(_run, STATUS_SCHEMA)
    )


# --- built-in workers (worker.py:754-763 registration parity) -------------


def _exporter(tile_id: str, pdf: pd.DataFrame, config: dict):
    """TileExporter (worker.py:613-691): write this tile's features to
    one file under out_dir — GPKG/LAZ becomes parquet."""
    out_dir = config["out_dir"]
    path = f"{out_dir}/tile={tile_id}.parquet"
    pdf.drop(columns=[c for c in ("_cx", "_cy") if c in pdf], errors="ignore").to_parquet(path)
    return pdf


def _percentile_heights(tile_id: str, pdf: pd.DataFrame, config: dict):
    """3dfier height config (worker.py:158-164): per-tile p95 roof / p10
    ground of the z column. Normally expressed as a groupBy aggregate
    (see plans.spatial_gate.spatial_percentile_heights); provided as a
    worker for pipelines that need per-tile files."""
    z = pdf[config.get("z_col", "z")]
    return pd.DataFrame(
        {
            "tile_id": [tile_id],
            "roof_h": [z.quantile(0.95, interpolation="linear")],
            "ground_h": [z.quantile(0.10, interpolation="linear")],
        }
    )


def _example(tile_id: str, pdf: pd.DataFrame, config: dict):
    """Example worker (worker.py:60-78) minus the deliberate RAM burn."""
    if config.get("fail_tiles") and tile_id in config["fail_tiles"]:
        raise RuntimeError(f"simulated failure for {tile_id}")
    return pdf


def _subprocess_worker(tile_id: str, pdf: pd.DataFrame, config: dict):
    """The external-binary escape hatch — the reference's
    ``run_subprocess`` contract (worker.py:694-751: template a command
    per tile, launch, collect exit status) executed inside the Spark
    task that owns the tile group.

    - ``config['cmd']`` is an argv list; each element may use ``{tile}``.
    - The tile's rows stream in as CSV on stdin; stdout is the product.
    - **Idempotence**: output goes to ``out_dir/tile=<id>.out`` via
      write-temp + atomic rename, so a ``restarts`` retry (which runs
      right after the failure, in the same task) and a Spark task re-run
      overwrite rather than duplicate — the SURVEY §7 side-effect rule
      for subprocess workers.
    - Nonzero exit raises; run_worker_over_tiles converts that into a
      success=False status row, exactly like the reference's
      returncode!=0 → False.
    - **Resource monitoring** (reference worker.py:718-736): when
      ``config['monitor_dir']`` is set, a sampler polls the child's
      user/sys CPU time and RSS every ``config['monitor_interval']``
      seconds (from ``/proc/<pid>/stat`` — same numbers psutil reads)
      and writes the TSV layout ``recorder.parse_log`` consumes:
      ``timestamp  tile  pid  cpu_user  cpu_sys  rss``. One file per
      (tile, pid) under monitor_dir, so concurrent Spark tasks never
      contend on a shared append the way the reference's single-process
      logger could assume.
    """
    import os
    import subprocess
    import threading

    cmd = [c.format(tile=tile_id) for c in config["cmd"]]
    stdin_bytes = pdf.to_csv(index=False).encode("utf-8")
    timeout_s = config.get("timeout_s", 300)
    monitor_dir = config.get("monitor_dir")

    if monitor_dir is None:
        res = subprocess.run(
            cmd, input=stdin_bytes, capture_output=True, timeout=timeout_s
        )
        rc, stdout, stderr = res.returncode, res.stdout, res.stderr
    else:
        interval = float(config.get("monitor_interval", 1.0))
        proc = subprocess.Popen(
            cmd,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        samples: list[str] = []
        samples_lock = threading.Lock()
        stop = threading.Event()

        def _sample_once() -> bool:
            # /proc parsing is shared with the driver-side JobMonitor so
            # both monitor surfaces emit identical TSV semantics.
            import datetime

            from tile_processor_spark.pipeline.monitor import _proc_cpu_rss

            try:
                cpu_u, cpu_s, rss = _proc_cpu_rss(proc.pid)
            except (OSError, IndexError, ValueError):
                return False  # child exited and was reaped; /proc gone
            ts = datetime.datetime.now(datetime.timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S.%f"
            )
            with samples_lock:
                samples.append(
                    f"{ts}\t{tile_id}\t{proc.pid}\t{cpu_u}\t{cpu_s}\t{rss}"
                )
            return True

        def _sample_loop() -> None:
            # The reference polls in its main thread (it feeds no stdin);
            # here communicate() owns the pipes, so the sampler is a
            # daemon thread with the same cadence.
            while not stop.wait(interval):
                if not _sample_once():
                    break

        # First sample SYNCHRONOUSLY, before communicate() can reap the
        # child: a sub-interval command (reference worker.py:718-736
        # samples the same way) must still leave a monitoring row, and
        # the daemon thread's first poll races a fast exit.
        _sample_once()

        def _write_tsv() -> None:
            # Snapshot under the lock: if join() timed out (wedged /proc
            # read), the daemon thread may still be appending — without
            # the lock the final row could tear or drop.
            with samples_lock:
                rows = list(samples)
            if rows:
                os.makedirs(monitor_dir, exist_ok=True)
                mon_path = os.path.join(
                    monitor_dir, f"tile={tile_id}.pid={proc.pid}.tsv"
                )
                tmp = f"{mon_path}.tmp.{os.getpid()}"
                with open(tmp, "w") as f:
                    f.write("\n".join(rows) + "\n")
                os.replace(tmp, mon_path)

        sampler = threading.Thread(target=_sample_loop, daemon=True)
        sampler.start()
        try:
            stdout, stderr = proc.communicate(input=stdin_bytes, timeout=timeout_s)
        except subprocess.TimeoutExpired:
            # Mirror subprocess.run's kill-on-timeout: without this the
            # child would keep running on the executor after the tile is
            # marked failed, and retries would accumulate runaway
            # processes. Still write the partial TSV first — a
            # timed-out tile should leave monitoring evidence, it is the
            # tile you most want to post-mortem.
            proc.kill()
            proc.communicate()
            stop.set()
            sampler.join(timeout=5.0)
            _write_tsv()
            raise
        finally:
            stop.set()
            sampler.join(timeout=5.0)
        rc = proc.returncode
        _write_tsv()

    if rc != 0:
        raise RuntimeError(
            f"subprocess rc={rc} for tile {tile_id}: "
            f"{stderr.decode('utf-8', 'replace')[:300]}"
        )
    out_dir = config["out_dir"]
    path = os.path.join(out_dir, f"tile={tile_id}.out")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(stdout)
    os.replace(tmp, path)
    return pdf


def _alpha_shape_worker(tile_id: str, pdf: pd.DataFrame, config: dict):
    """AlphaShapeWorker (worker.py:587-610): per-tile alpha shape of the
    tile's x/y points — circumradius-filtered Delaunay triangles; returns
    the shape's exact stats (triangle count, area, boundary edges,
    perimeter)."""
    from tile_processor_spark.spatial import tin

    pts = pdf[[config.get("x_col", "x"), config.get("y_col", "y")]].to_numpy()
    stats = tin.alpha_shape(pts, float(config.get("r_max", 10.0)))
    return pd.DataFrame({"tile_id": [tile_id], **{k: [v] for k, v in stats.items()}})


def _tin_worker(tile_id: str, pdf: pd.DataFrame, config: dict):
    """Terrain TIN with simplification threshold (3dfier ``TIN`` lifting +
    ``simplification_tinsimp``, worker.py:288-293): greedy-insertion TIN
    over the tile's x/y/z samples until max vertical error ≤ threshold.
    Rows are sorted first so insertion order (and thus tie-breaking) is
    independent of shuffle order."""
    from tile_processor_spark.spatial import tin

    cols = [config.get("x_col", "x"), config.get("y_col", "y"), config.get("z_col", "z")]
    pts = pdf.sort_values(cols[:2], kind="mergesort")[cols].to_numpy()
    res = tin.tin_simplify(
        pts,
        max_error=float(config.get("max_error", 0.5)),
        max_points=config.get("max_points"),
    )
    return pd.DataFrame({"tile_id": [tile_id], **{k: [v] for k, v in res.items()}})


def _example_db(tile_id: str, pdf: pd.DataFrame, config: dict):
    """ExampleDb (worker.py:81-114): per-tile database write through the
    DSN contract. The observable behavior the reference tests pin is the
    DSN + per-tile relation name it hands the external tool; with no
    live PostgreSQL in the test rig this worker emits exactly those
    strings (DbOutput builds them verbatim) plus the row count that
    would be written — swap ``emit`` for ``DbOutput.write_jdbc`` against
    a real cluster."""
    from tile_processor_spark.pipeline.output import DbOutput, DbParams

    out = DbOutput(DbParams(**config["db"]), table=config.get("table"))
    relation = f"{config.get('table', 'tiles')}_{tile_id.lower()}"
    return pd.DataFrame(
        {
            "tile_id": [tile_id],
            "dsn": [out.with_table(relation)],
            "relation": [relation],
            "n_rows": [len(pdf)],
        }
    )


def _rasterise_worker(tile_id: str, pdf: pd.DataFrame, config: dict):
    """PCRasteriserWorker (worker.py:561-584): per-tile point-cloud
    rasterization — snap x/y to the cell grid, one row per non-empty
    cell with count and mean z (same cell math as the
    ``spatial_rasterize`` gate query, which pins it against DuckDB)."""
    cell = float(config.get("cell", 1.0))
    x0 = float(config.get("x0", 0.0))
    y0 = float(config.get("y0", 0.0))
    xcol = config.get("x_col", "x")
    ycol = config.get("y_col", "y")
    zcol = config.get("z_col", "z")
    g = pdf.assign(
        cx=((pdf[xcol] - x0) // cell).astype("int64"),
        cy=((pdf[ycol] - y0) // cell).astype("int64"),
    )
    agg = (
        g.groupby(["cx", "cy"], as_index=False)
        .agg(n=(zcol, "size"), z_sum=(zcol, "sum"))
        .assign(z_mean=lambda d: d["z_sum"] / d["n"], tile_id=tile_id)
    )
    return agg[["tile_id", "cx", "cy", "n", "z_mean"]]


def _ahn34_compare_worker(tile_id: str, pdf: pd.DataFrame, config: dict):
    """BR-AHN34-Compare (worker.py:441-509): per-tile comparison of two
    elevation versions — p95 height per version group and their delta,
    the drift check run after re-reconstruction on a newer point cloud."""
    vcol = config.get("version_col", "version")
    zcol = config.get("z_col", "z")
    v_old, v_new = config.get("versions", (3, 4))
    p = {
        v: pdf.loc[pdf[vcol] == v, zcol].quantile(0.95, interpolation="linear")
        for v in (v_old, v_new)
    }
    return pd.DataFrame(
        {
            "tile_id": [tile_id],
            "p95_old": [p[v_old]],
            "p95_new": [p[v_new]],
            "delta": [p[v_new] - p[v_old]],
        }
    )


register_worker("Example", _example)
register_worker("ExampleDb", _example_db)
register_worker("TileExporter", _exporter)
register_worker("PercentileHeights", _percentile_heights)
register_worker("Subprocess", _subprocess_worker)
register_worker("AlphaShape", _alpha_shape_worker)
register_worker("TIN", _tin_worker)
register_worker("PCRasterise", _rasterise_worker)
register_worker("BR-AHN34-Compare", _ahn34_compare_worker)
# Reference registry keys for the external-binary workers (worker.py:
# 754-763): both template a subprocess per tile — the escape hatch IS
# the analogue, under the names a reference user would look up.
register_worker("3dfier", _subprocess_worker)
register_worker("3dfierTIN", _tin_worker)
register_worker("BuildingReconstruction", _subprocess_worker)
