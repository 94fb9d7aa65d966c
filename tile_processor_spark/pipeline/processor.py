"""Fan-out + failure collection + bounded retry — the reference's
``ThreadProcessor`` (tile_processor/processor.py:89-149) with Spark's
scheduler in place of the thread pool.

Result contract preserved exactly: ``{'failed_tiles': [...],
'nr_success': n}`` (processor.py:125). Retries (``--restart``,
cli.py:66-71) run inside the fan-out task that holds the tile's rows,
right after the failure rather than after the round, so the whole call
is one Spark query; Spark's own task-attempt retries sit on top of that.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from tile_processor_spark.pipeline.workers import run_worker_over_tiles

log = logging.getLogger(__name__)


def run_with_retry(
    data: DataFrame,
    worker_key: str,
    config: dict | None = None,
    restarts: int = 0,
    tile_col: str = "tile_id",
) -> dict:
    """Run ``worker_key`` over every tile group in ``data``, each failed
    tile retried up to ``restarts`` times (processor.py:106-123).

    Logs one record per call; its ``tile_run`` attribute holds the
    worker key, the number of tiles run and the failed and retried
    (more than one attempt) tile IDs.
    """
    status = run_worker_over_tiles(
        data, worker_key, config, tile_col, restarts=restarts
    ).collect()
    failed = sorted(r.tile_id for r in status if not r.success)
    retried = sorted(r.tile_id for r in status if r.attempts > 1)
    log.log(
        logging.WARNING if failed else logging.INFO,
        "worker %s: %d tiles run, %d failed %s, %d retried %s",
        worker_key, len(status), len(failed), failed, len(retried), retried,
        extra={"tile_run": {"worker": worker_key, "tiles": len(status),
                            "failed": failed, "retried": retried}},
    )
    return {"failed_tiles": failed, "nr_success": len(status) - len(failed)}
