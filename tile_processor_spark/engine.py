"""Library facade — the embedding API (SURVEY §3.3: the reference is
designed for library use, ``controller.factory.create(...) →
configure → run``; tests and workflow engines drive it directly).

One object wires session + config + tiles + workers + sinks:

    from tile_processor_spark import Engine
    eng = Engine.from_config("pipeline.yml")          # or Engine(spark, cfg)
    tiles = eng.tile_set(index_df)                    # selection API
    result = eng.run(data_df, worker="TileExporter",
                     tiles=["t1", "t2"], restarts=1)  # {'failed_tiles', 'nr_success'}
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tile_processor_spark.pipeline.config import parse_configuration
from tile_processor_spark.pipeline.processor import run_with_retry
from tile_processor_spark.pipeline.tiles import TileSet
from tile_processor_spark.session import get_spark


class Engine:
    """The reference's Controller lifecycle (construct → configure → run,
    controller.py:169-274) minus the N+1 queries: selection and matching
    are lazy DataFrame ops; ``run`` is the only action."""

    def __init__(self, spark: SparkSession | None = None, config: dict | None = None):
        self.spark = spark or get_spark()
        self.config: dict[str, Any] = config or {}

    @classmethod
    def from_config(
        cls, source: str | Path | dict, spark: SparkSession | None = None
    ) -> "Engine":
        return cls(spark=spark, config=parse_configuration(source))

    # --- data access -------------------------------------------------------

    def read(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def table(self, name: str, sf_dir: str | None = None) -> DataFrame:
        from tile_processor_spark.sources.tables import DEFAULT_SF_DIR, load_table

        return load_table(self.spark, name, sf_dir or DEFAULT_SF_DIR)

    def jdbc_options(
        self,
        section: str = "features",
        table: str | None = None,
        partition_column: str | None = None,
        num_partitions: int | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        fetchsize: int = 10_000,
    ) -> dict[str, str]:
        """S1's NATIVE form: the reference's primary scan is a PostgreSQL
        table opened from the config's ``database:`` block (db.py:23-41,
        controller.py:375-435); the engine's gate queries run the parquet
        format swap instead, but a user arriving from the reference wires
        the same bag3d-style YAML into a Spark JDBC scan here. Builds the
        complete ``spark.read.format("jdbc")`` option map WITHOUT
        connecting — dbtable comes from the section's schema/table, the
        partition column defaults to the section's ``field.pk`` (the same
        key the reference uses to split work), and explicit bounds are
        required for a partitioned read (Spark needs them; guessing via a
        MIN/MAX probe query would connect)."""
        db = self.config.get("database") or {}
        if not db.get("dbname"):
            raise ValueError("configuration has no database: block with dbname")
        sec = self.config.get(section) or {}
        url = (
            f"jdbc:postgresql://{db.get('host', 'localhost')}:"
            f"{db.get('port', 5432)}/{db['dbname']}"
        )
        dbtable = table
        if dbtable is None:
            if not sec.get("table"):
                raise ValueError(f"section {section!r} has no table")
            dbtable = (
                f"{sec['schema']}.{sec['table']}" if sec.get("schema") else sec["table"]
            )
        opts: dict[str, str] = {
            "url": url,
            "dbtable": dbtable,
            "driver": "org.postgresql.Driver",
            "fetchsize": str(fetchsize),
        }
        if db.get("user"):
            opts["user"] = str(db["user"])
        if db.get("password") is not None:
            opts["password"] = str(db["password"])
        pc = partition_column or (sec.get("field") or {}).get("pk")
        if num_partitions and not pc:
            # never silently degrade an explicitly-requested parallel
            # scan to one connection
            raise ValueError(
                f"num_partitions={num_partitions} requested but no partition "
                f"column: section {section!r} has no field.pk and no "
                "partition_column was given"
            )
        if pc and num_partitions:
            if lower_bound is None or upper_bound is None:
                raise ValueError(
                    "partitioned JDBC read needs lower_bound/upper_bound "
                    f"for column {pc!r}"
                )
            opts.update(
                partitionColumn=str(pc),
                numPartitions=str(num_partitions),
                lowerBound=str(lower_bound),
                upperBound=str(upper_bound),
            )
        return opts

    def read_jdbc(self, **kw: Any):
        """A ``DataFrameReader`` configured for the native JDBC scan —
        nothing connects until the caller ``.load()``s it."""
        return self.spark.read.format("jdbc").options(**self.jdbc_options(**kw))

    # --- tile pipeline -----------------------------------------------------

    def sql(self, query: str, sf_dir: str | None = None) -> DataFrame:
        """SQL over the engine tables: registers every table as a temp
        view (same names the DuckDB oracle uses), then runs the query."""
        from tile_processor_spark.sources.tables import DEFAULT_SF_DIR, register_views

        register_views(self.spark, sf_dir or DEFAULT_SF_DIR)
        return self.spark.sql(query)

    def tile_set(self, index: DataFrame, tile_col: str = "tile_id") -> TileSet:
        return TileSet(index, tile_col=tile_col)

    def ahn_tile_set(
        self,
        elevation_index: DataFrame,
        feature_index: DataFrame | None = None,
        borders: DataFrame | None = None,
    ):
        """DbTilesAHN surface: versions() / version_boundary() /
        version_not_boundary() / configure(version=..., on_border=...)
        (tileconfig.py:255-393, 500-598)."""
        from tile_processor_spark.pipeline.tiles import AhnTileSet

        return AhnTileSet(
            elevation_index, feature_index=feature_index, borders=borders
        )

    def run(
        self,
        data: DataFrame,
        worker: str,
        tiles: list[str] | None = None,
        config: dict | None = None,
        restarts: int = 0,
        tile_col: str = "tile_id",
    ) -> dict:
        """configure + run in one call; result keeps the reference contract
        {'failed_tiles': [...], 'nr_success': n} (processor.py:125)."""
        data = self.tile_set(data.select(tile_col), tile_col).restrict(data, tiles)
        merged = {**self.config.get("worker", {}), **(config or {})}
        return run_with_retry(data, worker, merged, restarts=restarts, tile_col=tile_col)

    # --- library operators -------------------------------------------------

    def connected_components(
        self, edges: DataFrame, algorithm: str = "star"
    ) -> DataFrame:
        """(node, component) over an edge frame with long columns (a, b).
        ``star`` = large-star/small-star (O(log² n) rounds, any graph
        shape — plans/cc_star.py); near-dup clustering over the corpus
        tables is the registered ``dedup_connected_components`` query."""
        if algorithm != "star":
            raise ValueError(f"unknown CC algorithm {algorithm!r}")
        from tile_processor_spark.plans.cc_star import connected_components_star

        return connected_components_star(edges)

    def write_zordered(
        self, df: DataFrame, path: str, xi_col: str, yi_col: str, **kw: Any
    ) -> None:
        """Z-order-clustered parquet write (sources/layout.py): bbox
        scans prune whole files via min/max stats."""
        from tile_processor_spark.sources.layout import write_zordered

        write_zordered(df, path, xi_col, yi_col, **kw)

    def dedup_probe(
        self, bands_table: str, new_docs: DataFrame, sig_table: str | None = None
    ) -> DataFrame:
        """Incremental near-dup candidates: a new ingest batch against
        the materialized band index (docs/SCALE.md §2.1). With
        ``sig_table`` (the (doc_id, sig) table built alongside the
        index), candidates are screened by signature-agreement estimate
        before they reach exact verify — the mega-bucket defense."""
        from tile_processor_spark.plans.llm_ops import (
            incremental_band_candidates,
            incremental_screened_candidates,
        )

        if sig_table is not None:
            return incremental_screened_candidates(
                self.spark, bands_table, sig_table, new_docs
            )
        return incremental_band_candidates(self.spark, bands_table, new_docs)

    def curate(self, sf_dir: str, out_path: str) -> DataFrame:
        """Run the full curation pipeline (corpus_curation_manifest:
        fuzzy dedup → quality filter → split/shard keys) and write the
        training layout: ``partitionBy(split, shard)``, rows sorted by
        ``pos_key`` inside each file so a loader streams each shard as a
        pre-shuffled sequence. Returns the manifest frame."""
        from tile_processor_spark.plans.pipeline_ops import corpus_curation_manifest

        manifest = corpus_curation_manifest(self.spark, sf_dir)
        (
            manifest.repartition("split", "shard")
            # Partition columns lead the sort: the file writer requires
            # rows grouped by (split, shard) and would re-sort on just
            # those columns otherwise, destroying the pos_key order the
            # loader depends on. With them first, one sort serves both.
            .sortWithinPartitions("split", "shard", "pos_key", "doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("split", "shard")
            .parquet(out_path)
        )
        return manifest

    def merge_rollup(self, batch: DataFrame, store_path: str) -> None:
        """Merge a batch of raw events into the hour-grain continuous
        aggregate store (streaming/rollup.py; O(touched hours))."""
        from tile_processor_spark.streaming.rollup import merge_batch_into_rollup

        merge_batch_into_rollup(batch, store_path)

    def compact(
        self, path: str, partition_col: str | None = None, **kw: Any
    ) -> dict:
        """Small-file compaction (sources/maintenance.py): whole dir, or
        surgical per-partition when ``partition_col`` is given."""
        from tile_processor_spark.sources.maintenance import (
            compact_dir,
            compact_partitioned,
        )

        if partition_col is None:
            return compact_dir(self.spark, path, **kw)
        return compact_partitioned(self.spark, path, partition_col, **kw)

    def commit_snapshot(
        self,
        df: DataFrame,
        table_path: str,
        partition_by: list[str] | None = None,
    ) -> int:
        """Commit ``df`` as the next version of a manifest-pinned
        snapshot table (sources/snapshots.py); returns the version.
        ``partition_by`` lays data out Hive-style so later reads can
        prune whole files from the manifest."""
        from tile_processor_spark.sources.snapshots import write_snapshot

        return write_snapshot(df, table_path, partition_by=partition_by)

    def read_table_snapshot(
        self,
        table_path: str,
        version: int | None = None,
        partition_filter: dict[str, object] | None = None,
        as_of=None,
    ) -> DataFrame:
        """Read a committed snapshot version (default latest) — time
        travel for corpus/dimension reproducibility, by version number
        or AS-OF timestamp (``as_of``: epoch / datetime / ISO string).
        ``partition_filter`` prunes files at the manifest (partitioned
        versions only)."""
        from tile_processor_spark.sources.snapshots import read_snapshot

        return read_snapshot(
            self.spark, table_path, version,
            partition_filter=partition_filter, as_of=as_of,
        )

    def delete_from_snapshot(
        self, table_path: str, where: list[tuple]
    ) -> int:
        """Row-level DELETE on a snapshot table (``DELETE FROM t WHERE
        ...``): copy-on-write, stats-pruned (untouched files carry by
        reference), read-version conflict-detected — the GDPR/
        compliance primitive (sources/snapshots.py delete_snapshot)."""
        from tile_processor_spark.sources.snapshots import delete_snapshot

        return delete_snapshot(self.spark, table_path, where)

    # --- capability registry ----------------------------------------------

    def queries(self) -> dict:
        from tile_processor_spark.plans.registry import all_specs

        return all_specs()

    def query(self, name: str, sf_dir: str | None = None) -> DataFrame:
        from tile_processor_spark.sources.tables import DEFAULT_SF_DIR

        spec = self.queries()[name]
        return spec.spark_fn(self.spark, sf_dir or DEFAULT_SF_DIR)
