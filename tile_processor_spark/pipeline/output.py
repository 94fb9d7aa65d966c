"""Output wiring — DirOutput / DbOutput / Output (S8/S9;
tile_processor/output.py:25-133, behavioral contract pinned by
tests/test_output.py:40-75).

The engine writes parquet datasets; the GDAL ``PG:`` DSN builder is kept
for interop with external per-tile tools, and a JDBC URL builder covers
Spark's own database sink path.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


class DirOutput:
    """Directory sink: creates the directory on assignment, joins
    per-tile paths (output.py:25-54)."""

    def __init__(self, path: str | Path):
        self.path = path

    @property
    def path(self) -> Path:
        return self.__path

    @path.setter
    def path(self, value: str | Path) -> None:
        abs_p = Path(value).absolute()
        abs_p.mkdir(parents=True, exist_ok=True)
        self.__path = abs_p

    def join_path(self, sub: str) -> Path:
        return self.path / sub

    def write_partitioned(self, df: DataFrame, tile_col: str = "tile_id") -> None:
        """The Spark-native form of per-tile output: one directory per
        tile via partitionBy — tile filters then prune files.

        Dynamic partition overwrite (a per-write option, not a session
        mutation) replaces ONLY the tile partitions present in ``df``, so
        a rerun is overwrite-by-tile: writing a subset of tiles again (a
        rerun of the failed tiles, as the reference's retry loop does at
        processor.py:89-125) must not wipe the other tiles' completed
        output, which static overwrite would do at any scale.
        ``run_with_retry`` itself retries inside the fan-out task, right
        after the failure, and writes nothing here."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(tile_col)
            .parquet(str(self.path))
        )


@dataclass
class DbParams:
    dbname: str
    host: str = "localhost"
    port: int = 5432
    user: str = ""
    password: str | None = None
    schema: str | None = None


class DbOutput:
    """Database sink descriptor (output.py:57-133): builds the GDAL
    ``PG:`` DSN used by external tools, and the JDBC URL/properties used
    by ``df.write.jdbc``."""

    def __init__(self, params: DbParams, table: str | None = None):
        self.params = params
        self.schema = params.schema
        self.table = table

    def _base(self) -> str:
        p = self.params
        parts = [f"PG:dbname={p.dbname}", f"host={p.host}", f"port={p.port}", f"user={p.user}"]
        if p.password is not None:
            parts.append(f"password={p.password}")
        return " ".join(parts)

    @property
    def dsn(self) -> str:
        out = self._base()
        if self.schema:
            out += f" schemas={self.schema}"
        if self.table:
            out += f" tables={self.table}"
        return out

    def dsn_no_relation(self) -> str:
        """DSN without schema/table specifiers (output.py:110-124)."""
        return self._base()

    def with_table(self, table: str) -> str:
        """DSN with the tables field set/replaced (output.py:126-133)."""
        base = self.dsn
        i = base.find(" tables=")
        if i >= 0:
            base = base[:i]
        return f"{base} tables={table}"

    # --- Spark-native sink -------------------------------------------------

    @property
    def jdbc_url(self) -> str:
        p = self.params
        return f"jdbc:postgresql://{p.host}:{p.port}/{p.dbname}"

    def write_jdbc(self, df: DataFrame, table: str, mode: str = "append") -> None:
        p = self.params
        qualified = f"{self.schema}.{table}" if self.schema else table
        props = {"user": p.user, "driver": "org.postgresql.Driver"}
        if p.password is not None:
            props["password"] = p.password
        df.write.jdbc(self.jdbc_url, qualified, mode=mode, properties=props)


@dataclass
class Output:
    """Pair of sinks handed to workers (output.py / tests/test_output.py:64-75)."""

    dir: DirOutput | None = None
    db: DbOutput | None = None
