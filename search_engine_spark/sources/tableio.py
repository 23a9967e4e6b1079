"""Storage-layer adapter: parquet directories <-> Iceberg catalog tables.

The north_star input is "an Iceberg table of Common-Crawl-style pages";
this sandbox has no Iceberg runtime jar, so every operator reads/writes
through this seam instead of hard-coding either layout:

- :class:`ParquetIO` — ``<root>/<table>`` parquet directories (what the
  tests and the driver's ``/root/testdata/sf*`` fixtures use). Overwrite
  is the TRUNCATE+rebuild path (S7); upsert is read-modify-overwrite.
- :class:`IcebergIO` — ``<catalog>.<namespace>.<table>`` via the standard
  DataFrameWriterV2 / SQL surface: ``createOrReplace`` for S7,
  ``MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`` for the
  S3/S4/W6 insert-if-absent and upsert-by-url shapes, and snapshot reads
  (``VERSION AS OF``) for the incremental-refresh reader. Partitioning is
  declared with ``partitionedBy`` so term_bucket / cent_id layouts give
  the same directory-level pruning parquet ``partitionBy`` does.

Both sides expose the SAME five operations, so ``pipeline`` code is
storage-agnostic; :func:`table_io_for` picks the implementation from a
location string ("s3://…/warehouse" path -> parquet, "catalog.namespace"
-> Iceberg). The Iceberg branch's calls are the plain documented
Spark/Iceberg API, not a reimplementation, and every one of them —
including all three MERGE INTO variants — is EXECUTED by
``tests/test_tableio.py::test_iceberg_merge_roundtrip`` against a DSv2
catalog implementing the same row-level-operation contract as Iceberg's
SparkCatalog (``tests/java/RowLevelTestCatalog.java``); production
deployments additionally need the runtime jar + catalog conf
(``iceberg_available``).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the footer key under which Spark's parquet writer stores the DataFrame schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str) -> T.StructType:
    """The Spark schema the writer stored in the footer of the parquet file
    at ``path``: the value Spark's schema inference reads, without its job."""
    meta = pq.read_metadata(path).metadata
    return T.StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


def read_parquet(spark: SparkSession, path: str, schema_file: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the footer of
    ``schema_file``, one of its data files, so opening the DataFrame runs
    no Spark job. Spark appends the partition columns it finds in the
    directory names, as inference does."""
    return spark.read.schema(footer_schema(schema_file)).parquet(path)


def parquet_files(path: str) -> list[str]:
    """Data files of a parquet dir (partition subdirs included), relative
    to ``path`` and sorted."""
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when an Iceberg catalog of this name is configured AND the
    runtime jar is loadable in this JVM."""
    conf = f"spark.sql.catalog.{catalog}"
    try:
        if spark.conf.get(conf, None) is None:
            return False
    except Exception:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Operations every storage backend provides."""

    def exists(self, spark: SparkSession, table: str) -> bool:
        """True when the table has been created/written in this backend."""
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """TRUNCATE+rebuild (S7): atomically swap the table's contents.
        ``options`` are writer options (e.g. parquet settings)."""
        raise NotImplementedError

    def append(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def insert_if_absent(self, df: DataFrame, table: str, key: str) -> None:
        """S3: insert rows whose key is not already present."""
        raise NotImplementedError

    def upsert(self, df: DataFrame, table: str, key: str) -> None:
        """S4/W6: replace rows matching on key, insert the rest."""
        raise NotImplementedError

    def merge_columns(
        self, df: DataFrame, table: str, key: str, update_set: dict[str, str]
    ) -> None:
        """W6 column-merge upsert: on key match, each column in
        ``update_set`` is replaced by its SQL expression over aliases
        ``t`` (existing row) and ``s`` (incoming row) — e.g.
        ``COALESCE(NULLIF(s.title, ''), t.title)``; unmatched incoming
        rows insert. Used by the news article upsert so both backends
        share the reference's ON-CONFLICT merge semantics.

        Duplicate SOURCE keys resolve to an arbitrary row (dropDuplicates,
        matching upsert/insert_if_absent); when the in-batch fold order
        matters, pre-merge duplicates deterministically first (the news
        path does, via ``dedup_articles``)."""
        raise NotImplementedError


class ParquetIO(TableIO):
    """``<root>/<table>`` parquet directories — the sandbox/test backend.

    insert_if_absent / upsert are read-modify-overwrite: correct and
    simple, but they rewrite the table — at 100 TB use IcebergIO, whose
    MERGE INTO rewrites only matching files."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, spark: SparkSession, table: str) -> bool:
        path = self._path(table)
        return os.path.exists(path) and any(
            n.endswith(".parquet") or n == "_SUCCESS" for n in os.listdir(path)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The table, its schema taken from its first data file's footer.
        Spark's inference also reads a single file's schema (schema
        merging is off), but in a job of its own."""
        path = self._path(table)
        files = parquet_files(path)
        if not files:
            # no file, no footer: this only raises Spark's own error
            # (UNABLE_TO_INFER_SCHEMA, or PATH_NOT_FOUND with no directory)
            return spark.read.parquet(path)
        return read_parquet(spark, path, os.path.join(path, files[0]))

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        w = df.write.mode("overwrite").options(**(options or {}))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self._path(table))

    def insert_if_absent(self, df: DataFrame, table: str, key: str) -> None:
        spark = df.sparkSession
        incoming = df.dropDuplicates([key])
        if self.exists(spark, table):
            current = self.read(spark, table)
            merged = current.unionByName(
                incoming.join(current.select(key), key, "left_anti")
            )
        else:
            merged = incoming
        # overwrite of an input path needs a materialization barrier
        self.replace(merged.localCheckpoint(eager=True), table)

    def upsert(self, df: DataFrame, table: str, key: str) -> None:
        spark = df.sparkSession
        incoming = df.dropDuplicates([key])
        if self.exists(spark, table):
            current = self.read(spark, table)
            merged = current.join(incoming.select(key), key, "left_anti").unionByName(
                incoming
            )
        else:
            merged = incoming
        self.replace(merged.localCheckpoint(eager=True), table)

    def merge_columns(
        self, df: DataFrame, table: str, key: str, update_set: dict[str, str]
    ) -> None:
        """Read-modify-overwrite spelling of the MERGE: full outer join on
        the (non-null) key; matched rows evaluate ``update_set``
        expressions over aliases t/s, untouched columns keep t's value;
        unmatched incoming rows insert as-is. Equivalence with the
        news-article Column spelling is locked by
        tests/test_tableio.py::test_merge_columns_matches_upsert_articles."""
        spark = df.sparkSession
        incoming = df.dropDuplicates([key])
        if not self.exists(spark, table):
            self.replace(incoming, table)
            return
        current = self.read(spark, table)
        t_view, s_view = f"_mc_t_{table}", f"_mc_s_{table}"
        current.createOrReplaceTempView(t_view)
        incoming.createOrReplaceTempView(s_view)
        sel = [f"COALESCE(s.{key}, t.{key}) AS {key}"]
        for c in current.columns:
            if c == key:
                continue
            upd = update_set.get(c, f"t.{c}")
            sel.append(
                f"CASE WHEN s.{key} IS NOT NULL AND t.{key} IS NOT NULL "
                f"THEN {upd} WHEN s.{key} IS NOT NULL THEN s.{c} "
                f"ELSE t.{c} END AS {c}"
            )
        merged = spark.sql(
            f"SELECT {', '.join(sel)} FROM {t_view} t "
            f"FULL OUTER JOIN {s_view} s ON s.{key} = t.{key}"
        )
        self.replace(merged.localCheckpoint(eager=True), table)
        spark.catalog.dropTempView(t_view)
        spark.catalog.dropTempView(s_view)


class IcebergIO(TableIO):
    """``<catalog>.<namespace>.<table>`` through the standard Iceberg
    Spark surface. Requires the runtime jar + catalog conf
    (``iceberg_available``)."""

    def __init__(self, catalog: str, namespace: str) -> None:
        self.catalog = catalog
        self.namespace = namespace

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def exists(self, spark: SparkSession, table: str) -> bool:
        return spark.catalog.tableExists(self._ident(table))

    def read(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is not None:
            # incremental-refresh readers pin a snapshot for lineage
            return spark.read.option("snapshot-id", snapshot_id).table(
                self._ident(table)
            )
        return spark.read.table(self._ident(table))

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        w = df.writeTo(self._ident(table)).using("iceberg")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def append(self, df: DataFrame, table: str) -> None:
        df.writeTo(self._ident(table)).append()

    def _merge(self, df: DataFrame, table: str, key: str, update: bool) -> None:
        spark = df.sparkSession
        view = f"_merge_src_{table}"
        df.dropDuplicates([key]).createOrReplaceTempView(view)
        clauses = (
            "WHEN MATCHED THEN UPDATE SET * " if update else ""
        ) + "WHEN NOT MATCHED THEN INSERT *"
        spark.sql(
            f"MERGE INTO {self._ident(table)} t USING {view} s "
            f"ON t.{key} = s.{key} {clauses}"
        )
        spark.catalog.dropTempView(view)

    def insert_if_absent(self, df: DataFrame, table: str, key: str) -> None:
        self._merge(df, table, key, update=False)

    def upsert(self, df: DataFrame, table: str, key: str) -> None:
        self._merge(df, table, key, update=True)

    def merge_columns(
        self, df: DataFrame, table: str, key: str, update_set: dict[str, str]
    ) -> None:
        """MERGE INTO with an explicit per-column UPDATE SET — the
        file-level-rewrite path for the news article column merge. The
        update expressions are the SAME SQL strings ParquetIO.merge_columns
        evaluates, so both backends share one spelling of the semantics."""
        spark = df.sparkSession
        view = f"_merge_cols_src_{table}"
        df.dropDuplicates([key]).createOrReplaceTempView(view)
        set_clause = ", ".join(f"t.{c} = {expr}" for c, expr in update_set.items())
        spark.sql(
            f"MERGE INTO {self._ident(table)} t USING {view} s "
            f"ON t.{key} = s.{key} "
            f"WHEN MATCHED THEN UPDATE SET {set_clause} "
            f"WHEN NOT MATCHED THEN INSERT *"
        )
        spark.catalog.dropTempView(view)


def table_io_for(spark: SparkSession, location: str) -> TableIO:
    """Pick a backend from a location string: a path (contains '/' or
    exists on disk) -> ParquetIO rooted there; '<catalog>.<namespace>' ->
    IcebergIO (raises if the catalog/jar is not actually available)."""
    if "/" in location or os.path.exists(location):
        return ParquetIO(location)
    if "." in location:
        catalog, namespace = location.split(".", 1)
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"table_io_for: '{location}' looks like an Iceberg "
                f"catalog.namespace but catalog '{catalog}' is not "
                f"configured or the Iceberg runtime jar is absent"
            )
        return IcebergIO(catalog, namespace)
    return ParquetIO(location)
