"""Keyed-table catalog with insert-if-absent MERGE semantics.

The reference adds to an existing Neo4j store keyed on STIX id: "If the
database already exists, the data will be added to it" (reference
README.md:75).  That is the one write rule every caller uses: a source row
whose key the table already holds is dropped, a new key is inserted, and
replaying a batch changes nothing.  Two backends implement it:

- ``ParquetMergeCatalog`` (the one the pipeline and the stream sink use):
  read-merge-overwrite, where the existing row wins a key.  Every write
  goes to a staging dir and is then swapped in, so a failed job never
  corrupts the table.
- ``IcebergCatalog``: ``MERGE INTO t USING s ON t.<key> = s.<key> WHEN NOT
  MATCHED THEN INSERT *``.  ``get_catalog`` would pick it when an Iceberg
  catalog is configured, but ``get_catalog`` has no caller today, so
  ``IcebergCatalog`` is reached only by its stub tests.

Both expose the same interface: whole-table writes (``overwrite``,
``merge_upsert``), bucket- and partition-scoped writes for the streaming
sink (``merge_upsert_bucketed``, ``overwrite_partition``), their reads, and
a row ledger for driver-side bookkeeping (``append``, ``read_rows``).  On
the parquet backend the ledger runs no Spark job: each ``append`` is one
parquet file written by pyarrow and renamed into the table dir.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# The footer key under which Spark's parquet writer stores the row schema.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class ParquetMergeCatalog:
    """MERGE-INTO-faithful parquet tables under a warehouse dir.

    Idempotence contract (tested): merging the same batch twice yields a
    byte-identical table.

    Every read hands the reader the Spark schema stored in the footer of
    one of the table's data files, read with pyarrow, so a read runs no
    schema-inference job — whichever catalog instance wrote the table (a
    resumed run's stages, the existing side of an append run's MERGE, the
    buckets a stream merge rewrites).  Only files without that schema
    (pyarrow's own) infer.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _staging(self, *parts: str) -> str:
        """All tmp/old dirs live under ``<warehouse>/_staging`` — OUTSIDE
        every table dir and behind a ``_`` prefix, so neither partition
        discovery nor a ``table/*`` glob can ever read a half-written or
        superseded copy.  (Round 1 staged ``bucket=N.tmp-xxxx`` INSIDE the
        table dir: a kill mid-write left dirs that Hive partition
        discovery happily parsed as ``bucket='N.tmp-xxxx'`` — a resumed
        run silently read duplicated/stale rows.)"""
        p = os.path.join(self.warehouse, "_staging", *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def sweep_staging(self, tables: list[str] | None = None) -> None:
        """Drop leftovers of killed writers.  Safe at the start of any
        resumed run: staging holds only (a) writes that never got renamed
        into place — their checkpoint row was never marked done, so the
        stage re-runs — and (b) superseded old copies awaiting delete.

        ``tables``: sweep only the staging entries of these tables (the
        caller's own), so a resumed batch run cannot delete an in-flight
        tmp dir of a CONCURRENT writer sharing the warehouse (e.g. the
        streaming merge sink).  ``None`` sweeps everything — only safe
        under single-writer-per-warehouse.
        """
        root = os.path.join(self.warehouse, "_staging")
        if tables is None:
            shutil.rmtree(root, ignore_errors=True)
            return
        for t in tables:
            # partition-level staging and unrenamed ledger files live under
            # _staging/<table>/..., whole-table staging as
            # _staging/<table>.tmp-<hex>
            shutil.rmtree(os.path.join(root, t), ignore_errors=True)
            if os.path.isdir(root):
                for entry in os.listdir(root):
                    if entry.startswith(t + ".tmp-"):
                        shutil.rmtree(os.path.join(root, entry), ignore_errors=True)

    def exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self._path(table), "_SUCCESS"))

    def read(self, table: str) -> DataFrame:
        return self._read_dir(self._path(table))

    def _read_dir(self, path: str) -> DataFrame:
        """Read a parquet dir with the schema from a data file's footer;
        partition columns (``bucket=K`` subdirs) are discovered and
        appended as usual."""
        schema = _footer_schema(path)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def overwrite(self, table: str, df: DataFrame) -> None:
        self._swap_in(df, self._path(table), self._staging(table))

    def merge_upsert(self, table: str, source: DataFrame, key_col: str) -> None:
        """Insert the rows of ``source`` whose ``key_col`` the table does
        not hold yet.

        Equivalent Iceberg SQL:
            MERGE INTO t USING s ON t.key = s.key
            WHEN NOT MATCHED THEN INSERT *
        """
        src = source.dropDuplicates([key_col])
        if self.exists(table):
            src = _insert_if_absent(self.read(table), src, key_col)
        self._swap_in(src, self._path(table), self._staging(table))

    def append(self, table: str, rows: list[tuple], schema: str) -> None:
        """Append driver rows (``schema`` is a DDL string) to a ledger table
        with zero Spark jobs: pyarrow writes them as one parquet file under
        ``_staging/<table>/``, which is then renamed into the table dir.  A
        kill before the rename leaves the file in staging, where
        ``sweep_staging`` drops it unread."""
        struct = StructType.fromDDL(schema)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = self._staging(table, name)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
            ),
            tmp,
        )
        final = self._path(table)
        os.makedirs(final, exist_ok=True)
        os.rename(tmp, os.path.join(final, name))
        if not self.exists(table):
            open(os.path.join(final, "_SUCCESS"), "w").close()

    def read_rows(self, table: str, columns: list[str]) -> list[dict]:
        """``columns`` of every row of a ledger table, read on the driver
        with pyarrow (zero Spark jobs); ledger files Spark wrote read the
        same way.  A missing table has no rows."""
        if not self.exists(table):
            return []
        return pq.read_table(self._path(table), columns=columns).to_pylist()

    def merge_upsert_bucketed(
        self, table: str, source: DataFrame, key_col: str, n_buckets: int = 16
    ) -> None:
        """MERGE with BOUNDED I/O: the table lives as ``bucket=K`` hash
        partitions of the key; a merge rewrites only the buckets the
        source batch touches.  This is the parquet stand-in for Iceberg's
        partition-pruned MERGE INTO on a ``bucket(N, key)`` spec — the
        plain ``merge_upsert`` re-reads and rewrites the WHOLE table per
        call, which under a streaming foreachBatch sink (one merge per
        micro-batch) is quadratic total I/O over the stream's life.

        Touched-bucket discovery is a distinct over the small bucket-id
        domain (≤ n_buckets rows collected); each touched bucket then
        merges and swaps independently via overwrite_partition.
        """
        src = source.dropDuplicates([key_col]).withColumn(
            "_bucket", F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
        )
        src.persist()
        try:
            touched = sorted(
                r["_bucket"] for r in src.select("_bucket").distinct().collect()
            )
            for b in touched:
                part = f"bucket={b}"
                batch = src.where(F.col("_bucket") == b).drop("_bucket")
                if self.partition_exists(table, part):
                    existing = self._read_dir(os.path.join(self._path(table), part))
                    batch = _insert_if_absent(existing, batch, key_col)
                self.overwrite_partition(table, part, batch)
        finally:
            src.unpersist()

    def read_bucketed(self, table: str) -> DataFrame:
        """Read a table maintained by merge_upsert_bucketed (drops the
        physical bucket column)."""
        return self.read_partitioned(table).drop("bucket")

    def overwrite_partition(self, table: str, partition: str, df: DataFrame) -> None:
        """Write one hive-style partition dir (e.g. ``bucket=3``) atomically;
        other partitions untouched — the parquet stand-in for Iceberg's
        partition-scoped overwrite.  Staged outside the table dir (see
        ``_staging``) so a kill at any point leaves the table readable:
        either the old partition intact, or — in the instant between the
        two renames — the partition absent, which the checkpoint layer
        treats as not-done and re-runs."""
        final = os.path.join(self._path(table), partition)
        self._swap_in(df, final, self._staging(table, partition))

    def partition_exists(self, table: str, partition: str) -> bool:
        return os.path.exists(os.path.join(self._path(table), partition, "_SUCCESS"))

    def read_partitioned(self, table: str) -> DataFrame:
        """Read a table written via overwrite_partition: the partition
        values come back as columns (no table-level _SUCCESS marker)."""
        return self._read_dir(self._path(table))

    def _swap_in(self, df: DataFrame, final: str, staged: str) -> None:
        """Write ``df`` to a fresh staging dir ``<staged>.tmp-<hex>``, then
        swap it in for ``final``: the old copy is renamed away, the new one
        renamed in, and the old one deleted."""
        tmp = f"{staged}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        if os.path.exists(final):
            old = tmp + ".old"
            os.rename(final, old)
            os.rename(tmp, final)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, final)


def _insert_if_absent(existing: DataFrame, source: DataFrame, key_col: str) -> DataFrame:
    """The merged table: every ``existing`` row, plus the ``source`` rows
    whose key ``existing`` lacks (``source`` is already deduplicated on
    ``key_col``)."""
    tagged = existing.withColumn("_prio", F.lit(0)).unionByName(
        source.withColumn("_prio", F.lit(1))
    )
    w = Window.partitionBy(key_col).orderBy(F.col("_prio").asc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema in the footer of the first data file in ``path``
    or, for a partitioned table, one ``bucket=K`` level down (Spark writes
    one data file, with the schema, even for an empty frame); None when
    there is no data file or its writer stored none."""
    for pattern in ("[!_.]*", "[!_.]*/[!_.]*"):
        for f in sorted(glob.glob(os.path.join(glob.escape(path), pattern))):
            if os.path.isfile(f):
                stored = (pq.read_schema(f).metadata or {}).get(SPARK_SCHEMA_KEY)
                return StructType.fromJson(json.loads(stored)) if stored else None
    return None


class IcebergCatalog:
    """Real Iceberg backend — activates when an Iceberg catalog is
    configured on the session.  FULL ``ParquetMergeCatalog`` interface
    (the pipeline and the streaming sink can swap backends without code
    change); tables are ``<namespace>.<name>`` in the configured catalog,
    partitioned by ``bucket(256, key)`` at creation (``create_table_ddl``).

    No Iceberg runtime jar exists in this sandbox, so these paths cannot
    EXECUTE here; every SQL string this class emits is covered by the
    parse-smoke in tests/test_catalog.py (captured via a stubbed session,
    run through the real Spark SQL parser), so at least syntax drift is
    caught.  The bucketed/partition-scoped members exist on the parquet
    backend only to BOUND I/O — Iceberg's MERGE INTO is already pruned to
    the touched ``bucket(N, key)`` partitions by the table spec, so here
    they delegate to the plain forms."""

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.namespace = namespace

    @staticmethod
    def create_table_ddl(
        namespace: str, table: str, schema_ddl: str, key_col: str, n_buckets: int = 256
    ) -> str:
        """The creation DDL the pipeline's deploy step runs once per table:
        hash-bucketed on the merge key so MERGE INTO shuffles land on the
        write distribution and rewrite only touched buckets."""
        return (
            f"CREATE TABLE IF NOT EXISTS {namespace}.{table} ({schema_ddl}) "
            f"USING iceberg PARTITIONED BY (bucket({n_buckets}, {key_col}))"
        )

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(f"{self.namespace}.{table}")

    def read(self, table: str) -> DataFrame:
        return self.spark.read.table(f"{self.namespace}.{table}")

    # bucketing is a physical property of the Iceberg table, invisible to
    # readers — the partitioned/bucketed read forms are the plain read
    def read_partitioned(self, table: str) -> DataFrame:
        return self.read(table)

    def read_bucketed(self, table: str) -> DataFrame:
        return self.read(table)

    def merge_upsert(self, table: str, source: DataFrame, key_col: str) -> None:
        view = f"_merge_src_{table}"
        source.dropDuplicates([key_col]).createOrReplaceTempView(view)
        self.spark.sql(
            f"MERGE INTO {self.namespace}.{table} t USING {view} s "
            f"ON t.{key_col} = s.{key_col} WHEN NOT MATCHED THEN INSERT *"
        )

    def merge_upsert_bucketed(
        self, table: str, source: DataFrame, key_col: str, n_buckets: int = 16
    ) -> None:
        """Iceberg's MERGE is partition-pruned by the ``bucket(N, key)``
        table spec — the engine itself rewrites only touched buckets, so
        the explicit bucket loop of the parquet backend is unnecessary."""
        self.merge_upsert(table, source, key_col)

    def overwrite(self, table: str, df: DataFrame) -> None:
        df.writeTo(f"{self.namespace}.{table}").createOrReplace()

    def overwrite_partition(self, table: str, partition: str, df: DataFrame) -> None:
        """Partition-scoped replace: INSERT OVERWRITE in Iceberg's dynamic
        mode replaces exactly the partitions present in the source — the
        ``partition`` arg (e.g. ``bucket=3``) is implicit in the rows, kept
        for interface parity with the parquet backend."""
        view = f"_overwrite_src_{table}"
        df.createOrReplaceTempView(view)
        self.spark.sql(
            f"INSERT OVERWRITE {self.namespace}.{table} SELECT * FROM {view}"
        )

    def append(self, table: str, rows: list[tuple], schema: str) -> None:
        self.spark.createDataFrame(rows, schema).writeTo(f"{self.namespace}.{table}").append()

    def read_rows(self, table: str, columns: list[str]) -> list[dict]:
        if not self.exists(table):
            return []
        return [r.asDict() for r in self.read(table).select(*columns).collect()]

    def sweep_staging(self, tables: list[str] | None = None) -> None:
        """No-op: Iceberg commits are snapshot-atomic — there is no
        filesystem staging to sweep (orphan-file cleanup is a table
        maintenance procedure, not a reader-correctness concern)."""


def get_catalog(spark: SparkSession, warehouse: str):
    """Pick the backend: Iceberg when a spark catalog is configured with an
    Iceberg implementation, else the parquet MERGE fallback."""
    impl = spark.conf.get("spark.sql.catalog.kg", None)
    if impl:
        return IcebergCatalog(spark, "kg")
    return ParquetMergeCatalog(spark, warehouse)
