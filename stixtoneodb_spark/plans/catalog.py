"""Keyed-table catalog with insert-if-absent MERGE semantics.

The reference adds to an existing Neo4j store keyed on STIX id: "If the
database already exists, the data will be added to it" (reference
README.md:75).  That is the one write rule every caller uses: a source row
whose key the table already holds is dropped, a new key is inserted, and
replaying a batch changes nothing.  Two backends implement it:

- ``ParquetMergeCatalog`` (the one the pipeline and the stream sink use):
  a ``left_anti`` join of the source against the existing keys, so the
  existing row wins a key.  ``merge_upsert`` rewrites the whole table (the
  existing rows plus the new ones) through a staging dir and swaps it in.
  ``merge_upsert_bucketed`` is insert-only: it scans just the key column
  of the table, writes only the new rows, one file per touched
  ``bucket=K`` dir, in one write, and renames each file into its bucket, so
  a replayed batch writes nothing.  Either way a failed job never
  corrupts the table.
- ``IcebergCatalog``: ``MERGE INTO t USING s ON t.<key> = s.<key> WHEN NOT
  MATCHED THEN INSERT *``.  ``get_catalog`` would pick it when an Iceberg
  catalog is configured, but ``get_catalog`` has no caller today, so
  ``IcebergCatalog`` is reached only by its stub tests.

Both expose the same interface: whole-table writes (``overwrite``,
``merge_upsert``), bucket- and partition-scoped writes for the streaming
sink and the bucketed ingest (``merge_upsert_bucketed``,
``overwrite_partition``), their reads, and
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# The footer key under which Spark's parquet writer stores the row schema.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Compaction bound of a bucketed table: a merge rewrites a bucket it
# touched as one file once the bucket holds more data files than this.
BUCKET_MAX_FILES = 8

# The codec of the bucket files merge_upsert_bucketed writes.  The hex
# content keys that make up most of a mention row do not compress under
# snappy; zstd stores them in about two thirds of the bytes.
BUCKET_CODEC = "zstd"


class ParquetMergeCatalog:
    """MERGE-INTO-faithful parquet tables under a warehouse dir.

    Idempotence contract (tested): merging the same batch twice yields a
    byte-identical table.

    Every read hands the reader the Spark schema stored in the footer of
    one of the table's data files, read with pyarrow, so a read runs no
    schema-inference job — whichever catalog instance wrote the table (a
    resumed run's stages, the existing side of an append run's MERGE, the
    key column a stream merge scans).  Only files without that schema
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
        stage re-runs — and (b) old copies that ``_swap_in`` renamed away.

        An old copy whose target is absent is what a swap killed between
        its two renames left: it is renamed back into place, so the table
        (or partition) reads as before the killed write, which then re-runs.
        An old copy whose target exists is superseded and deleted.

        ``tables``: sweep only the staging entries of these tables (the
        caller's own), so a resumed batch run cannot delete an in-flight
        tmp dir of a CONCURRENT writer sharing the warehouse (e.g. the
        streaming merge sink).  ``None`` sweeps everything — only safe
        under single-writer-per-warehouse.
        """
        root = os.path.join(self.warehouse, "_staging")
        if not os.path.isdir(root):
            return
        names = tables
        if names is None:
            names = {entry.split(".tmp-")[0] for entry in os.listdir(root)}
        for t in names:
            # whole-table staging lives as _staging/<table>.tmp-<hex>[.old];
            # partition-level staging and unrenamed ledger files under
            # _staging/<table>/, a partition's old copy as
            # <partition>.tmp-<hex>.old
            whole = [e for e in os.listdir(root) if e.startswith(t + ".tmp-")]
            olds = [(os.path.join(root, e), self._path(t)) for e in whole if e.endswith(".old")]
            parts = os.path.join(root, t)
            if os.path.isdir(parts):
                olds += [
                    (os.path.join(parts, e), os.path.join(self._path(t), e.split(".tmp-")[0]))
                    for e in os.listdir(parts)
                    if e.endswith(".old")
                ]
            for old, target in olds:
                if not os.path.exists(target):
                    os.rename(old, target)
            shutil.rmtree(parts, ignore_errors=True)
            for e in whole:
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)
        if tables is None:
            shutil.rmtree(root, ignore_errors=True)

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
            existing = self.read(table)
            src = existing.unionByName(_absent(src, existing, [key_col]))
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
        """Insert-only MERGE into a table kept as ``bucket=K`` hash
        partitions of the key: the parquet stand-in for Iceberg's MERGE
        INTO on a ``bucket(N, key)`` spec.  Under a streaming foreachBatch
        sink (one merge per micro-batch) its I/O per batch is the new rows
        written plus the table's key column scanned; no existing row is
        rewritten.

        One write, whatever the number of buckets: the deduplicated source,
        keyed with its ``bucket``, is ``left_anti``-joined against the
        ``(key, bucket)`` columns of the table and written partitioned by
        bucket into staging, one file per touched bucket.  Each new file is
        then renamed into its bucket dir.
        A replayed batch finds every key present and writes no file; a kill
        between renames leaves a readable table, and the replay inserts the
        rows that are still missing.  A touched bucket holding more than
        ``BUCKET_MAX_FILES`` data files is compacted into one.
        """
        src = source.dropDuplicates([key_col]).withColumn(
            "bucket", F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
        )
        final = self._path(table)
        if _footer_schema(final) is not None:
            src = _absent(src, self._read_dir(final), [key_col, "bucket"])
        tmp = f"{self._staging(table, 'insert')}.tmp-{uuid.uuid4().hex[:8]}"
        src.repartition("bucket").write.partitionBy("bucket").parquet(
            tmp, compression=BUCKET_CODEC
        )
        for part in sorted(os.listdir(tmp)):
            if not part.startswith("bucket="):
                continue
            bucket_dir = os.path.join(final, part)
            os.makedirs(bucket_dir, exist_ok=True)
            # data files before their hidden .crc files, so a kill between
            # renames leaves no checksum without its file
            staged = os.path.join(tmp, part)
            for name in sorted(os.listdir(staged), key=lambda n: n.startswith(".")):
                os.rename(os.path.join(staged, name), os.path.join(bucket_dir, name))
            if not os.path.exists(os.path.join(bucket_dir, "_SUCCESS")):
                open(os.path.join(bucket_dir, "_SUCCESS"), "w").close()
            if len(glob.glob(os.path.join(glob.escape(bucket_dir), "[!_.]*"))) > BUCKET_MAX_FILES:
                self._swap_in(
                    self._read_dir(bucket_dir).coalesce(1),
                    bucket_dir,
                    self._staging(table, part),
                    compression=BUCKET_CODEC,
                )
        shutil.rmtree(tmp, ignore_errors=True)

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

    def _swap_in(
        self, df: DataFrame, final: str, staged: str, compression: str | None = None
    ) -> None:
        """Write ``df`` to a fresh staging dir ``<staged>.tmp-<hex>``, then
        swap it in for ``final``: the old copy is renamed away to
        ``<staged>.tmp-<hex>.old``, the new one renamed in, and the old one
        deleted.  A kill between the two renames leaves ``final`` absent and
        the old copy in staging; ``sweep_staging`` renames it back."""
        tmp = f"{staged}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp, compression=compression)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        if os.path.exists(final):
            old = tmp + ".old"
            os.rename(final, old)
            os.rename(tmp, final)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, final)


def _absent(source: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """The ``source`` rows whose ``keys`` ``existing`` lacks (a null key
    matches a null key), in ``source``'s own column order: a using-join
    would move the key columns first, and every file of a table must carry
    the same footer schema."""
    ex = existing.select(*(F.col(k).alias(f"_ex_{k}") for k in keys))
    on = [source[k].eqNullSafe(ex[f"_ex_{k}"]) for k in keys]
    return source.join(ex, on, "left_anti").select(*source.columns)


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
