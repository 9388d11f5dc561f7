"""Parquet-backed table store — the engine's relational envelope.

The reference keeps ten PostgreSQL tables around a schemaless JSONB payload
(process/models.py:30-406; docs/database.rst:14-46). Here each table is a
parquet directory under a base path, with a typed StructType envelope and
the JSON payload held as a raw canonical string (see util.canonical_json —
decimal fidelity is why payloads never round-trip through Spark JSON types).

Scale posture: ``release``/``record``/``compiled_release``/``data`` are the
big tables; they are written partitioned by ``collection_id`` so per-
collection stages (compile, check, wipe) prune partitions at the scan, and
sorted within files by ``ocid`` so min/max parquet stats narrow OCID probes.
A wipe/delete is a partition drop, not a row delete (the reference needs
keyset-paginated deletes, deleteorphan.py:27-44 — Spark doesn't).
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schemas follow process/models.py (see FIXTURES.md §2). Text dates stay
# strings on purpose: lexicographic comparison is reference semantics
# (process/views.py:193-194).

_long = T.LongType()
_str = T.StringType()
_bool = T.BooleanType()
_int = T.IntegerType()
_ts = T.TimestampType()


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "collection": _schema(
        ("id", _long), ("source_id", _str), ("data_version", _str), ("sample", _bool),
        ("steps", T.ArrayType(_str)), ("options", _str), ("expected_files_count", _int),
        ("data_type", _str), ("compilation_started", _bool), ("compilation_enqueued", _bool),
        ("parent_id", _long), ("transform_type", _str), ("scrapyd_job", _str),
        ("cached_releases_count", _long), ("cached_records_count", _long),
        ("cached_compiled_releases_count", _long),
        ("store_start_at", _ts), ("store_end_at", _ts), ("deleted_at", _ts), ("completed_at", _ts),
    ),
    "collection_file": _schema(
        ("id", _long), ("collection_id", _long), ("filename", _str), ("url", _str),
        ("compilation_started", _bool),
    ),
    "collection_note": _schema(
        ("id", _long), ("collection_id", _long), ("note", _str), ("data", _str),
        ("stored_at", _ts), ("code", _str),
    ),
    "processing_step": _schema(
        ("id", _long), ("collection_id", _long), ("collection_file_id", _long),
        ("ocid", _str), ("name", _str),
    ),
    "data": _schema(("id", _long), ("hash_md5", _str), ("data", _str)),
    "package_data": _schema(("id", _long), ("hash_md5", _str), ("data", _str)),
    "release": _schema(
        ("id", _long), ("collection_id", _long), ("collection_file_id", _long),
        ("ocid", _str), ("release_id", _str), ("release_date", _str),
        ("data_id", _long), ("package_data_id", _long),
    ),
    "record": _schema(
        ("id", _long), ("collection_id", _long), ("collection_file_id", _long),
        ("ocid", _str), ("data_id", _long), ("package_data_id", _long),
    ),
    "compiled_release": _schema(
        ("id", _long), ("collection_id", _long), ("collection_file_id", _long),
        ("ocid", _str), ("release_date", _str), ("data_id", _long),
    ),
    "release_check": _schema(("id", _long), ("release_id", _long), ("cove_output", _str)),
    "record_check": _schema(("id", _long), ("record_id", _long), ("cove_output", _str)),
}

# Tables partitioned by collection for pruning + partition-drop deletes.
PARTITIONED_BY_COLLECTION = {"release", "record", "compiled_release", "collection_file",
                             "collection_note", "processing_step"}

# Size gate for routing a *data-produced* batch of metadata-table rows
# (notes, compiled collection_file entries) through the driver-side pyarrow
# append instead of a Spark write job. Below the gate the rows are
# driver-scale by definition (a collect + one parquet file beats a
# distributed write's fixed cost ~5x); above it the distributed path keeps
# the 100 TB posture. The reference's equivalent rows are single-row
# Postgres INSERTs either way. Readers: the loader (sources.loader.
# store_items) and the compile persist (compile_release.persist_compiled);
# the driver-scale compile and check stages have their own gates below.
DRIVER_APPEND_MAX = 20_000

# Stage gates, read against a partition's parquet footer row count
# (count_rows — exact, no rows read). At or under them the stage runs its
# kernels on the driver over a pyarrow read (payloads via payloads_by_id)
# and writes through append_rows, paying none of Spark's fixed per-stage
# cost; above them it runs as Spark jobs. Both were set from alternating
# driver/Spark runs of the stage on 4 CPUs (3 each, medians):
# - compile: bulk-shaped releases (OCDS 1.1, two hot OCIDs) took 1.07 s
#   on the driver vs 3.61 s on Spark at 10k releases and 1.66 vs 3.09 s at
#   20k; the heavier upgraded OCDS 1.0 releases of the crawl workload took
#   2.08 vs 3.08 s at 10k and broke even at 20k (3.18 vs 3.15 s). The
#   driver merge is one core against Spark's all, so more CPUs move the
#   crossover down; the gate sits at 10k, where the heavier releases still
#   gain 1.5x on 4 CPUs.
# - check: validation costs 0.6-1.4 ms per item on one core against
#   0.04-0.19 ms for a merge, so against ~2.2 s of Spark fixed cost it
#   breaks even near 3.7k items at 4 CPUs and 2.6k at 32; at 2,000 items
#   the driver took 3.1 s and Spark 5.0 s.
# Both stages also fall back to Spark when the payload scan passes
# DRIVER_APPEND_MAX_BYTES.
DRIVER_COMPILE_MAX = 10_000
DRIVER_CHECK_MAX = 2_000

# Driver-scale catalog tables: O(#collections) rows, not O(data). Both
# directions go through the pyarrow fast path: single-row lifecycle updates
# (append_rows / overwrite_rows) and every read on the API, HTTP and
# lifecycle paths (read_rows, pruned to the caller's collections with
# ``collection_ids``) — same parquet layout Spark writes, zero Spark jobs.
# Package code never reads these tables through ``read`` (a Spark job per
# status poll); tests/test_catalog_reads.py pins that. The analogy is
# Delta's transaction log: catalog metadata is driver-side; distributed jobs
# are for data. (The reference holds these as ordinary Postgres rows —
# process/models.py:30-260 — where a one-row SELECT or UPDATE is free; a
# distributed job per lifecycle tick is the non-idiomatic translation we're
# avoiding.)
METADATA_TABLES = {"collection", "collection_file", "collection_note", "processing_step"}

# package_data is cardinality-driver-scale too (one row per DISTINCT
# package ≤ one per input file — same order as collection_file), though
# its payload strings are large; callers may route small batches through
# append_rows under the same gate they use for notes. data/compiled_release
# are NOT driver-scale tables, but a driver-scale BATCH of rows may be
# appended to them the same way (the loader/compiler gate on the batch's
# row count AND total payload bytes, both known from their stats pass).
DRIVER_WRITABLE_TABLES = METADATA_TABLES | {
    "package_data", "data", "release", "record", "compiled_release",
    "release_check", "record_check"}

# Whole JSON documents: the pyarrow writer keeps no min/max statistics for
# them (full-length min/max strings doubled a driver-written file's size,
# and no filter ever prunes on a payload). The other columns keep theirs:
# footer pruning (payloads_by_id, present_ids) and Spark's ocid filters use
# the id and ocid statistics.
PAYLOAD_COLUMNS = {"data", "cove_output"}

# Companion byte gate for routing payload-carrying batches (data rows hold
# whole JSON documents) through the driver: a batch must be small in rows
# AND bytes before its payload strings are collected. Callers learn the
# byte total from the same stats aggregation that counts rows, so the gate
# costs nothing extra.
DRIVER_APPEND_MAX_BYTES = 64 * 1024 * 1024


def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.TimestampType):
        # tz-aware micros == what Spark writes under TIMESTAMP_MICROS, so
        # mixed pyarrow/Spark directories unify to one arrow schema
        return pa.timestamp("us", tz="UTC")
    raise TypeError(f"no arrow mapping for {dt}")


def _arrow_schema(table: str, exclude: tuple[str, ...] = ()) -> pa.Schema:
    return pa.schema([
        pa.field(f.name, _arrow_type(f.dataType))
        for f in SCHEMAS[table].fields if f.name not in exclude
    ])


class Store:
    """A directory of parquet tables with the reference's schema."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._next_ids: dict[str, int] = {}
        os.makedirs(base_dir, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            not f.startswith(("_", ".")) for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        if table not in SCHEMAS:
            raise KeyError(table)
        if not self.exists(table):
            return self.spark.createDataFrame([], SCHEMAS[table])
        df = self.spark.read.schema(SCHEMAS[table]).parquet(self.path(table))
        return df.select(*[f.name for f in SCHEMAS[table].fields])

    def append(self, table: str, df: DataFrame) -> None:
        self._write(table, df, "append")

    def overwrite(self, table: str, df: DataFrame) -> None:
        self._write(table, df, "overwrite")

    def _write(self, table: str, df: DataFrame, mode: str) -> None:
        cols = [f.name for f in SCHEMAS[table].fields]
        out = df.select(*[F.col(c).cast(SCHEMAS[table][c].dataType) for c in cols])
        # re-apply names lost by cast()
        out = out.toDF(*cols)
        if "ocid" in cols:
            # local (no-shuffle) sort so parquet row-group min/max stats
            # narrow OCID probes — compile/check read "all rows of one
            # OCID" and skip row groups whose ocid range can't match
            out = out.sortWithinPartitions("ocid")
        self._write_parquet(table, out, mode, self.path(table))
        # id watermark now unknown unless the writer advances it explicitly
        self._next_ids.pop(table, None)

    def _write_parquet(self, table: str, df: DataFrame, mode: str, path: str) -> None:
        """The one Spark parquet writer: hive-partitioned by collection
        where the table is, timestamps as micros (not the INT96 default)
        so Spark- and pyarrow-written files in one dir carry the same
        parquet timestamp type."""
        self.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        writer = df.write.mode(mode)
        if table in PARTITIONED_BY_COLLECTION:
            writer = writer.partitionBy("collection_id")
        writer.parquet(path)

    # -- driver-side fast path for METADATA_TABLES ------------------------

    def _rows_to_files(self, table: str, rows: list[dict], base: str) -> None:
        part = table in PARTITIONED_BY_COLLECTION
        schema = _arrow_schema(table, ("collection_id",) if part else ())
        groups: dict[int | None, list[dict]] = {}
        for r in rows:
            groups.setdefault(r["collection_id"] if part else None, []).append(r)
        for key, grp in groups.items():
            d = base if key is None else os.path.join(base, f"collection_id={key}")
            os.makedirs(d, exist_ok=True)
            tbl = pa.table(
                {f.name: [row.get(f.name) for row in grp] for f in schema},
                schema=schema)
            pq.write_table(tbl, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"),
                           write_statistics=[n for n in schema.names
                                             if n not in PAYLOAD_COLUMNS])

    def append_rows(self, table: str, rows: list[dict]) -> None:
        """Append driver-built rows to a METADATA_TABLES table without a
        Spark job — one pyarrow file per touched partition, in the exact
        layout ``_write`` produces, so ``read`` and the pyarrow path see
        one coherent table."""
        if not rows:
            return
        if table not in DRIVER_WRITABLE_TABLES:
            raise ValueError(f"{table} is not a driver-scale metadata table")
        self._rows_to_files(table, rows, self.path(table))
        self._next_ids.pop(table, None)

    def overwrite_rows(self, table: str, rows: list[dict]) -> None:
        """Atomically replace a METADATA_TABLES table with driver-built
        rows (write-aside + swap — the single-row lifecycle UPDATE)."""
        if table not in METADATA_TABLES:
            raise ValueError(f"{table} is not a driver-scale metadata table")
        tmp = self.path(table) + "__rewrite"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        self._rows_to_files(table, rows, tmp)
        if os.path.isdir(self.path(table)):
            shutil.rmtree(self.path(table))
        os.replace(tmp, self.path(table))
        self._next_ids.pop(table, None)

    def _dataset(self, table: str):
        import pyarrow.dataset as ds

        return ds.dataset(self.path(table), format="parquet", partitioning="hive")

    def read_rows(self, table: str, columns: list[str] | None = None,
                  collection_ids: list[int] | None = None) -> list[dict]:
        """Driver-side read of a METADATA_TABLES table as dicts (pyarrow,
        no Spark job). ``collection_ids`` keeps only those collections'
        partitions: pruned by directory, so the other collections' files
        are never opened. Timestamps come back naive-UTC, matching what a
        Spark ``collect()`` under a UTC session returns. Falls back to the
        Spark path if the directory's fragments can't be unified (e.g. a
        pre-existing store written with INT96 timestamps)."""
        if table not in DRIVER_WRITABLE_TABLES:
            raise ValueError(f"{table} is not a driver-scale metadata table")
        if collection_ids is not None and table not in PARTITIONED_BY_COLLECTION:
            raise ValueError(f"{table} is not partitioned by collection")
        if not self.exists(table):
            return []
        try:
            import pyarrow.dataset as ds

            where = (None if collection_ids is None
                     else ds.field("collection_id").isin(list(collection_ids)))
            rows = self._dataset(table).to_table(
                columns=columns, filter=where).to_pylist()
            for r in rows:
                for k, v in r.items():
                    if isinstance(v, datetime) and v.tzinfo is not None:
                        r[k] = v.astimezone(timezone.utc).replace(tzinfo=None)
            return rows
        except Exception:
            df = self.read(table)
            if collection_ids is not None:
                df = df.where(F.col("collection_id").isin(list(collection_ids)))
            if columns:
                df = df.select(*columns)
            return [r.asDict() for r in df.collect()]

    def first_row(self, table: str, columns: list[str], where) -> dict | None:
        """The first row matching the pyarrow expression ``where``, read on
        the driver (no Spark job). The scan stops at the first batch that
        holds a match, so a sample from a big table costs one batch, not
        one column of the table."""
        if not self.exists(table):
            return None
        rows = (self._dataset(table).scanner(columns=columns, filter=where)
                .head(1).to_pylist())
        return rows[0] if rows else None

    def scan(self, table: str, columns: list[str], where):
        """The rows matching the pyarrow expression ``where`` as a stream
        of record batches, read on the driver (no Spark job) and held one
        batch at a time, so a caller's aggregate costs O(batch) memory at
        any partition size."""
        if not self.exists(table):
            return iter(())
        return self._dataset(table).scanner(columns=columns, filter=where).to_batches()

    @staticmethod
    def _id_filters(column: str, ids):
        """``(bound, match)`` pyarrow filters for the rows whose ``column``
        is in ``ids``, or None when there are no ids. ``bound`` is the ids'
        min/max, which footer statistics prune files and row groups by;
        ``match`` adds the ``isin``."""
        import pyarrow.dataset as ds

        ids = sorted({i for i in ids if i is not None})
        if not ids:
            return None
        field = ds.field(column)
        bound = (field >= ids[0]) & (field <= ids[-1])
        return bound, bound & field.isin(ids)

    def payloads_by_id(self, table: str, ids, max_bytes: int) -> dict[int, str] | None:
        """``{id: data}`` for the ``data``/``package_data`` rows with these
        ids, read on the driver (no Spark job). Returns None — the caller's
        cue to take its Spark path — when the scan would decode more than
        ``max_bytes`` of payload. That is counted from the footers before
        any row is read: the payload column's size in every row group whose
        ``id`` statistics meet the ids' min/max (a row group without them
        counts in full). Payload dedup maps a repeated payload to an older
        row's id, so a small collection's ids can span most of the table;
        the bytes that match would not show that."""
        filters = self._id_filters("id", ids)
        if filters is None or not self.exists(table):
            return {}
        bound, match = filters
        dataset = self._dataset(table)
        scanned = 0
        for frag in dataset.get_fragments(filter=bound):
            meta = frag.metadata
            col = meta.schema.names.index("data")
            for part in frag.split_by_row_group(filter=bound):
                scanned += sum(meta.row_group(g.id).column(col).total_uncompressed_size
                               for g in part.row_groups)
            if scanned > max_bytes:
                return None
        got = dataset.to_table(columns=["id", "data"], filter=match)
        return dict(zip(got.column("id").to_pylist(), got.column("data").to_pylist()))

    def present_ids(self, table: str, column: str, ids) -> set[int]:
        """The subset of ``ids`` that occurs in ``table.column``, read on
        the driver with the same footer-pruned filter as payloads_by_id."""
        filters = self._id_filters(column, ids)
        if filters is None or not self.exists(table):
            return set()
        return set(self._dataset(table).to_table(
            columns=[column], filter=filters[1]).column(column).to_pylist())

    def count_rows(self, table: str, collection_id: int) -> int:
        """Exact row count of one collection's partition from its parquet
        footers: O(files), reads no rows and runs no Spark job. The files
        are the ones a Spark scan reads (hidden ``_``/``.`` names skipped),
        written by Spark or by the pyarrow path alike."""
        part = os.path.join(self.path(table), f"collection_id={collection_id}")
        if not os.path.isdir(part):
            return 0
        return sum(pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
                   for f in os.listdir(part) if not f.startswith(("_", ".")))

    def drop_collection_partition(self, table: str, collection_id: int) -> None:
        """Delete one collection's rows — a partition drop, O(1) metadata."""
        p = os.path.join(self.path(table), f"collection_id={collection_id}")
        if os.path.isdir(p):
            shutil.rmtree(p)

    def register_views(self, prefix: str = "") -> None:
        for table in SCHEMAS:
            self.read(table).createOrReplaceTempView(prefix + table)

    def next_id(self, table: str) -> int:
        """Next surrogate id (driver-side max+1; ids within a batch are
        assigned distributed via per-partition offsets —
        with_sequential_ids). Cached between writes: writers that know the
        ids they appended call advance_next_id, everything else falls back
        to a max() scan after the cache is invalidated by _write."""
        if table in self._next_ids:
            return self._next_ids[table]
        if not self.exists(table):
            nid = 1
        elif table in METADATA_TABLES:
            ids = [r["id"] for r in self.read_rows(table, ["id"]) if r["id"] is not None]
            nid = (max(ids) if ids else 0) + 1
        else:
            row = self.read(table).agg(F.max("id").alias("m")).collect()[0]
            nid = (row["m"] or 0) + 1
        self._next_ids[table] = nid
        return nid

    def advance_next_id(self, table: str, value: int) -> None:
        """Record the id watermark after an append whose ids are known."""
        self._next_ids[table] = value

    def merge_upsert(self, table: str, source: DataFrame, keys: list[str]) -> None:
        """MERGE (upsert) ``source`` into ``table`` on ``keys``: matched
        rows are replaced by the source row, unmatched rows are inserted
        — the Delta-style MERGE the reference approximates with Postgres
        get-or-create + retry under a unique index (process/util.py:93-110).

        Scale posture: for collection-partitioned tables only the
        partitions the source touches are rewritten (replaceWhere-style);
        untouched partitions are never read or written. The rewrite is a
        distributed anti-join + union into a write-aside directory,
        swapped in per partition — no driver-side materialization.
        """
        cols = [f.name for f in SCHEMAS[table].fields]
        src = source.select(
            *[F.col(c).cast(SCHEMAS[table][c].dataType) for c in cols]).toDF(*cols)

        if table in PARTITIONED_BY_COLLECTION:
            touched = [r["collection_id"] for r in
                       src.select("collection_id").distinct().collect()]
            if not touched:
                return
            target = self.read(table).where(F.col("collection_id").isin(touched))
        else:
            touched = None
            target = self.read(table)

        kept = target.join(src.select(*keys).distinct(), keys, "left_anti")
        out = kept.unionByName(src)

        tmp = self.path(table) + "__merge"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_parquet(table, out, "overwrite", tmp)

        if touched is not None:
            for cid in touched:
                new_part = os.path.join(tmp, f"collection_id={cid}")
                old_part = os.path.join(self.path(table), f"collection_id={cid}")
                shutil.rmtree(old_part, ignore_errors=True)
                if os.path.isdir(new_part):
                    os.makedirs(self.path(table), exist_ok=True)
                    os.replace(new_part, old_part)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            self._swap_in(tmp, self.path(table))
        self._next_ids.pop(table, None)

    @staticmethod
    def _swap_in(tmp: str, dst: str) -> None:
        """Crash-safe directory swap: move the live dir aside (atomic
        rename), swap the new one in, then drop the backup — the table
        path holds either the old or the new data at every step except a
        single-rename window, and a crash leaves both dirs on disk for
        mechanical recovery (never a deleted table with the replacement
        unrenamed)."""
        if not os.path.isdir(dst):
            os.replace(tmp, dst)
            return
        bak = dst + "__precompact"
        shutil.rmtree(bak, ignore_errors=True)
        os.replace(dst, bak)
        try:
            os.replace(tmp, dst)
        except OSError:
            os.replace(bak, dst)  # roll back: restore the original table
            raise
        # swap is committed; backup cleanup is best-effort (a transient
        # rmtree failure must not make the caller treat the write as
        # failed or skip its next-id cache invalidation)
        shutil.rmtree(bak, ignore_errors=True)

    def compact(self, table: str, target_bytes: int = 128 << 20) -> int:
        """OPTIMIZE-style small-file compaction — the engine-level form of
        what the bench harness's _parallel_copy fakes for read-only
        testdata: rewrite a table's append-accumulated small files into
        ~``target_bytes`` files, preserving hive partitioning and the
        in-file ocid ordering (parquet min/max stats). Crash-safe: the
        rewrite lands in a side directory and swaps in via the
        backup-rename-swap sequence of ``_swap_in``.

        Scale note: file count is sized from the listing (no data read);
        hash-distributing collections over the rewrite tasks keeps one
        collection per file set. A single collection bigger than one task
        should instead be compacted per-partition (drop + rewrite of its
        own hive directory) — this whole-table form targets the
        many-small-appends case. Returns the resulting file count.
        """
        if not self.exists(table):
            return 0
        src = self.path(table)
        size = 0
        for root, _dirs, files in os.walk(src):
            size += sum(os.path.getsize(os.path.join(root, f))
                        for f in files if not f.startswith(("_", ".")))
        n = max(1, -(-size // target_bytes))
        cols = [f.name for f in SCHEMAS[table].fields]
        df = self.read(table)
        if table in PARTITIONED_BY_COLLECTION:
            out = df.repartition(n, "collection_id")
        else:
            out = df.repartition(n)
        if "ocid" in cols:
            out = out.sortWithinPartitions("ocid")
        tmp = src + "__compact"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_parquet(table, out, "overwrite", tmp)
        self._swap_in(tmp, src)
        self._next_ids.pop(table, None)
        return sum(1 for root, _d, files in os.walk(src)
                   for f in files if f.endswith(".parquet"))

    def export_jdbc(self, table: str, url: str, dbtable: str | None = None,
                    mode: str = "append", properties: dict | None = None) -> None:
        """JDBC sink option (the declared Spark SQL + JDBC write path):
        mirror one store table into an external RDBMS. The write is
        distributed (one JDBC connection per partition); requires the
        target's JDBC driver jar on the Spark classpath."""
        self.read(table).write.mode(mode).jdbc(
            url, dbtable or table, properties=properties or {})


def with_sequential_ids(df: DataFrame, start: int,
                        order_by: list[str] | None = None,
                        mode: str = "range",
                        n_parts: int | None = None,
                        ) -> tuple[DataFrame, int, DataFrame]:
    """Assign contiguous ids start..start+n-1, ordered by ``order_by``.
    Returns (df_with_ids, n, pinned) — n comes free from the offsets job
    (callers never need a separate count() action); ``pinned`` is the
    cached intermediate the caller must ``unpersist()`` once the ids have
    been consumed by an action.

    Scale-safe: a bare ``row_number().over(Window.orderBy(...))`` funnels
    every row through ONE task — the classic 100 TB killer. Instead:
    range-partition sort (parallel, what orderBy itself compiles to), then
    per-partition offsets (a tiny #partitions-row aggregate on the driver)
    plus a partition-local row_number, which parallelizes across executors.

    ``mode="range"``: ids follow the global ``order_by`` order — required
    where id order IS semantics (release/record envelopes: the reference's
    record compile picks the first record by id, record_compiler.py:58-75,
    and insertion order = file order). Costs a range-boundary sampling
    pass before the shuffle.

    ``mode="hash"``: hash-repartition on the keys + in-partition sort —
    ids are contiguous and deterministic (same row → same partition →
    same sorted position) but NOT globally ordered. One pass cheaper;
    use for tables where id order carries no meaning (content-hash dedup,
    compiled outputs, notes).

    Contiguity matters because callers advance the next-id watermark by n.
    """
    from pyspark.sql import Window

    if order_by:
        # Explicit partition count: AQE cannot re-coalesce this shuffle
        # (the cache below pins the plan), so inheriting the global
        # shuffle.partitions would fix tiny writes at 200 tasks. Sized by
        # the upstream partition count (a proxy for data volume): small
        # batches don't pay hundreds of empty tasks per job, full-scale
        # inputs still fan out to 2× parallelism.
        sc = df.sparkSession.sparkContext
        if n_parts is None:
            # upstream partition count as a volume proxy (callers that know
            # better — e.g. the loader's file count — pass n_parts)
            upstream = max(1, df.rdd.getNumPartitions())
            n_parts = max(2, min(sc.defaultParallelism * 2, upstream * 2))
        if mode == "hash":
            df = df.repartition(n_parts, *order_by).sortWithinPartitions(*order_by)
        else:
            df = df.repartitionByRange(n_parts, *order_by).sortWithinPartitions(*order_by)
    df = df.withColumn("_mid", F.monotonically_increasing_id())
    # cache pins the partitioning so the counts job and the id job see the
    # same layout (id consistency between the append and the returned map)
    df = df.withColumn("_pid", F.spark_partition_id()).cache()

    counts = {
        r["_pid"]: r["cnt"]
        for r in df.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], start
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    n = acc - start
    if not offsets:
        empty = df.drop("_mid", "_pid").withColumn("id", F.lit(None).cast("long"))
        return empty, 0, df

    # offsets as a broadcast join (a literal map would bloat the plan at
    # thousands of partitions)
    off_df = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*(order_by or ["_mid"]))
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("id", F.col("_off") + F.col("_rn") - F.lit(1))
    )
    return out.drop("_mid", "_pid", "_rn", "_off"), n, df


def write_bucketed(df: DataFrame, name: str, keys: list[str],
                   n_buckets: int = 16, path: str | None = None,
                   sort_by: list[str] | None = None) -> None:
    """Write ``df`` as a BUCKETED catalog table: rows hash-partitioned by
    ``keys`` into ``n_buckets`` files, optionally sorted in-bucket.

    This is the co-location device for repeated joins: two tables
    bucketed by the same keys into the same bucket count join WITHOUT a
    shuffle — Spark's planner sees each side's output partitioning
    already satisfies the join's distribution requirement and elides
    both exchanges (and both sorts, when ``sort_by`` covers the keys).
    At 100 TB that converts every fact-to-fact join on the bucket key
    from a full-data shuffle into a zip of pre-matched files; the one
    shuffle you pay is at WRITE time, amortized over every later join.
    Bucketed layout needs the session catalog (bucket metadata lives
    there, not in parquet), hence ``saveAsTable`` rather than the path
    writes the Store uses for its own tables.

    Reference analogue: Postgres-side btree indexes (`models.py` Meta
    indexes) are the reference's only co-location story; this is the
    Spark-native equivalent for scan-shaped workloads.
    """
    writer = (
        df.write.format("parquet").mode("overwrite")
        .bucketBy(n_buckets, *keys)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


# -- snapshot versioning (time travel) -----------------------------------
#
# Parquet data files are immutable once written: every mutation path in
# this module (overwrite, merge_upsert, compact) REPLACES files and swaps
# directories, never edits bytes in place. That makes snapshots nearly
# free: hardlink the table's current file tree into a versioned side
# directory — the inodes stay alive when a later swap rmtree's the
# original names, so old versions remain readable forever at zero copy
# cost. This is the reproducibility device a training-data pipeline
# needs ("which exact table state produced run 47?"); the reference has
# no equivalent (Postgres rows mutate in place).
#
# At 100 TB on an object store the same design is a manifest of
# immutable object keys per version (the Delta/Iceberg shape); hardlinks
# are the single-filesystem realization of that manifest.

def _hardlink_tree(src: str, dst: str) -> None:
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(troot, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(troot, f))


class StoreSnapshots:
    """Snapshot/version surface over a Store (composition, so the write
    paths stay untouched): ``snapshot`` pins the current state,
    ``read_version`` reads a pinned state, ``diff`` classifies row-level
    changes between two versions via the orderless row-hash device."""

    def __init__(self, store: "Store"):
        self.store = store

    def _snap_root(self, table: str) -> str:
        return self.store.path(table) + "__snapshots"

    def snapshot(self, table: str) -> int:
        """Pin the table's current state; returns the new version id
        (1-based, monotonically increasing)."""
        if not self.store.exists(table):
            raise FileNotFoundError(f"table {table} is empty/missing")
        root = self._snap_root(table)
        os.makedirs(root, exist_ok=True)
        version = max(self.versions(table), default=0) + 1
        tmp = os.path.join(root, f".v{version}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        _hardlink_tree(self.store.path(table), tmp)
        os.replace(tmp, os.path.join(root, f"v{version}"))
        return version

    def versions(self, table: str) -> list[int]:
        root = self._snap_root(table)
        if not os.path.isdir(root):
            return []
        return sorted(int(d[1:]) for d in os.listdir(root)
                      if d.startswith("v") and d[1:].isdigit())

    def read_version(self, table: str, version: int) -> DataFrame:
        p = os.path.join(self._snap_root(table), f"v{version}")
        if not os.path.isdir(p):
            raise FileNotFoundError(f"{table} has no snapshot v{version}")
        return (self.store.spark.read.schema(SCHEMAS[table]).parquet(p)
                .select(*[f.name for f in SCHEMAS[table].fields]))

    def drop(self, table: str, version: int) -> None:
        shutil.rmtree(os.path.join(self._snap_root(table), f"v{version}"),
                      ignore_errors=True)

    def diff(self, table: str, v_old: int, v_new: int,
             keys: list[str]) -> DataFrame:
        """(change_type, *keys) rows classifying v_old → v_new:
        added / removed / changed (same rows are omitted — at scale the
        overwhelmingly common class is the one you don't materialize)."""
        old_df = self.read_version(table, v_old)
        new_df = self.read_version(table, v_new)
        return snapshot_diff(old_df, new_df, keys)


def snapshot_diff(old_df: DataFrame, new_df: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Key-group diff of two same-schema DataFrames on ``keys``: each
    side is first reduced to one row per key group (row count + an
    orderless exact SUM of 60-bit row hashes over the non-key columns —
    decimal accumulation, so no overflow and, unlike XOR, sensitive to
    even multiplicities: {A,A} vs {} would XOR-cancel), then ONE
    null-safe full outer join
    classifies each key as added / removed / changed. 'changed' means
    the MULTISET of rows under that key differs (count or content) —
    well-defined even for duplicate and NULL keys, where a plain
    row-level outer join would cross-join the duplicates. 'same' groups
    are filtered out map-side. Returns (change_type, *keys)."""
    from kingfisher_process_spark.functions.audit import row_hash

    cols = [c for c in old_df.columns if c not in keys]
    assert set(old_df.columns) == set(new_df.columns), "schema mismatch"

    def grouped(df, tag):
        h = row_hash(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                       for c in cols]).alias("h")
        return (
            df.select(*keys, h)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias(f"{tag}_n"),
                 F.sum(F.col("h").cast("decimal(38,0)")).alias(f"{tag}_h"))
            .select(*[F.col(k).alias(f"{tag}_{k}") for k in keys],
                    f"{tag}_n", f"{tag}_h")
        )

    o, n = grouped(old_df, "o"), grouped(new_df, "n")
    cond = [o[f"o_{k}"].eqNullSafe(n[f"n_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("o_n").isNull(), F.lit("added"))
        .when(F.col("n_n").isNull(), F.lit("removed"))
        .when((F.col("o_n") != F.col("n_n"))
              | (F.col("o_h") != F.col("n_h")), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    out_keys = [F.coalesce(F.col(f"o_{k}"), F.col(f"n_{k}")).alias(k)
                for k in keys]
    return (
        joined.select(change.alias("change_type"), *out_keys)
        .where(F.col("change_type") != "same")
    )


def zorder_value(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative integer
    column expressions into a Z-order (Morton) key. Sorting a table by
    this key clusters BOTH dimensions into each parquet file, so the
    per-file min/max footer stats are narrow in a AND b — a filter on
    either (or both) dimensions skips most files/row-groups, where a
    plain sort clusters only its leading column. This is the multi-
    dimensional layout device (Delta OPTIMIZE ZORDER BY) expressed as a
    pure column expression — no engine support needed.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             .bitwiseOR(F.shiftleft(F.shiftright(a.cast("long"), i)
                                    .bitwiseAND(1), 2 * i))
             .bitwiseOR(F.shiftleft(F.shiftright(b.cast("long"), i)
                                    .bitwiseAND(1), 2 * i + 1)))
    return z


def write_zordered(df: DataFrame, path: str, col_a: str, col_b: str,
                   n_files: int = 8, bits: int = 16) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by the Z-order key of (col_a, col_b) — each output file then
    covers a small rectangle of the (a, b) plane instead of a full
    stripe, which is what makes 2-D predicate pruning work at 100 TB.
    ``col_a``/``col_b`` may be column names or SQL expressions (the
    usual caller quantizes a wide domain into the low ``bits`` bits —
    MONOTONICALLY, e.g. floor-division; a modulo wraps and destroys
    locality)."""
    z = zorder_value(F.expr(col_a), F.expr(col_b), bits)
    (df.withColumn("_z", z)
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(path))
