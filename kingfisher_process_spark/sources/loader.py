"""Distributed load stage — files → release/record/compiled_release +
deduplicated data/package_data tables.

Spark-first redesign of the reference's file_worker (file_worker.py:75-386):
instead of one RabbitMQ message per file, the whole file list becomes a
DataFrame and each executor parses its files inside ``mapInPandas`` (Arrow
batches, pure-Python OCDS parse from sources/reader.py). Everything after
the parse is declarative DataFrame work, so at 100 TB:

- file parsing scales with executor count (one task per file chunk);
- content dedup (S8) is a ``dropDuplicates`` on the md5 + a broadcast-able
  left-anti join against the existing ``data`` table — no per-row
  get-or-create round trips (reference does 1 row per query in dedup mode,
  file_worker.py:326-327);
- envelope id assignment is a window rank, not a sequence bottleneck.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.sources.reader import item_rows
from kingfisher_process_spark.store import Store, with_sequential_ids

PARSED_SCHEMA = T.StructType([
    T.StructField("collection_file_id", T.LongType()),
    T.StructField("row_kind", T.StringType()),
    T.StructField("item_index", T.LongType()),
    T.StructField("ocid", T.StringType()),
    T.StructField("release_id", T.StringType()),
    T.StructField("release_date", T.StringType()),
    T.StructField("data", T.StringType()),
    T.StructField("hash_md5", T.StringType()),
    T.StructField("package_data", T.StringType()),
    T.StructField("package_hash", T.StringType()),
    T.StructField("note_code", T.StringType()),
    T.StructField("note", T.StringType()),
])


def parse_files(spark: SparkSession, files: list[tuple[int, str]], data_type: dict) -> DataFrame:
    """files: (collection_file_id, path) pairs → parsed item/note rows.

    Paths must be visible to executors (shared FS / object store on a real
    cluster; local FS in local mode).
    """
    files_df = spark.createDataFrame(files, "collection_file_id long, filename string")
    # one task per file so a single huge file can't serialize the stage
    files_df = files_df.repartition(max(len(files), 1))

    def gen(batches):
        for pdf in batches:
            rows = []
            for cfid, path in zip(pdf["collection_file_id"], pdf["filename"]):
                for row in item_rows(path, data_type):
                    row["collection_file_id"] = int(cfid)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in PARSED_SCHEMA.fields])

    return files_df.mapInPandas(gen, PARSED_SCHEMA)


def dedup_append_payloads(store: Store, table: str, payloads: DataFrame,
                          n_parts: int | None = None,
                          batch_rows: int | None = None) -> DataFrame:
    """S8: content-hash dedup against + into the ``data``/``package_data``
    table. ``payloads``: (hash_md5, data). Returns the full mapping
    (hash_md5 → id) for the hashes present in ``payloads``.

    MERGE-style: dropDuplicates on the hash, anti-join existing, assign ids
    past the current max, append. The anti-join's right side is the
    existing table's hash column only (column-pruned scan), and the
    returned mapping is a fresh column-pruned (id, hash_md5) scan
    semi-joined to the batch's hashes — a simple plan that broadcasts
    cheaply into the envelope join. (Composing the mapping from the
    pre-append snapshot ∪ fresh ids avoids this second pruned scan but
    nests window/broadcast machinery inside the broadcast build — measured
    30% slower end-to-end.)

    ``batch_rows``: the caller's known row count for ``payloads`` (the
    loader/compiler always has it from their stats pass). When the batch
    is provably small the mapping semi-join broadcasts the batch's raw
    hash column instead of shuffling both sides through a distinct +
    sort-merge join — semi-join semantics don't need the right side
    deduplicated. Unknown or large batches keep the shuffle path.
    """
    was_empty = not store.exists(table)
    fresh = payloads.dropDuplicates(["hash_md5"])
    if not was_empty:
        existing = store.read(table).select("hash_md5")
        fresh = fresh.join(existing, "hash_md5", "left_anti")
    base = store.next_id(table)
    # hash mode: ids keyed by content hash carry no order semantics, so
    # skip the range-boundary sampling pass
    fresh_ids, n_fresh, pinned = with_sequential_ids(
        fresh, base, order_by=["hash_md5"], mode="hash", n_parts=n_parts)
    if n_fresh:
        store.append(table, fresh_ids.select("id", "hash_md5", "data"))
    store.advance_next_id(table, base + n_fresh)
    pinned.unpersist()
    mapping = store.read(table).select("id", "hash_md5")
    if was_empty:
        # the table now holds exactly this batch — the pruned scan IS the
        # mapping; the distinct + semi-join shuffle buys nothing (and at
        # scale the table only starts empty when the batch is the table)
        return mapping
    if batch_rows is not None and batch_rows <= 1_000_000:
        return mapping.join(
            F.broadcast(payloads.select("hash_md5")), "hash_md5", "left_semi")
    return mapping.join(
        payloads.select("hash_md5").distinct(), "hash_md5", "left_semi")


def driver_dedup_pairs(store: Store, table: str,
                       pairs: list[tuple[str, str]],
                       arrow_lookup: bool = False) -> dict[str, int]:
    """Driver-side payload dedup for a batch already collected as distinct
    (hash_md5, data) pairs. Appends fresh rows with append_rows (one
    pyarrow file, zero Spark write jobs) and returns the full hash→id
    mapping for the batch.

    The existing-hash lookup scales with the TABLE, not the batch:
    ``arrow_lookup=True`` reads the whole (id, hash_md5) projection on the
    driver — only for tables that are themselves driver-scale
    (package_data). Otherwise one column-pruned Spark scan semi-joined to
    the batch's broadcast hashes does the lookup — at 100 TB that is the
    same pruned scan the distributed anti-join pays, minus the id-shuffle
    and write jobs."""
    if arrow_lookup and store.exists(table):
        # the pyarrow projection read scales with the TABLE; once the
        # table outgrows the driver gate (many loads accreting packages),
        # fall back to the pruned Spark lookup
        from kingfisher_process_spark.store import DRIVER_APPEND_MAX_BYTES

        total = 0
        for dirpath, _, files in os.walk(store.path(table)):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if not f.startswith(("_", ".")))
        if total > DRIVER_APPEND_MAX_BYTES:
            arrow_lookup = False
    existing: dict[str, int] = {}
    if store.exists(table):
        if arrow_lookup:
            existing = {r["hash_md5"]: r["id"]
                        for r in store.read_rows(table, ["id", "hash_md5"])}
        else:
            hs = store.spark.createDataFrame(
                [(h,) for h, _ in pairs] or [(None,)], "hash_md5 string")
            existing = {
                r["hash_md5"]: r["id"]
                for r in store.read(table).select("id", "hash_md5")
                .join(F.broadcast(hs), "hash_md5", "left_semi").collect()
            }
    base = store.next_id(table)
    fresh = sorted((h, d) for h, d in pairs if h not in existing)
    store.append_rows(table, [
        {"id": base + i, "hash_md5": h, "data": d}
        for i, (h, d) in enumerate(fresh)
    ])
    store.advance_next_id(table, base + len(fresh))
    mapping = {h: base + i for i, (h, _) in enumerate(fresh)}
    for h, _ in pairs:
        if h in existing:
            mapping[h] = existing[h]
    return mapping


def _driver_dedup_append(store: Store, table: str, payloads: DataFrame,
                         arrow_lookup: bool = False) -> DataFrame:
    """DataFrame-shaped driver dedup: collect the batch's distinct
    (hash, data) pairs, run driver_dedup_pairs, return the mapping as a
    literal DataFrame — it broadcasts into the envelope join without
    re-scanning the table it was just written to."""
    rows = payloads.dropDuplicates(["hash_md5"]).collect()
    mapping = driver_dedup_pairs(
        store, table, [(r["hash_md5"], r["data"]) for r in rows],
        arrow_lookup=arrow_lookup)
    return payloads.sparkSession.createDataFrame(
        [(i, h) for h, i in mapping.items()] or [(None, None)],
        "id long, hash_md5 string")


def _store_items_driver(store: Store, collection_id: int, fmt: str,
                        parsed: DataFrame, max_per_ocid: int,
                        n_notes: int) -> dict:
    """Fully driver-side persist for a driver-scale batch (rows and bytes
    under the store gates): ONE collect of the parsed cache feeds payload
    dedup, map-side envelope id assignment (base + file offset +
    item_index — identical id semantics to the distributed path, gaps
    where ocid-less items sat), and notes. package_data strings are
    repeated per item, so their distinct pairs come from a separate tiny
    collect instead of inflating the main one."""
    rows = parsed.select(
        "row_kind", "collection_file_id", "item_index", "ocid", "release_id",
        "release_date", "hash_md5", "package_hash", "data",
        "note_code", "note").collect()
    items = [r for r in rows if r["row_kind"] == "item"]

    uniq: dict[str, str] = {}
    for r in items:
        uniq.setdefault(r["hash_md5"], r["data"])
    dmap = driver_dedup_pairs(store, "data", sorted(uniq.items()))

    pkg_rows = (
        parsed.where((F.col("row_kind") == "item")
                     & F.col("package_hash").isNotNull())
        .select("package_hash", "package_data")
        .dropDuplicates(["package_hash"]).collect()
    )
    pmap = driver_dedup_pairs(
        store, "package_data",
        sorted((r["package_hash"], r["package_data"]) for r in pkg_rows),
        arrow_lookup=True)

    table = {"release package": "release", "record package": "record",
             "compiled release": "compiled_release"}[fmt]
    base = store.next_id(table)
    counts: dict[int, int] = {}
    for r in items:
        cfid = r["collection_file_id"]
        counts[cfid] = max(counts.get(cfid, 0), r["item_index"] + 1)
    offsets, acc = {}, 0
    for cfid in sorted(counts):
        offsets[cfid] = acc
        acc += counts[cfid]

    env = []
    for r in items:
        if r["ocid"] is None:
            continue
        e = {"id": base + offsets[r["collection_file_id"]] + r["item_index"],
             "collection_id": collection_id,
             "collection_file_id": r["collection_file_id"],
             "ocid": r["ocid"], "data_id": dmap[r["hash_md5"]]}
        if table == "release":
            e["release_id"] = r["release_id"]
            e["release_date"] = r["release_date"]
            e["package_data_id"] = pmap.get(r["package_hash"])
        elif table == "record":
            e["package_data_id"] = pmap.get(r["package_hash"])
        else:
            e["release_date"] = r["release_date"]
        env.append(e)
    # ocid order keeps the parquet min/max stats property the distributed
    # write's sortWithinPartitions("ocid") provides
    env.sort(key=lambda e: e["ocid"])
    store.append_rows(table, env)
    store.advance_next_id(table, base + acc)

    note_rows = [r for r in rows if r["row_kind"] == "note"]
    note_rows.sort(key=lambda r: (r["collection_file_id"] or 0, r["note"] or ""))
    lifecycle.add_notes(store, collection_id,
                        [(r["note_code"], r["note"], None) for r in note_rows])

    return {"rows": len(env), "notes": n_notes, "max_per_ocid": max_per_ocid}


def store_items(store: Store, collection_id: int, fmt: str, parsed: DataFrame) -> dict:
    """Persist parsed rows: payload dedup + envelope rows + notes.

    Returns {"rows": n, "notes": n, "max_per_ocid": n} — the last is the
    largest item count sharing one ocid (the compile skew hint).
    """
    parsed = parsed.cache()
    items = parsed.where(F.col("row_kind") == "item")

    # one pass populates the cache and sizes everything downstream: row
    # counts per kind decide which persist paths run at all and size the
    # id shuffles (~10k rows/task, capped at 2× parallelism — the
    # post-dropDuplicates partition count is just shuffle.partitions, a
    # useless volume proxy). The agg is two-level (ocid, then row_kind) so
    # the same job also yields the max releases-per-ocid — the compile
    # stage's skew decision (compile_collection two_phase="auto") skips
    # its hot-OCID detection job entirely when this bound proves no group
    # can exceed the two-phase batch size.
    stats = (
        parsed.groupBy("row_kind", "ocid").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("data")).alias("b"))
        .groupBy("row_kind").agg(
            F.sum("n").alias("total"),
            F.sum("b").alias("total_bytes"),
            F.max(F.when(F.col("ocid").isNotNull(), F.col("n"))).alias("max_per_ocid"),
            F.sum(F.when(F.col("ocid").isNull(), F.col("n")).otherwise(F.lit(0)))
            .alias("n_null_ocid"),
        ).collect()
    )
    kind_counts = {r["row_kind"]: r["total"] for r in stats}
    item_stats = next((r for r in stats if r["row_kind"] == "item"), None)
    max_per_ocid = (item_stats["max_per_ocid"] if item_stats else None) or 0
    n_null_ocid = (item_stats["n_null_ocid"] if item_stats else None) or 0
    n_item_bytes = (item_stats["total_bytes"] if item_stats else None) or 0
    sc = parsed.sparkSession.sparkContext
    np_ = max(2, min(sc.defaultParallelism * 2,
                     kind_counts.get("item", 0) // 10_000 + 1))

    from kingfisher_process_spark.store import DRIVER_APPEND_MAX, DRIVER_APPEND_MAX_BYTES

    n_items = kind_counts.get("item", 0)
    n_notes = kind_counts.get("note", 0)
    if (n_items + n_notes <= DRIVER_APPEND_MAX
            and n_item_bytes <= DRIVER_APPEND_MAX_BYTES):
        # row AND byte counts (from the stats pass — free) prove the batch
        # is driver-scale: one collect feeds payload dedup, envelope id
        # assignment, and notes; everything lands via pyarrow appends.
        # Two Spark jobs total (stats + collect + the tiny pkg distinct)
        # instead of ~eight. The 100 TB batch takes the path below.
        result = _store_items_driver(store, collection_id, fmt, parsed,
                                     max_per_ocid, n_notes)
        parsed.unpersist()
        return result

    data_map = dedup_append_payloads(
        store, "data", items.select("hash_md5", "data"), n_parts=np_,
        batch_rows=n_items,
    ).withColumnRenamed("id", "data_id")

    # Envelope ids need insertion order (file order, then position in the
    # file — record compile picks the first record by id,
    # record_compiler.py:58-75). ``item_index`` is already each item's
    # dense 0..n-1 position within its file, so id = base + file offset +
    # item_index is a pure map-side expression: one tiny per-file count
    # job on the cache replaces a range-partitioned sort whose boundary
    # sampling re-executed the whole envelope join. Ocid-less items are
    # skipped below but keep their slot, so ids can have gaps — uniqueness
    # and order are the semantics, contiguity never was.
    table = {"release package": "release", "record package": "record",
             "compiled release": "compiled_release"}[fmt]
    base = store.next_id(table)
    file_counts = sorted(
        (r["collection_file_id"], r["cnt"]) for r in
        items.groupBy("collection_file_id")
        .agg((F.max("item_index") + 1).alias("cnt")).collect()
    )

    has_pkg = items.where(F.col("package_hash").isNotNull())
    pkg_batch = has_pkg.select(F.col("package_hash").alias("hash_md5"),
                               F.col("package_data").alias("data"))
    if len(file_counts) <= 1024:
        # distinct packages ≤ #files, i.e. driver-scale (same order as
        # collection_file): one distinct-collect + a pyarrow append
        # replaces the whole distributed dedup stack, and the returned
        # mapping is a literal DataFrame — the envelope join broadcasts
        # it without re-scanning the table it was just written to
        pkg_map = _driver_dedup_append(store, "package_data", pkg_batch,
                                       arrow_lookup=True)
    else:
        pkg_map = dedup_append_payloads(
            store, "package_data", pkg_batch, n_parts=np_, batch_rows=n_items)
    pkg_map = (pkg_map.withColumnRenamed("id", "package_data_id")
               .withColumnRenamed("hash_md5", "package_hash"))
    offsets, acc = [], 0
    for cfid, cnt in file_counts:
        offsets.append((cfid, acc))
        acc += cnt
    off_df = parsed.sparkSession.createDataFrame(
        offsets or [(None, 0)], "collection_file_id long, _off long")

    # The ocid is required to find all releases of one contracting process
    # during compile; ocid-less items keep their payload but get no
    # envelope row (file_worker.py:346-348).
    rows = (
        items.where(F.col("ocid").isNotNull())
        .join(F.broadcast(data_map), "hash_md5")
        .join(F.broadcast(pkg_map), "package_hash", "left")
        .join(F.broadcast(off_df), "collection_file_id")
        .withColumn("id", F.lit(base) + F.col("_off") + F.col("item_index"))
        .withColumn("collection_id", F.lit(collection_id))
    )
    n_rows = n_items - n_null_ocid

    if table == "release":
        out = rows.select("id", "collection_id", "collection_file_id", "ocid",
                          "release_id", "release_date", "data_id", "package_data_id")
    elif table == "record":
        out = rows.select("id", "collection_id", "collection_file_id", "ocid",
                          "data_id", "package_data_id")
    else:
        out = rows.select("id", "collection_id", "collection_file_id", "ocid",
                          "release_date", "data_id")
    if n_rows:
        store.append(table, out)
    # the watermark advances by ALLOCATED slots (gaps where ocid-less
    # items sat), not by written rows
    store.advance_next_id(table, base + n_items)

    n_notes = kind_counts.get("note", 0)
    if n_notes:
        from kingfisher_process_spark.store import DRIVER_APPEND_MAX

        notes = parsed.where(F.col("row_kind") == "note")
        if n_notes <= DRIVER_APPEND_MAX:
            note_rows = notes.select("collection_file_id", "note_code", "note").collect()
            # same deterministic order the distributed path sorts by
            note_rows.sort(key=lambda r: (r["collection_file_id"] or 0, r["note"] or ""))
            lifecycle.add_notes(store, collection_id,
                                [(r["note_code"], r["note"], None) for r in note_rows])
        else:
            nb = store.next_id("collection_note")
            noted, n_notes, pinned_n = with_sequential_ids(
                notes, nb, order_by=["collection_file_id", "note"],
                mode="hash", n_parts=np_)
            store.append("collection_note", noted.select(
                "id",
                F.lit(collection_id).alias("collection_id"),
                F.col("note").alias("note"),
                F.lit(None).cast("string").alias("data"),
                F.current_timestamp().alias("stored_at"),
                F.col("note_code").alias("code"),
            ))
            pinned_n.unpersist()
            store.advance_next_id("collection_note", nb + n_notes)
    parsed.unpersist()
    return {"rows": n_rows, "notes": n_notes, "max_per_ocid": max_per_ocid}
