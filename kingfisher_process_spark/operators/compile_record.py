"""Record compile stage (C2) — one compiled release per record OCID via the
reference's decision ladder (record_compiler.py:50-143; note matrix
docs/database.rst:193-257).

Ladder, per OCID (applied per group by the arrow group walk,
operators/grouped.grouped_apply_sorted_arrow):

1. duplicate OCIDs → WARNING DuplicateOCIDWarning, first record by id wins
2. classify embedded releases: dated / undated / linked / tagged-'compiled'
3. dated ∧ no linked → sort dated by date, merge (C3); undated → WARNING
4. elif compiledRelease present → use it (INFO if all releases dated+linked,
   else WARNING)
5. elif tagged → use first tagged (WARNING)
6. else → ERROR, not compiled
"""

from __future__ import annotations

import json
from decimal import Decimal

from pyspark.sql import functions as F

from kingfisher_process_spark.operators import merge as merge_mod
from kingfisher_process_spark.operators.compile_release import (
    COMPILED_SCHEMA, compiled_rows, persist_compiled)
from kingfisher_process_spark.operators.grouped import grouped_apply_sorted_arrow
from kingfisher_process_spark.store import Store


def is_linked_release(release: dict, maximum_properties: int = 4) -> bool:
    """ocdskit public semantics: a linked release has a url and few
    properties (record_compiler.py:88)."""
    return isinstance(release, dict) and "url" in release and len(release) <= maximum_properties


def _compile_record_rows(cols: dict[str, list]) -> list[dict]:
    """One OCID group as plain column lists → COMPILED_SCHEMA rows: the
    lowest ``record_id`` wins, its record runs the decision ladder."""
    order = sorted(range(len(cols["record_id"])),
                   key=lambda i: (cols["record_id"][i] is None,
                                  cols["record_id"][i] or 0))
    first = order[0]
    return _compile_record_rows_core(
        cols["ocid"][first], len(order), cols["data"][first],
        cols["package_data"][first])


def _compile_record_rows_core(ocid, n_records: int, data_raw,
                              pkg_raw) -> list[dict]:
    rules = merge_mod.load_rules()
    notes: list[tuple] = []

    if n_records > 1:
        notes.append(("WARNING", f"OCID {ocid} occurs {n_records} times.",
                      json.dumps({"type": "DuplicateOCIDWarning"})))

    record = json.loads(data_raw, parse_float=Decimal)
    package = json.loads(pkg_raw, parse_float=Decimal) if isinstance(pkg_raw, str) else {}

    releases = record.get("releases", [])
    dated, tagged = [], []
    undated = linked = 0
    for release in releases:
        if not isinstance(release, dict):
            continue
        if "date" in release:
            dated.append(release)
            if is_linked_release(release, maximum_properties=4):
                linked += 1
        else:
            undated += 1
        if isinstance(release.get("tag"), list) and "compiled" in release["tag"]:
            tagged.append(release)

    if dated and not linked:
        if undated:
            notes.append((
                "WARNING",
                f"OCID {ocid} has {undated} undated releases. "
                f"The {len(dated)} dated releases have been compiled.",
                None,
            ))
        try:
            dated = sorted(dated, key=lambda r: r["date"])
        except TypeError as e:
            notes.append(("ERROR", f"OCID {ocid} has missing/invalid date.",
                          json.dumps(str(e))))
            return compiled_rows(ocid, None, notes)
        extensions = set()
        exts = package.get("extensions")
        if isinstance(exts, list):
            extensions = {e for e in exts if isinstance(e, str)}
        merged, merge_notes = merge_mod.compile_releases(ocid, dated, extensions, rules)
        notes.extend(n.as_tuple() for n in merge_notes)
        return compiled_rows(ocid, merged, notes)

    ladder: list[str] = []
    if linked:
        ladder.append(
            f"OCID {ocid} has {linked} linked releases among "
            f"{len(dated)} dated releases and {len(releases)} releases."
        )
    elif undated:
        ladder.append(f"OCID {ocid} has {len(releases)} releases, all undated.")
    else:
        ladder.append(f"OCID {ocid} has 0 releases.")

    if compiled_release := record.get("compiledRelease", {}):
        ladder.append("Its compiledRelease was used.")
        level = "INFO" if linked == len(dated) == len(releases) > 0 else "WARNING"
        notes.append((level, "\n".join(ladder), None))
        return compiled_rows(ocid, compiled_release, notes)

    if tagged:
        if len(tagged) > 1:
            ladder.append("Its first release tagged 'compiled' was used.")
        else:
            ladder.append("Its only release tagged 'compiled' was used.")
        notes.append(("WARNING", "\n".join(ladder), None))
        return compiled_rows(ocid, tagged[0], notes)

    ladder.append("It has no compiledRelease and no releases tagged 'compiled'. It was not compiled.")
    notes.append(("ERROR", "\n".join(ladder), None))
    return compiled_rows(ocid, None, notes)


def compile_records(store: Store, parent_id: int, compiled_collection_id: int) -> dict:
    """Compile the parent collection's records into the compiled collection."""
    from kingfisher_process_spark.operators import lifecycle

    if lifecycle.collection_cancelled(store, parent_id) or \
            lifecycle.collection_cancelled(store, compiled_collection_id):
        return {"compiled": 0, "notes": 0, "cancelled": True}
    records = store.read("record").where(F.col("collection_id") == parent_id)
    data = store.read("data").select(F.col("id").alias("data_id"), "data")
    pkg = store.read("package_data").select(
        F.col("id").alias("package_data_id"), F.col("data").alias("package_data")
    )
    existing = (
        store.read("compiled_release")
        .where(F.col("collection_id") == compiled_collection_id)
        .select("ocid")
    )

    inputs = (
        records.join(existing, "ocid", "left_anti")
        .join(data, "data_id")
        .join(pkg, "package_data_id", "left")
        .select(F.col("id").alias("record_id"), "ocid", "data", "package_data")
    )
    compiled = grouped_apply_sorted_arrow(
        inputs, ["ocid"], _compile_record_rows, COMPILED_SCHEMA,
        extra_sort=["record_id"],
    )
    return persist_compiled(store, compiled_collection_id, compiled)
