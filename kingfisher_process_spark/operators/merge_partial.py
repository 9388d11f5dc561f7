"""Two-phase OCDS merge — the skew answer for hot OCIDs (SURVEY §7
watchlist #2; reference issue #460: thousands of releases per OCID,
processors/compiler.py:61-65 holds one OCID in memory).

A group walk keyed on ``ocid`` materializes a whole group per task, so a
single hot OCID bounds compile parallelism and memory. Two-phase breaks
the group: date-contiguous batches of releases pre-merge into PARTIALS in
parallel (phase A), then one small reduce per OCID composes the partials
(phase B). A partial collapses any number of releases into one
document-sized net effect, so phase B's group size is O(#partials ×
document size), independent of release count.

Correctness: the OCDS merge applies releases in date order with per-field
last-wins, identifier-merged arrays, and null-deletes. A partial is the
net effect of its date range:

- ``tree``   — the merged subtree (reusing merge._merge_object), nulls
  already applied inside the range;
- ``barriers`` — structural paths where the range DELETED or WHOLESALE-
  REPLACED content, which must also erase state from EARLIER ranges:
  null-deletes and wholeListMerge/empty/non-object list assignments.

compose(A, B) = delete A's subtrees at B's barriers, then deep-merge
B.tree onto A.tree with the ordinary merge rules. Scalar-over-dict and
dict-over-scalar need no barrier — the deep merge already replaces.
Array entries in barrier paths are addressed by ``id``; a barrier inside
a POSITIONAL (id-less) entry is not composable across ranges, so the
builder flags it and the caller falls back to single-phase for that OCID
(correct, just un-optimized — pathological data only).

Equivalence with the single-phase engine is property-tested
(tests/test_two_phase_merge.py).
"""

from __future__ import annotations

import json
from typing import Any

from kingfisher_process_spark.operators import merge as m

BATCH = 500  # releases per partial (phase-A group size bound)


class Incomposable(Exception):
    """A barrier path crosses an id-less array entry — fall back to
    single-phase for this OCID."""


def _entry_key(item: dict, pos: int):
    return item.get("id", ("__idx__", pos))


_POS = "__pos__"  # marker elem: barrier path crosses an id-less entry


def _barrier_elem(key) -> Any:
    """JSON-safe barrier path element for an array entry key."""
    if isinstance(key, tuple):  # positional — composable only if no
        return {_POS: key[1]}   # barrier ever lands beneath it
    return {"id": key}


def _record_barrier(barriers: list, sp: list) -> None:
    """Record a RESET at ``sp`` (null-delete / scalar set / wholesale list
    set): earlier ranges' state at this path is dead. A reset inside an
    id-less array entry cannot be addressed across ranges → Incomposable
    (caller falls back to single-phase)."""
    if any(isinstance(e, dict) and _POS in e for e in sp):
        raise Incomposable()
    if len(sp) >= 2 and sp[-1] == "id" and isinstance(sp[-2], dict):
        # an entry's "id" IS its cross-range address: deleting it would
        # orphan the entry mid-compose, and the tree merge rewrites the
        # value anyway — no barrier needed
        return
    barriers.append(sp)


def _apply(target: dict, source: dict, rule_path: tuple, spath: list,
           rules: dict, dups: list, barriers: list) -> None:
    """merge._merge_object plus barrier recording (structural path
    ``spath`` addresses array entries by id)."""
    for k, v in source.items():
        rp = rule_path + (k,)
        flags = rules.get(".".join(rp), frozenset())
        if "omitWhenMerged" in flags:
            continue
        sp = spath + [k]
        if v is None:
            target.pop(k, None)
            _record_barrier(barriers, sp)
        elif isinstance(v, dict):
            existing = target.get(k)
            if not isinstance(existing, dict):
                if k in target:
                    # type reset within this range (dict over scalar/list):
                    # earlier ranges' state at the path is dead too
                    _record_barrier(barriers, sp)
                existing = {}
                target[k] = existing
            _apply(existing, v, rp, sp, rules, dups, barriers)
        elif isinstance(v, list):
            if "wholeListMerge" in flags or not v or not all(isinstance(i, dict) for i in v):
                target[k] = v
                _record_barrier(barriers, sp)
            else:
                existing = target.get(k)
                if isinstance(existing, list):
                    base = existing
                else:
                    if k in target:
                        # type reset (id-merge list over scalar/dict)
                        _record_barrier(barriers, sp)
                    base = []
                target[k] = _merge_list(base, v, rp, sp, rules, dups, barriers)
        else:
            # a scalar RESETS the path: earlier ranges' dict/list children
            # must not resurface if a later release in THIS range turns the
            # field back into a dict (net tree then merges per-key)
            target[k] = v
            _record_barrier(barriers, sp)


def _merge_list(target_list: list, source_list: list, rule_path: tuple,
                spath: list, rules: dict, dups: list, barriers: list) -> list:
    index: dict[Any, dict] = {}
    order: list[Any] = []
    for entry in target_list:
        if isinstance(entry, dict):
            key = entry.get("id", ("__idx__", len(order)))
            if key not in index:
                index[key] = entry
                order.append(key)
    seen: set = set()
    path_str = ".".join(rule_path)
    for pos, item in enumerate(source_list):
        key = _entry_key(item, pos)
        if key in seen:
            dups.append(
                (path_str, f"Multiple objects have the `id` value '{key}' in the `{path_str}` array")
            )
        seen.add(key)
        entry = index.get(key)
        if entry is None:
            entry = {}
            index[key] = entry
            order.append(key)
        _apply(entry, item, rule_path, spath + [_barrier_elem(key)],
               rules, dups, barriers)
    return [index[k] for k in order]


def build_partial(releases: list, rules: dict | None = None) -> dict:
    """Fold date-SORTED releases of one contiguous range into a partial.
    Returns a JSON-serializable dict; ``err`` set aborts the OCID."""
    if rules is None:
        rules = m.load_rules()
    for i, release in enumerate(releases):
        if not isinstance(release, dict):
            return {"err": {"type": "NonObjectReleaseError", "index": i,
                            "message": "must be an object"}}
        if "date" not in release:
            return {"err": {"type": "MissingDateKeyError", "index": i,
                            "message": "is missing a 'date' key"}}
        if release["date"] is None:
            return {"err": {"type": "NullDateValueError", "index": i,
                            "message": "has a null 'date' value"}}

    tree: dict = {}
    barriers: list = []
    dups: list = []
    rep: list = []
    prev_date = None
    try:
        for i, release in enumerate(releases):
            date = release["date"]
            if prev_date is not None and date == prev_date:
                rep.append([i, date])
            prev_date = date
            _apply(tree, release, (), [], rules, dups, barriers)
    except Incomposable:
        return {"incomposable": True}

    seen_b: set = set()
    uniq: list = []
    for b in barriers:
        s = json.dumps(b)
        if s not in seen_b:
            seen_b.add(s)
            uniq.append(b)
    barriers = uniq

    return {
        "tree": tree, "barriers": barriers,
        "n": len(releases),
        "first_date": releases[0]["date"], "last_date": releases[-1]["date"],
        "last_ocid": releases[-1].get("ocid"),
        "rep": rep, "dups": dups, "err": None,
    }


def _delete_path(node, path: list) -> None:
    """Remove the subtree at a structural barrier path from ``node``."""
    if not path:
        return
    head, rest = path[0], path[1:]
    if isinstance(head, dict):  # array entry by id
        if not isinstance(node, list):
            return
        for entry in node:
            if isinstance(entry, dict) and entry.get("id") == head["id"]:
                if rest:
                    _delete_path(entry, rest)
                else:
                    entry.clear()
                    entry["id"] = head["id"]
        return
    if not isinstance(node, dict):
        return
    if not rest:
        node.pop(head, None)
    else:
        if head in node:
            _delete_path(node[head], rest)


def compose(acc: dict, nxt: dict, rules: dict) -> dict:
    """Apply partial ``nxt`` (a LATER date range) onto ``acc``."""
    for path in nxt["barriers"]:
        _delete_path(acc["tree"], path)
    dups: list = []
    # deep-merge the net trees with the ordinary merge semantics; duplicate
    # ids were already counted per release in phase A, so discard phase-B's
    sink: list = []
    m._merge_object(acc["tree"], nxt["tree"], (), rules, sink)
    acc["barriers"] = acc["barriers"] + nxt["barriers"]
    # boundary repeated-date check, then shift nxt's local indices
    if acc["last_date"] is not None and nxt["first_date"] == acc["last_date"]:
        acc["rep"] = acc["rep"] + [[acc["n"], nxt["first_date"]]]
        nxt_rep = [r for r in nxt["rep"] if r[0] != 0]
    else:
        nxt_rep = nxt["rep"]
    acc["rep"] = acc["rep"] + [[i + acc["n"], d] for i, d in nxt_rep]
    acc["dups"] = acc["dups"] + nxt["dups"]
    acc["n"] += nxt["n"]
    acc["last_date"] = nxt["last_date"]
    acc["last_ocid"] = nxt["last_ocid"] or acc["last_ocid"]
    return acc


def finalize(partials: list[dict], rules: dict | None = None
             ) -> tuple[dict | None, list[m.Note], dict | None]:
    """Compose date-ordered partials and produce (merged, warnings, err).
    Mirrors merge.create_compiled_release's tail."""
    if rules is None:
        rules = m.load_rules()
    offset = 0
    acc = None
    for p in partials:
        if p.get("incomposable"):
            return None, [], {"incomposable": True}
        if p.get("err"):
            e = dict(p["err"])
            e["index"] += offset
            return None, [], e
        offset += p["n"]
        acc = p if acc is None else compose(acc, p, rules)
    if acc is None:
        return None, [], {"type": "EmptyGroup", "index": 0, "message": "no releases"}

    warnings: list[m.Note] = []
    for i, date in acc["rep"]:
        warnings.append(m.Note(
            m.WARNING,
            f"Release at index {i} has the same date '{date}' as the previous release",
            {"type": "RepeatedDateValueWarning", "date": date, "index": i},
        ))
    if acc["dups"]:
        paths: dict[str, int] = {}
        for path, _ in acc["dups"]:
            paths[path] = paths.get(path, 0) + 1
        warnings.append(m.Note(
            m.WARNING,
            "\n".join(msg for _, msg in acc["dups"]),
            {"type": "DuplicateIdValueWarning", "paths": paths},
        ))

    merged = acc["tree"]
    ocid = acc["last_ocid"]
    max_date = acc["last_date"]
    merged["ocid"] = ocid
    merged["id"] = f"{ocid}-{max_date}"
    merged["date"] = max_date
    merged["tag"] = ["compiled"]
    return merged, warnings, None


def two_phase_compile(releases: list, rules: dict | None = None,
                      batch: int = BATCH) -> tuple[dict | None, list[m.Note]]:
    """Pure-Python reference path for the two-phase pipeline: sort, split
    into date-contiguous batches, build partials, finalize. Falls back to
    the single-phase engine on incomposable data — used directly by the
    equivalence tests and as the driver of the distributed path's
    semantics."""
    try:
        ordered = sorted(releases, key=lambda r: r["date"])
    except (TypeError, KeyError):
        return _fallback(releases, rules)
    partials = [build_partial(ordered[i:i + batch], rules)
                for i in range(0, len(ordered), batch)]
    merged, warnings, err = finalize(partials)
    if err is not None:
        if err.get("incomposable"):
            return _fallback(releases, rules)
        exc = {"NonObjectReleaseError": m.NonObjectReleaseError,
               "MissingDateKeyError": m.MissingDateKeyError,
               "NullDateValueError": m.NullDateValueError}.get(err["type"], m.MergeError)
        raise exc(f"Release at index {err['index']} {err['message']}",
                  index=err["index"])
    return merged, warnings


def _fallback(releases: list, rules: dict | None):
    return m.create_compiled_release(releases, rules)
