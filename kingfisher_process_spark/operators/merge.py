"""OCDS merge engine — compile a date-ordered list of releases into one
compiled release (reference: process/processors/compiler.py:135-177 using
the public ocdsmerge semantics; golden behavior fixed by
tests/processors/test_compiler.py:10-125).

Pure Python, no Spark dependency: it runs once per OCID group inside the
arrow group walk (see operators/compile_release.py). Merge rules are derived
offline from the public OCDS 1.1.5 release schema (resources/merge_rules_1_1_5.json;
schema pinned by the reference at core/settings.py:269) so the engine is
standalone — no network, no schema fetch at runtime.

Semantics (public OCDS merge specification):

- Releases are sorted by ``date`` (stable) and applied in order; later
  values overwrite earlier ones, field by field.
- ``omitWhenMerged`` fields (top-level ``id``/``date``/``tag``) are dropped;
  the result gets ``id = f"{ocid}-{max_date}"``, ``date = max_date``,
  ``tag = ["compiled"]``.
- Arrays of objects merge **by id** (first-appearance order, per-field
  last-wins); objects lacking ``id`` fall back to their array index.
- Arrays flagged ``wholeListMerge`` (e.g. ``additionalIdentifiers``,
  ``parties.roles``) and arrays with any non-object item are replaced
  wholesale.
- ``null`` deletes a field.
- Duplicate ids in one array → DuplicateIdValueWarning (aggregated into a
  single note, counting per path); equal adjacent dates →
  RepeatedDateValueWarning; non-object release / missing / null date →
  MergeError → ERROR note, OCID skipped.
"""

from __future__ import annotations

import importlib.resources
import json
from typing import Any

INFO, WARNING, ERROR = "INFO", "WARNING", "ERROR"


class MergeError(Exception):
    """Base for errors that abort one OCID's compilation."""

    def __init__(self, message: str, **attrs: Any):
        super().__init__(message)
        self.attrs = attrs


class NonObjectReleaseError(MergeError):
    pass


class MissingDateKeyError(MergeError):
    pass


class NullDateValueError(MergeError):
    pass


class Note:
    __slots__ = ("code", "note", "data")

    def __init__(self, code: str, note: str, data: dict | None = None):
        self.code = code
        self.note = note
        self.data = data

    def as_tuple(self) -> tuple[str, str, str | None]:
        return (self.code, self.note, json.dumps(self.data) if self.data is not None else None)


_RULES: dict[str, frozenset] | None = None


def load_rules() -> dict[str, frozenset]:
    global _RULES
    if _RULES is None:
        ref = importlib.resources.files("kingfisher_process_spark") / "resources/merge_rules_1_1_5.json"
        raw = json.loads(ref.read_text())
        _RULES = {k: frozenset(v) for k, v in raw.items()}
    return _RULES


# process/util.py:22 — canonical registry URL shape for OCDS extensions
EXTENSION_URL = ("https://raw.githubusercontent.com/open-contracting-extensions/"
                 "ocds_{}_extension/master/extension.json")


def expand_extension_deps(extensions: set[str] | frozenset[str]) -> frozenset[str]:
    """Inter-extension dependency closure (process/util.py:172-183): the
    master lots extension depends on the submissionTerms extension."""
    out = set(extensions)
    if EXTENSION_URL.format("lots") in out:
        out.add(EXTENSION_URL.format("submissionTerms"))
    return frozenset(out)


def load_extension_bundle(bundle_dir: str) -> dict[str, dict]:
    """Offline extension-schema retrieval: load release-schema patches for
    extension URLs from a local directory of pre-downloaded files — the
    no-network analogue of the reference's compile-time extension fetch,
    with the same degrade-on-missing behavior (a fetch/parse failure
    becomes a WARNING downstream and base 1.1.5 rules apply —
    process/processors/compiler.py:136-140).

    Layout: ``bundle_dir/index.json`` maps each extension URL (as declared
    in package metadata) to a relative path — either a
    ``release-schema.json`` patch file directly, or a directory containing
    one (the layout ``ocdsextensionregistry`` produces when downloading an
    extension). Entries whose file is missing or unparseable are skipped:
    compile then emits the standard extension WARNING for that URL rather
    than failing.
    """
    import os

    index_path = os.path.join(bundle_dir, "index.json")
    with open(index_path) as f:
        index = json.load(f)
    out: dict[str, dict] = {}
    for url, rel in index.items():
        p = os.path.join(bundle_dir, rel)
        if os.path.isdir(p):
            p = os.path.join(p, "release-schema.json")
        try:
            with open(p) as f:
                out[url] = json.load(f)
        except (OSError, ValueError):
            continue
    return out


def json_merge_patch(target: Any, patch: Any) -> Any:
    """RFC 7386 json-merge-patch — how OCDS extensions modify the base
    release schema (the reference applies the same via ProfileBuilder /
    json-merge-patch, processors/compiler.py:170-177)."""
    if not isinstance(patch, dict):
        return patch
    if not isinstance(target, dict):
        target = {}
    out = dict(target)
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = json_merge_patch(out.get(k), v)
    return out


def load_base_release_schema() -> dict:
    """The vendored OCDS 1.1.5 release schema (the reference pins the same
    version: core/settings.py:269)."""
    import gzip

    ref = (importlib.resources.files("kingfisher_process_spark")
           / "resources/release_schema_1_1_5.json.gz")
    with gzip.open(ref.open("rb")) as f:
        return json.load(f)


def derive_merge_rules(schema: dict) -> dict[str, frozenset]:
    """Walk a (possibly extension-patched) release schema and derive the
    merge-rule table — the public ocdsmerge ``get_merge_rules`` semantics
    per the OCDS merging specification:

    - ``omitWhenMerged: true`` → drop the field when compiling;
    - ``wholeListMerge: true`` → replace the array wholesale;
    - an array of objects whose items schema has NO ``id`` property is
      wholeListMerge implicitly (the spec's identifier-merge requires a
      schema-declared id).

    ``#/definitions/`` refs are resolved with a cycle guard (recursive
    definitions stop contributing paths once revisited); rule paths are
    index-free dotted data paths ("parties.additionalIdentifiers").
    """
    defs = schema.get("definitions", {}) if isinstance(schema, dict) else {}
    rules: dict[str, set] = {}

    def resolve(node: Any, stack: tuple) -> tuple[Any, tuple] | None:
        while isinstance(node, dict) and "$ref" in node:
            r = node["$ref"]
            if not isinstance(r, str) or not r.startswith("#/definitions/") or r in stack:
                return None
            stack = stack + (r,)
            node = defs.get(r[len("#/definitions/"):])
        return node, stack

    def types_of(node: dict) -> list:
        t = node.get("type")
        return [t] if isinstance(t, str) else (t or [])

    def walk(node: Any, path: tuple, stack: tuple) -> None:
        res = resolve(node, stack)
        if res is None:
            return
        node, stack = res
        if not isinstance(node, dict):
            return
        if path:
            flags = set()
            if node.get("omitWhenMerged"):
                flags.add("omitWhenMerged")
            if node.get("wholeListMerge"):
                flags.add("wholeListMerge")
            if node.get("versionId"):
                # versioned-release rule only (public ocdsmerge collects
                # it the same way): an ``id`` inside an identifier-merged
                # array is a merge KEY (kept plain) unless the schema
                # marks it versionId — then it is data and versions like
                # any other field. Compile ignores this flag.
                flags.add("versionId")
            if "array" in types_of(node) and "items" in node:
                ires = resolve(node["items"], stack)
                if ires and isinstance(ires[0], dict):
                    inode = ires[0]
                    if ("object" in types_of(inode)
                            and "id" not in (inode.get("properties") or {})):
                        flags.add("wholeListMerge")
            if flags:
                rules[".".join(path)] = rules.get(".".join(path), set()) | flags
        # array items continue the SAME dotted path
        if "items" in node:
            ires = resolve(node["items"], stack)
            if ires and isinstance(ires[0], dict):
                props = ires[0].get("properties")
                if isinstance(props, dict):
                    for k, sub in props.items():
                        walk(sub, path + (k,), ires[1])
        props = node.get("properties")
        if isinstance(props, dict):
            for k, sub in props.items():
                walk(sub, path + (k,), stack)

    walk(schema, (), ())
    return {k: frozenset(v) for k, v in rules.items()}


_EXT_RULES_CACHE: dict[tuple, dict[str, frozenset]] = {}


def rules_with_extensions(extension_schemas: dict[str, dict] | None) -> dict[str, frozenset]:
    """Base 1.1.5 rules patched by each extension's merge annotations,
    applied in sorted-URL order (deterministic across executors). Memoized
    per schema-set — compile calls this once per OCID group."""
    if not extension_schemas:
        return load_rules()
    import hashlib

    key = tuple(sorted(
        (u, hashlib.md5(json.dumps(s, sort_keys=True).encode()).hexdigest())
        for u, s in extension_schemas.items()))
    rules = _EXT_RULES_CACHE.get(key)
    if rules is None:
        # exactly the reference's _get_merger: base schema + each
        # extension's release-schema patch (json-merge-patch, sorted-URL
        # order), rules re-derived from the PATCHED schema — so implicit
        # rules (id-less object arrays) come out right, not just explicit
        # flag annotations
        schema = load_base_release_schema()
        for url in sorted(extension_schemas):
            schema = json_merge_patch(schema, extension_schemas[url])
        rules = derive_merge_rules(schema)
        _EXT_RULES_CACHE[key] = rules
    return rules


def _merge_list(target_list: list, source_list: list, rule_path: tuple,
                rules: dict, dup_warnings: list) -> list:
    """Identifier-merge one array (all items are dicts)."""
    index: dict[Any, dict] = {}
    order: list[Any] = []
    for entry in target_list:
        if isinstance(entry, dict):
            key = entry.get("id", ("__idx__", len(order)))
            if key not in index:
                index[key] = entry
                order.append(key)
    seen_this_release: set = set()
    path_str = ".".join(rule_path)
    for pos, item in enumerate(source_list):
        key = item.get("id", ("__idx__", pos))
        if key in seen_this_release:
            dup_warnings.append(
                (path_str, f"Multiple objects have the `id` value '{key}' in the `{path_str}` array")
            )
        seen_this_release.add(key)
        entry = index.get(key)
        if entry is None:
            entry = {}
            index[key] = entry
            order.append(key)
        _merge_object(entry, item, rule_path, rules, dup_warnings)
    return [index[k] for k in order]


def _merge_object(target: dict, source: dict, rule_path: tuple,
                  rules: dict, dup_warnings: list) -> None:
    for k, v in source.items():
        rp = rule_path + (k,)
        flags = rules.get(".".join(rp), frozenset())
        if "omitWhenMerged" in flags:
            continue
        if v is None:
            target.pop(k, None)
        elif isinstance(v, dict):
            existing = target.get(k)
            if not isinstance(existing, dict):
                existing = {}
                target[k] = existing
            _merge_object(existing, v, rp, rules, dup_warnings)
        elif isinstance(v, list):
            if "wholeListMerge" in flags or not v or not all(isinstance(i, dict) for i in v):
                target[k] = v
            else:
                existing = target.get(k)
                base = existing if isinstance(existing, list) else []
                target[k] = _merge_list(base, v, rp, rules, dup_warnings)
        else:
            target[k] = v


def create_compiled_release(releases: list, rules: dict | None = None
                            ) -> tuple[dict, list[Note]]:
    """Merge ``releases`` (any order; sorted here by date) into one compiled
    release. Returns (merged, warning notes). Raises MergeError subclasses
    on structurally bad input.
    """
    if rules is None:
        rules = load_rules()

    for i, release in enumerate(releases):
        if not isinstance(release, dict):
            raise NonObjectReleaseError(f"Release at index {i} must be an object", index=i)
        if "date" not in release:
            raise MissingDateKeyError(f"Release at index {i} is missing a 'date' key", index=i)
        if release["date"] is None:
            raise NullDateValueError(f"Release at index {i} has a null 'date' value", index=i)

    ordered = sorted(releases, key=lambda r: r["date"])

    warnings: list[Note] = []
    dup_warnings: list[tuple[str, str]] = []
    merged: dict = {}
    prev_date = None
    for i, release in enumerate(ordered):
        date = release["date"]
        if prev_date is not None and date == prev_date:
            warnings.append(Note(
                WARNING,
                f"Release at index {i} has the same date '{date}' as the previous release",
                {"type": "RepeatedDateValueWarning", "date": date, "index": i},
            ))
        prev_date = date
        _merge_object(merged, release, (), rules, dup_warnings)

    if dup_warnings:
        # Aggregate like the reference (compiler.py:154-165): one WARNING
        # note joining all messages, with per-path occurrence counts.
        paths: dict[str, int] = {}
        for path, _ in dup_warnings:
            paths[path] = paths.get(path, 0) + 1
        warnings.append(Note(
            WARNING,
            "\n".join(msg for _, msg in dup_warnings),
            {"type": "DuplicateIdValueWarning", "paths": paths},
        ))

    ocid = ordered[-1].get("ocid") if ordered else None
    max_date = ordered[-1]["date"] if ordered else None
    merged["ocid"] = ocid
    merged["id"] = f"{ocid}-{max_date}"
    merged["date"] = max_date
    merged["tag"] = ["compiled"]
    return merged, warnings


class _Versions(list):
    """Marker for a versioned leaf — a list of
    {releaseID, releaseDate, releaseTag, value} entries. Subclasses list
    so the finished tree is directly JSON-serializable."""


def _ver_leaf(target: dict, key: str, value, meta: dict) -> None:
    entries = target.get(key)
    if not isinstance(entries, _Versions):
        entries = _Versions()
        target[key] = entries
    if entries and entries[-1]["value"] == value:
        return  # only changes are recorded
    entries.append({**meta, "value": value})


def _ver_list(target_list: list, source_list: list, rule_path: tuple,
              rules: dict, meta: dict) -> list:
    """Identifier-merge one array, versioning each item's fields."""
    index: dict[Any, dict] = {}
    order: list[Any] = []
    for entry in target_list:
        if isinstance(entry, dict):
            key = entry.get("id", ("__idx__", len(order)))
            if key not in index:
                index[key] = entry
                order.append(key)
    for pos, item in enumerate(source_list):
        key = item.get("id", ("__idx__", pos))
        entry = index.get(key)
        if entry is None:
            entry = {}
            index[key] = entry
            order.append(key)
        _ver_object(entry, item, rule_path, rules, meta, in_array_item=True)
    return [index[k] for k in order]


def _ver_object(target: dict, source: dict, rule_path: tuple,
                rules: dict, meta: dict, in_array_item: bool = False) -> None:
    for k, v in source.items():
        rp = rule_path + (k,)
        flags = rules.get(".".join(rp), frozenset())
        if "omitWhenMerged" in flags:
            continue
        if k == "id" and in_array_item and "versionId" not in flags:
            # the merge key itself: kept plain unless the schema opts it
            # into versioning with versionId (core 1.1.5 marks e.g.
            # Identifier.id, though those sit under wholeListMerge arrays
            # or plain objects; extensions can hit this path for real)
            target["id"] = v
            continue
        if v is None:
            # null marks a deletion; versioned output records no entry
            continue
        if isinstance(v, dict):
            existing = target.get(k)
            if not isinstance(existing, dict):
                existing = {}
                target[k] = existing
            _ver_object(existing, v, rp, rules, meta)
        elif isinstance(v, list) and v and all(isinstance(i, dict) for i in v) \
                and "wholeListMerge" not in flags:
            existing = target.get(k)
            base = existing if isinstance(existing, list) and not isinstance(existing, _Versions) else []
            target[k] = _ver_list(base, v, rp, rules, meta)
        else:
            # scalars, wholeListMerge arrays, empty or non-object arrays:
            # the whole value versions as one leaf
            _ver_leaf(target, k, v, meta)


def create_versioned_release(releases: list, rules: dict | None = None) -> dict:
    """The merge spec's second output: every field carries its history as
    a list of {releaseID, releaseDate, releaseTag, value} entries,
    appending an entry only when the value changes (public OCDS merging
    reference, 'Versioned data'). The reference engine rejects versioned
    releases as *input* (file_worker.py:216-242 format matrix) and never
    produces them; this is a capability extension the merge spec defines
    alongside the compiled release.

    Same structural validation as ``create_compiled_release``; top-level
    ``id``/``date``/``tag`` become per-entry provenance metadata, ``ocid``
    stays plain.
    """
    if rules is None:
        rules = load_rules()

    for i, release in enumerate(releases):
        if not isinstance(release, dict):
            raise NonObjectReleaseError(f"Release at index {i} must be an object", index=i)
        if "date" not in release:
            raise MissingDateKeyError(f"Release at index {i} is missing a 'date' key", index=i)
        if release["date"] is None:
            raise NullDateValueError(f"Release at index {i} has a null 'date' value", index=i)

    ordered = sorted(releases, key=lambda r: r["date"])
    versioned: dict = {}
    for release in ordered:
        meta = {"releaseID": release.get("id"),
                "releaseDate": release["date"],
                "releaseTag": release.get("tag")}
        _ver_object(versioned, release, (), rules, meta)
    if ordered:
        versioned["ocid"] = ordered[-1].get("ocid")
    return versioned


def compile_releases(ocid: str, releases: list, extensions: set | None = None,
                     rules: dict | None = None,
                     extension_schemas: dict[str, dict] | None = None
                     ) -> tuple[dict | None, list[Note]]:
    """The reference's compile_releases_by_ocdskit contract
    (processors/compiler.py:135-177): returns (merged | None, notes).

    Extension handling mirrors _get_merger (processors/compiler.py:170-177)
    minus the network: when the caller supplies an extension's
    ``release-schema.json`` patch (``extension_schemas[url]`` — prefetched
    or vendored), its merge annotations patch the base 1.1.5 rules and
    CHANGE merge behavior. URLs without a local schema degrade gracefully
    (SURVEY §7 step 4): a WARNING note, base rules for those paths.
    """
    notes: list[Note] = []
    exts = expand_extension_deps(extensions or set())
    local = {u: s for u, s in (extension_schemas or {}).items() if u in exts}
    for url in sorted(exts):
        if url in local:
            continue
        notes.append(Note(
            WARNING,
            f"{url}: extension schemas are not fetched by this engine; base 1.1.5 merge rules used",
            {"type": "ExtensionWarning"},
        ))
    if local and rules is None:
        rules = rules_with_extensions(local)
    try:
        merged, warnings = create_compiled_release(releases, rules)
    except MergeError as e:
        notes.append(Note(
            ERROR,
            f"OCID {ocid} can't be compiled",
            {"type": type(e).__name__, "message": str(e), **e.attrs},
        ))
        return None, notes
    notes.extend(warnings)
    return merged, notes
