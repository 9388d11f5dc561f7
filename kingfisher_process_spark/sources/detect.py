"""OCDS format detection (reference: file_worker.py:216-242 via the public
ocdskit ``detect_format``; behavior matrix fixed by
tests/processors/test_process_file.py:24-76 and the detect-format_*
fixtures).

Driver-side: reads one file (the first of a collection) and classifies it.
``data_type = {"format", "concatenated", "array"}`` then drives the
distributed parse (docs/database.rst:121-126).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from decimal import Decimal

from kingfisher_process_spark.util import strip_control_codes

RELEASE_PACKAGE = "release package"
RECORD_PACKAGE = "record package"
COMPILED_RELEASE = "compiled release"
RELEASE = "release"
RECORD = "record"
VERSIONED_RELEASE = "versioned release"
EMPTY_PACKAGE = "empty package"

SUPPORTED_FORMATS = {RELEASE_PACKAGE, RECORD_PACKAGE, COMPILED_RELEASE}


class FormatError(Exception):
    """A file whose OCDS format cannot be loaded."""


class UnknownFormatError(FormatError):
    pass


class UnsupportedFormatError(FormatError):
    pass


class EmptyFormatError(FormatError):
    pass


@dataclass
class DataType:
    format: str
    concatenated: bool
    array: bool

    def as_dict(self) -> dict:
        return {"format": self.format, "concatenated": self.concatenated, "array": self.array}


def parse_top_level(text: str) -> tuple[list, bool]:
    """Parse a file's text into its top-level JSON values.

    Handles single values and concatenated JSON (multiple top-level
    values back to back — reference S2, file_worker.py:255-319 uses
    ijson multiple_values). Returns (values, is_concatenated).
    """
    decoder = json.JSONDecoder(parse_float=Decimal)
    text = strip_control_codes(text)
    values = []
    idx = 0
    n = len(text)
    while idx < n:
        while idx < n and text[idx] in " \t\r\n":
            idx += 1
        if idx >= n:
            break
        value, idx = decoder.raw_decode(text, idx)
        values.append(value)
    return values, len(values) > 1


def classify(value) -> str:
    """Classify one top-level JSON value per the ocdskit public matrix."""
    if not isinstance(value, dict):
        raise UnknownFormatError("top-level JSON value is a non-OCDS value")
    if "records" in value:
        return EMPTY_PACKAGE if not value["records"] else RECORD_PACKAGE
    if "releases" in value:
        if not value["releases"]:
            return EMPTY_PACKAGE
        items = value["releases"]
        # versioned releases wrap each field value in {releaseDate, value}
        if all(isinstance(r, dict) and "date" not in r for r in items) and any(
            isinstance(r, dict) and any(
                isinstance(v, list) and v and isinstance(v[0], dict) and "releaseDate" in v[0]
                for v in r.values()
            )
            for r in items
        ):
            return VERSIONED_RELEASE
        return RELEASE_PACKAGE
    if "tag" in value:
        tag = value["tag"]
        if isinstance(tag, list) and "compiled" in tag:
            return COMPILED_RELEASE
        return RELEASE
    if "ocid" in value:
        return VERSIONED_RELEASE
    raise UnknownFormatError("top-level JSON value is a non-OCDS object")


def detect_format(path: str) -> DataType:
    """Detect {format, concatenated, array} from a file.

    Raises EmptyFormatError / UnsupportedFormatError / UnknownFormatError
    exactly where the reference aborts the collection
    (file_worker.py:223-229).
    """
    with open(path, encoding="utf-8") as f:
        text = f.read()
    values, concatenated = parse_top_level(text)
    if not values:
        raise UnknownFormatError("no JSON value found")
    first = values[0]
    is_array = isinstance(first, list)
    target = first[0] if is_array and first else first
    if is_array and not first:
        raise UnknownFormatError("top-level JSON value is an empty array")
    fmt = classify(target)
    if fmt == EMPTY_PACKAGE:
        raise EmptyFormatError(f"Empty format '{fmt}' for file {path}.")
    if fmt not in SUPPORTED_FORMATS:
        raise UnsupportedFormatError(
            f"Unsupported format '{fmt}' for file {path}. "
            f"Must be one of: {', '.join(sorted(SUPPORTED_FORMATS))}."
        )
    return DataType(fmt, concatenated, is_array)
