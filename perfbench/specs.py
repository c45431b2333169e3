"""Constraint specs the workloads validate against. Kept here, not imported
from the repository's other scripts, so the benchmark's inputs change only
when this directory does."""

from __future__ import annotations

import copy
import math

# The flagship image+caption spec (draft-7, row-level checks only).
FLAGSHIP_SPEC = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["image_id", "w", "h", "fmt", "caption"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["raw", "rawz", "png", "jpg"]},
        "caption": {"type": "string", "minLength": 1, "maxLength": 1024,
                    "pattern": "^[\\x20-\\x7E]+$"},
        "phash": {"type": "integer", "format": "int64"},
    },
    "if": {"properties": {"fmt": {"const": "jpg"}}},
    "then": {"properties": {"w": {"multipleOf": 8}}},
}


def phash_weight_reference(rows: int) -> list[list[int]]:
    """Stored reference histogram of pHash Hamming weights: the binomial
    expectation for uniformly random 64-bit hashes, in the engine's
    ``width_bucket(weight, 0, 65, 65)`` numbering (weight w -> bucket w+1)."""
    return [[w + 1, int(round(rows * math.comb(64, w) / 2 ** 64))]
            for w in range(65)]


def typed_gate_spec(rows: int) -> dict:
    """Flagship spec plus the table-level extensions: uniqueness, a
    reference-table lookup, pHash-weight drift against a stored histogram
    and a caption null-fraction bound."""
    spec = copy.deepcopy(FLAGSHIP_SPEC)
    p = spec["properties"]
    p["image_id"]["x-unique"] = True
    p["fmt"]["$ref_data"] = "dim_fmt.fmt"
    p["phash"]["x-drift"] = {"kind": "phash_weight", "ks_threshold": 0.1,
                             "ref_histogram": phash_weight_reference(rows)}
    p["caption"]["x-null-fraction"] = 0.01
    return spec


ROUNDTRIP_SPEC = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["image_id", "bytes", "w", "h"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "bytes": {"x-roundtrip": {"psnr_db_min": 40.0}},
    },
}
