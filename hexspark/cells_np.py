"""Vectorized numpy twins of :mod:`hexspark.cells`.

Used inside the compaction ``applyInPandas`` groups and for
driver-side work on broadcast-scale region tables (compaction, disk
tree layout, grid-disk neighbours).  The containment join does not use
them: it runs in the JVM on :mod:`hexspark.cells` Column expressions.
All functions operate on ``int64`` arrays (valid cells are
non-negative, see :mod:`hexspark.constants`) and are element-wise
equivalents of the reference bit math
(/root/reference/src/cell.rs:28-226).
"""

from __future__ import annotations

import numpy as np

from . import constants as K


def res(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.RES_OFFSET) & 0xF


def base_cell(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.BASE_OFFSET) & 0x7F


def mode(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.MODE_OFFSET) & 0xF


def digit(cells: np.ndarray, r) -> np.ndarray:
    shift = (K.MAX_RES - np.asarray(r)) * K.DIGIT_BITS
    return (cells >> shift) & 0x7


def is_valid(cells: np.ndarray) -> np.ndarray:
    return (cells >= 0) & (mode(cells) == K.MODE_CELL) & (
        base_cell(cells) < K.NUM_BASE_CELLS
    )


def to_parent(cells: np.ndarray, r) -> np.ndarray:
    """Promote to resolution ``r``; entries with res < r become -1
    (the numpy stand-in for NULL)."""
    r = np.asarray(r, dtype=np.int64)
    cur = res(cells)
    fill = (np.int64(1) << ((K.MAX_RES - r) * K.DIGIT_BITS)) - 1
    promoted = (cells & ~np.int64(K.RES_MASK)) | (r << K.RES_OFFSET) | fill
    out = np.where(cur == r, cells, promoted)
    return np.where(cur < r, np.int64(-1), out)


def lo(cells: np.ndarray) -> np.ndarray:
    t = (K.MAX_RES - res(cells)) * K.DIGIT_BITS
    mask = (np.int64(1) << t) - 1
    cleared = cells & ~mask
    return (cleared & ~np.int64(K.RES_MASK)) | np.int64(K.MAX_RES << K.RES_OFFSET)


def hi(cells: np.ndarray) -> np.ndarray:
    t = (K.MAX_RES - res(cells)) * K.DIGIT_BITS
    mask = (np.int64(1) << t) - 1
    filled = cells | mask
    return (filled & ~np.int64(K.RES_MASK)) | np.int64(K.MAX_RES << K.RES_OFFSET)


def is_related(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    common = np.minimum(res(a), res(b))
    return to_parent(a, common) == to_parent(b, common)


def make_cell(base, r, digits) -> np.ndarray:
    base = np.asarray(base, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    digits = np.asarray(digits, dtype=np.int64)
    return (
        np.int64(K.MODE_CELL << K.MODE_OFFSET)
        | (r << K.RES_OFFSET)
        | (base << K.BASE_OFFSET)
        | digits
    )

