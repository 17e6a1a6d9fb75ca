"""Ragged-array offsets: how the batched kernels walk variable-length
groups without a Python loop."""

import numpy as np


def ragged_within(counts: np.ndarray) -> np.ndarray:
    """0..count-1 per group, flattened (the repeat/cumsum offset trick)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def ragged_argmin(offsets: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Per group ``values[offsets[i]:offsets[i + 1]]`` (``offsets[0]`` =
    0), the flat index of its minimum as ``np.argmin`` picks it: the first
    minimum, or the first NaN when the group holds one; -1 for an empty
    group."""
    counts = np.diff(offsets)
    out = np.full(len(counts), -1, dtype=np.int64)
    full = np.flatnonzero(counts)
    if len(full) == 0:
        return out
    values = values[:offsets[-1]]
    # the groups with values tile values[:offsets[-1]] without gaps, so
    # one reduceat over their starts reduces each of them (NaN wins)
    low = np.repeat(np.minimum.reduceat(values, offsets[full]), counts[full])
    hit = values == low
    if values.dtype.kind == "f":
        hit |= np.isnan(values) & np.isnan(low)
    idx = np.flatnonzero(hit)
    group = np.repeat(np.arange(len(full)), counts[full])[idx]
    out[full] = idx[np.r_[True, group[1:] != group[:-1]]]
    return out
