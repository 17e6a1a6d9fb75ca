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
