"""Page-group batch driver for the per-page Arrow kernels.

A ``mapInPandas`` kernel that aggregates per (doc_id, page) sees its
partition as a stream of Arrow batches whose boundaries fall anywhere,
so a page can straddle two or more batches. The driver here owns the
three mechanics every such kernel needs, in one place:

* the ``doc_id\\0page`` group key, built once per incoming batch;
* the carry of the trailing page group into the next batch, so a page is
  processed exactly once, whole;
* the closed-group invariant: a page group closes the moment a different
  key follows it, and a closed key that recurs in the same partition
  means the input was not page-contiguous. That raises instead of
  emitting duplicate partial pages that would corrupt offsets
  downstream.
"""

import numpy as np
import pandas as pd


def page_keys(pdf: pd.DataFrame) -> np.ndarray:
    """Per-row (doc_id, page) group key as one string array."""
    return (pdf["doc_id"].astype(str) + "\x00"
            + pdf["page"].astype(str)).to_numpy()


def group_starts(keys: np.ndarray) -> np.ndarray:
    """Row offsets where a new run of equal keys begins."""
    return np.flatnonzero(np.concatenate([[True], keys[1:] != keys[:-1]]))


def map_page_groups(batches, process, op: str):
    """Run ``process(pdf, starts)`` over whole page groups of a
    page-contiguous batch stream; ``starts`` are the row offsets of the
    page groups in ``pdf``, each page complete and appearing once.

    Every row equal to a batch's last key is held back and merged with the
    next batch, so a held page that recurs is merged, never split. Any
    other recurrence of a closed key raises ``RuntimeError`` naming
    ``op``."""
    seen = set()

    def emit(pdf, keys):
        starts = group_starts(keys)
        for k in keys[starts]:
            if k in seen:
                raise RuntimeError(
                    "%s: page key %r recurred after its group closed — "
                    "input rows are not page-contiguous" % (op, k))
            seen.add(k)
        return process(pdf, starts)

    carry = carry_keys = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        keys = page_keys(pdf)
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            keys = np.concatenate([carry_keys, keys])
        hold = keys == keys[-1]
        carry, carry_keys = pdf[hold], keys[hold]
        if not hold.all():
            yield emit(pdf[~hold], keys[~hold])
    if carry is not None:
        yield emit(carry, carry_keys)
