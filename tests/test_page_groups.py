"""Spark-free tests of the page-group batch driver (operators/pagegroups):
batch streams are plain iterators of pandas frames, the shape mapInPandas
hands a kernel."""

import pandas as pd
import pytest

from pdftabextract_spark.operators.pagegroups import map_page_groups


def _batches(*rows_per_batch):
    """Each argument is one batch: a list of (doc_id, page, value) rows."""
    return iter([pd.DataFrame(rows, columns=["doc_id", "page", "v"])
                 .astype({"page": "int32", "v": "int64"})
                 for rows in rows_per_batch])


def _groups(pdf, starts):
    """Per-group summary: one row per page with its values in arrival
    order."""
    bounds = list(starts) + [len(pdf)]
    v = pdf["v"].to_numpy()
    return pd.DataFrame(
        [(pdf["doc_id"].iloc[s], int(pdf["page"].iloc[s]), list(v[s:e]))
         for s, e in zip(bounds[:-1], bounds[1:])],
        columns=["doc_id", "page", "vs"])


def _run(batches):
    out = list(map_page_groups(batches, _groups, "test_op"))
    if not out:
        return []
    return [tuple(r) for r in pd.concat(out).itertuples(index=False)]


def test_page_split_across_three_batches():
    got = _run(_batches(
        [("a", 1, 0), ("a", 2, 1)],
        [("a", 2, 2)],
        [("a", 2, 3), ("b", 1, 4)]))
    assert got == [("a", 1, [0]), ("a", 2, [1, 2, 3]), ("b", 1, [4])]


def test_empty_batches_between():
    empty = []
    got = _run(_batches(
        empty, [("a", 1, 0)], empty, empty, [("a", 1, 1), ("a", 3, 2)],
        empty))
    assert got == [("a", 1, [0, 1]), ("a", 3, [2])]
    assert _run(_batches(empty, empty)) == []


def test_one_row_batches():
    # page 2 of doc "b" is another group than page 2 of doc "a"
    rows = [("a", 1, 0), ("a", 1, 1), ("a", 2, 2), ("b", 2, 3), ("b", 2, 4)]
    got = _run(_batches(*[[r] for r in rows]))
    assert got == [("a", 1, [0, 1]), ("a", 2, [2]), ("b", 2, [3, 4])]


def test_held_last_key_recurring_merges():
    # page 3 is the last key of the first batch, so all its rows are held
    # back (the earlier one too) and merged with the next batch's rows
    got = _run(_batches(
        [("a", 3, 0), ("a", 2, 1), ("a", 3, 2)],
        [("a", 3, 3), ("a", 4, 4)]))
    assert got == [("a", 2, [1]), ("a", 3, [0, 2, 3]), ("a", 4, [4])]


def test_closed_key_recurring_raises_with_operator_name():
    with pytest.raises(RuntimeError) as exc:
        _run(_batches([("a", 1, 0), ("a", 2, 1)], [("a", 1, 2), ("a", 3, 3)]))
    msg = str(exc.value)
    assert msg.startswith("test_op:")
    assert "recurred" in msg and "page-contiguous" in msg


def test_closed_key_recurring_within_one_batch_raises():
    with pytest.raises(RuntimeError, match="test_op: .*recurred"):
        _run(_batches([("a", 1, 0), ("a", 2, 1), ("a", 1, 2), ("a", 3, 3)]))
