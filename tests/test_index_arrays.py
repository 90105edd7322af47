"""Driver-side preparation of an atom-index set, without Spark.

``_normalize_indices`` converts a list of rows through one flat list
when every row is a list or tuple of the operator's arity holding
integers, and through the nested ``np.asarray(list(pairs))`` otherwise.
These tests pin that every input gives the nested conversion's array,
or its exception type and message, and that ``_map_index_blocks``
hands the map the same atom axis and positions as a ``searchsorted``
over it, reading the session's block cap once.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from dask_traj_spark.operators import distance
from dask_traj_spark.operators.distance import _normalize_indices


def _nested(pairs, n_cols: int, n_atoms, name: str) -> np.ndarray:
    """The nested conversion every index set went through before the
    flat one: the oracle."""
    arr = np.asarray(list(pairs) if not isinstance(pairs, np.ndarray) else pairs)
    if arr.size == 0:
        return arr.reshape(0, n_cols).astype(np.int32)
    if arr.ndim != 2 or arr.shape[1] != n_cols:
        raise ValueError(f"{name} must have shape (n, {n_cols}), got {arr.shape}")
    if not np.issubdtype(arr.dtype, np.integer):
        raise ValueError(f"{name} must be integers")
    if arr.min() < 0 or (n_atoms is not None and arr.max() >= n_atoms):
        raise ValueError(f"{name} contains atom indices outside [0, {n_atoms})")
    return arr.astype(np.int32)


INPUTS = {
    "pairs": [(0, 1), (2, 9), (4, 4)],
    "lists": [[0, 1], [2, 3]],
    "tuple_of_rows": ((0, 1), (2, 3)),
    # a generator: each conversion gets a fresh one
    "generator": lambda: ((i, i + 1) for i in range(4)),
    "ndarray": np.array([[0, 1], [5, 6]]),
    "numpy_ints": [(np.int64(0), np.int32(1)), (np.int16(2), 3)],
    "bools_and_ints": [(True, 2), (0, 1)],
    "ndarray_rows": [np.array([0, 1]), np.array([2, 3])],
    "empty": [],
    "empty_row": [()],
    "floats": [(0.0, 1.0)],
    "float_mixed": [(0, 1.5)],
    "bools": [(True, False)],
    "digit_strings": [("1", "2")],
    "string_rows": ["12", "34"],
    "none": [(None, 1)],
    "big_int": [(2**70, 1)],
    "uint64_mixed": [(np.uint64(1), 2)],
    "sets": [{0, 1}, {2, 3}],
    "wrong_arity": [(0, 1, 2)],
    "ragged": [(0, 1), (2,)],
    "ragged_same_total": [(0, 1, 2), (3,)],
    "nested_items": [((0,), (1,))],
    "ragged_items": [([0, 1], [2])],
    "negative": [(0, -1)],
    "out_of_range": [(0, 10)],
}


def _outcome(fn, pairs):
    try:
        return fn(pairs, 2, 10, "atom_pairs")
    except Exception as e:  # noqa: BLE001 - the exception is the outcome
        return type(e), str(e)


@pytest.mark.parametrize("name", INPUTS)
def test_index_array_equals_the_nested_conversion(name):
    def pairs():
        return INPUTS[name]() if callable(INPUTS[name]) else INPUTS[name]

    want, got = _outcome(_nested, pairs()), _outcome(_normalize_indices, pairs())
    if isinstance(want, tuple):
        assert got == want
    else:
        assert isinstance(got, np.ndarray), got
        assert got.dtype == want.dtype and got.shape == want.shape
        np.testing.assert_array_equal(got, want)


def test_map_index_blocks_positions_equal_searchsorted(monkeypatch):
    """``const`` (each index's position on the feed's sorted atom axis)
    bit-equal to a ``searchsorted`` over ``np.unique``, for pairs,
    triplets and quartets; one block-cap read per call."""
    seen, caps = [], []

    def map_blocks(traj, fn, schema, atoms, periodic, const, cap):
        seen.append((atoms, const, cap))

    def block_cap(spark):
        caps.append(spark)
        return 7

    monkeypatch.setattr(distance, "_map_blocks", map_blocks)
    monkeypatch.setattr(distance, "_block_cap", block_cap)
    rng = np.random.default_rng(11)
    sets = [
        np.asarray(list(itertools.combinations(range(40), 2)), dtype=np.int32),
        rng.integers(0, 3000, (500, 3)).astype(np.int32),
        rng.integers(0, 50, (64, 4)).astype(np.int32),
        np.zeros((0, 2), dtype=np.int32),
    ]
    for arr in sets:
        caps.clear()
        distance._map_index_blocks(type("T", (), {"spark": "session"}), arr, None, "x int", False)
        atoms, const, cap = seen[-1]
        want_atoms = np.unique(arr)
        want = np.searchsorted(want_atoms, arr).astype(np.int32)
        np.testing.assert_array_equal(atoms, want_atoms)
        assert const.dtype == want.dtype and const.shape == want.shape
        np.testing.assert_array_equal(const.view(np.uint32), want.view(np.uint32))
        assert cap == 7 and caps == ["session"]
