"""Drift corpus: every sweep operation id and every EPSG code must give
bit-for-bit the outputs frozen in tests/data/drift_corpus.npz.

This is drift detection, not ground truth: the corpus holds what the
engine computed when it was frozen (scripts/freeze_drift_corpus.py),
so a failure means outputs moved, not that they became wrong.  A change
meant to move outputs re-freezes the corpus and says which cases moved.
The corpus was frozen with NumPy 1.26.4; another NumPy build, or another
CPU's vectorised math routines, can move last bits, and then the corpus
is re-frozen at the parent commit of the change that moves them.
"""

import os

import numpy as np
import pytest

from scripts.freeze_drift_corpus import DEFAULT_OUT, run_epsg, run_op
from tests.test_registry_sweep import (register_sweep_grids,
                                       unregister_sweep_grids)

CORPUS = dict(np.load(DEFAULT_OUT))
LABELS = [str(v) for v in CORPUS["op_labels"]]


def test_corpus_is_small():
    assert os.path.getsize(DEFAULT_OUT) < 1_000_000


@pytest.fixture(scope="module")
def _sweep_grids():
    register_sweep_grids()
    yield
    unregister_sweep_grids()


@pytest.mark.parametrize("i", range(len(LABELS)), ids=LABELS)
def test_op_matches_corpus(i, _sweep_grids):
    fwd, inv = run_op(str(CORPUS["op_projstrings"][i]),
                      CORPUS["op_lon"], CORPUS["op_lat"])
    np.testing.assert_array_equal(fwd, CORPUS["op_fwd"][i])
    np.testing.assert_array_equal(inv, CORPUS["op_inv"][i])


def test_epsg_matches_corpus():
    moved = []
    for code, lonlat, fwd0, inv0 in zip(
            CORPUS["epsg_codes"], CORPUS["epsg_lonlat"],
            CORPUS["epsg_fwd"], CORPUS["epsg_inv"]):
        probe, fwd, inv = run_epsg(int(code))
        same = (np.array_equal(probe, lonlat)
                and np.array_equal(fwd, fwd0, equal_nan=True)
                and np.array_equal(inv, inv0, equal_nan=True))
        if not same:
            moved.append(int(code))
    assert not moved, f"{len(moved)} EPSG codes moved: {moved[:20]}"
