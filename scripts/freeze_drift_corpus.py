"""Freeze the drift corpus: the engine's own outputs, stored so that a
later change can be checked bit for bit against them.

The corpus is drift detection, not ground truth.  It records what the
code did when it was frozen; it says nothing about whether that was
right (the gie corpus and the oracles judge that).

Coverage:

- every operation id of the registry sweep (tests/test_registry_sweep.py
  ``ALL_IDS`` with its ``PARAMS``/``GRID_OPS`` and synthetic grids), plus
  the push/pop combinator pipeline, on the sweep's 13x9 world grid with
  z=0, t=2018: the forward output and the inverse of that output, all
  four channels;
- every EPSG code through ``crs.compile_crs`` at its probe point
  (tests/test_epsg_registry.py ``_probe_point``), forward and inverse.

Run from the repository root:

    python scripts/freeze_drift_corpus.py [--out tests/data/drift_corpus.npz]

tests/test_drift_corpus.py recomputes every case with ``run_op`` and
``run_epsg`` and compares with ``assert_array_equal`` (NaN equal to NaN).
Re-freeze only for a change meant to move outputs, and say which.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

DEFAULT_OUT = os.path.join(ROOT, "tests", "data", "drift_corpus.npz")

PUSH_POP = ("+proj=pipeline +step +proj=push +v_1 +v_2 "
            "+step +proj=webmerc +R=6371000 +step +proj=pop +v_1 +v_2")


def op_cases() -> list[tuple[str, str]]:
    """(label, proj-string) for every sweep id and the push/pop pipeline."""
    from tests.test_registry_sweep import ALL_IDS, GRID_OPS, PARAMS, R

    cases = [(pid, f"+proj={pid} {GRID_OPS.get(pid) or PARAMS.get(pid) or R}")
             for pid in ALL_IDS]
    return cases + [("push+pop", PUSH_POP)]


def op_points() -> tuple[np.ndarray, np.ndarray]:
    from tests.test_registry_sweep import LAT, LON

    return LON.copy(), LAT.copy()


def run_op(projstring: str, lon, lat) -> tuple[np.ndarray, np.ndarray]:
    """(fwd, inv) as (4, n) arrays: forward of (lon, lat, 0, 2018) and
    the inverse of that forward output."""
    from proj_4_spark.proj import compile_projstring

    tr = compile_projstring(projstring)
    fwd = tr.transform_deg(lon, lat, z=np.zeros_like(lon),
                           t=np.full_like(lon, 2018.0))
    inv = tr.transform_deg(fwd[0], fwd[1], z=fwd[2], t=fwd[3],
                           direction="inv")
    return np.array(fwd), np.array(inv)


def run_epsg(code: int) -> tuple[tuple[float, float], np.ndarray,
                                 np.ndarray]:
    """(probe lon/lat, fwd (4,), inv (4,)) for one EPSG code."""
    from proj_4_spark import crs
    from tests.test_epsg_registry import _probe_point

    lon, lat = _probe_point(code, crs.epsg_projstring(code))
    tr = crs.compile_crs(code)
    fwd = tr.transform_deg(np.array([lon]), np.array([lat]))
    inv = tr.transform_deg(fwd[0], fwd[1], z=fwd[2], t=fwd[3],
                           direction="inv")
    return (lon, lat), np.array(fwd)[:, 0], np.array(inv)[:, 0]


def freeze() -> dict[str, np.ndarray]:
    from proj_4_spark import crs
    from tests.test_registry_sweep import (register_sweep_grids,
                                           unregister_sweep_grids)

    lon, lat = op_points()
    cases = op_cases()
    register_sweep_grids()
    try:
        ops = [run_op(s, lon, lat) for _, s in cases]
    finally:
        unregister_sweep_grids()
    codes = crs.registry_codes()
    epsg = [run_epsg(c) for c in codes]
    return {
        "op_labels": np.array([lbl for lbl, _ in cases]),
        "op_projstrings": np.array([s for _, s in cases]),
        "op_lon": lon, "op_lat": lat,
        "op_fwd": np.stack([f for f, _ in ops]),
        "op_inv": np.stack([i for _, i in ops]),
        "epsg_codes": np.array(codes, dtype=np.int64),
        "epsg_lonlat": np.array([p for p, _, _ in epsg]),
        "epsg_fwd": np.stack([f for _, f, _ in epsg]),
        "epsg_inv": np.stack([i for _, _, i in epsg]),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=DEFAULT_OUT)
    out = ap.parse_args().out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    np.savez_compressed(out, **freeze())
    print(f"{out}: {os.path.getsize(out)} bytes")


if __name__ == "__main__":
    main()
