"""Test-side fixture helpers: the bronze generator lives in the package
(pumle_spark.fixtures — the flagship pipeline query needs it too); the
NumPy reference oracle stays test-only."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from pumle_spark.fixtures import CASE, DIMS, make_bronze  # noqa: F401  (re-export)


def numpy_golden_oracle(sims: dict, n_t: int):
    """Reference consolidation (arrays.py:56-147): per sim, dense
    (ncells, T) arrays with NaN placeholder; scatter state rows at active
    indices with bounds filtering; returns {h: {"pressure": arr, ...}}."""
    ncells = DIMS[0] * DIMS[1] * DIMS[2]
    out = {}
    for h, sim in sims.items():
        idx = np.where(sim["actnum"])[0]
        arrs = {k: np.full((ncells, n_t), np.nan) for k in ("pressure", "sw", "sg")}
        for t, st in enumerate(sim["states"]):
            p = np.asarray(st["pressure"], dtype=float)
            s = np.asarray(st["s"], dtype=float)
            n = min(len(idx), len(p))  # bounds filter both directions
            arrs["pressure"][idx[:n], t] = p[:n]
            arrs["sw"][idx[:n], t] = s[:n, 0]
            arrs["sg"][idx[:n], t] = s[:n, 1]
        out[h] = arrs
    return out


def unsorted_golden_files(path) -> list[str]:
    """Part files of a golden tree whose rows are not in (t, cell_id) order,
    the order row-group skipping on t relies on."""
    bad = []
    for f in sorted(Path(path).glob("sim_hash=*/*.parquet")):
        tbl = pq.read_table(f, columns=["t", "cell_id"])
        keys = list(zip(tbl["t"].to_pylist(), tbl["cell_id"].to_pylist()))
        if keys != sorted(keys):
            bad.append(str(f))
    return bad
