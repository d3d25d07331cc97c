"""M1 bronze→golden end-to-end vs the NumPy reference oracle
(arrays.py:56-147 semantics, SURVEY §5.2 items 1-2)."""

from __future__ import annotations

import json

import numpy as np
import pyspark.sql.functions as F
import pytest

from pumle_spark.ingest import ingest_golden, read_golden, write_golden
from tests.fixtures import CASE, DIMS, make_bronze, numpy_golden_oracle, unsorted_golden_files

N_T = 3


@pytest.fixture(scope="module")
def bronze(tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze")
    sims = make_bronze(root, n_sims=2, n_t=N_T)
    return root, sims


def _ingest(spark, root):
    return ingest_golden(
        spark,
        states_glob=str(root / f"states_{CASE}_*.json"),
        actnum_glob=str(root / f"grdecl_{CASE}_*.json"),
        dims_path=str(root / f"g_{CASE}.json"),
    )


@pytest.fixture(scope="module")
def golden(spark, bronze):
    root, sims = bronze
    return _ingest(spark, root).cache(), sims


def test_golden_is_dense_per_sim(golden):
    df, sims = golden
    ncells = DIMS[0] * DIMS[1] * DIMS[2]
    counts = {r.sim_hash: r.n for r in df.groupBy("sim_hash").agg(F.count("*").alias("n")).collect()}
    assert counts == {h: ncells * N_T for h in sims}


def test_golden_matches_numpy_oracle(golden):
    df, sims = golden
    oracle = numpy_golden_oracle(sims, N_T)
    rows = df.collect()
    for r in rows:
        exp = oracle[r.sim_hash]
        for attr in ("pressure", "sw", "sg"):
            want = exp[attr][r.cell_id, r.t]
            got = getattr(r, attr)
            if np.isnan(want):
                assert got is None, f"{attr}@cell{r.cell_id},t{r.t}: want NaN got {got}"
            else:
                assert got == pytest.approx(want, rel=0, abs=0), (
                    f"{attr}@cell{r.cell_id},t{r.t}"
                )


def test_bounds_filter_drops_oversized_state_rows(golden):
    """Sim #0's states carry n_active+2 rows; the extras must vanish
    (P3, sim_results_parser.py:291-300)."""
    df, sims = golden
    for h, sim in sims.items():
        n_active = int(sim["actnum"].sum())
        n_obs = df.filter((F.col("sim_hash") == h) & F.col("pressure").isNotNull()).count()
        assert n_obs == n_active * N_T


def test_forder_ijk_roundtrip(golden):
    df, _ = golden
    ni, nj, _ = DIMS
    bad = df.filter(
        F.col("cell_id")
        != F.col("i").cast("bigint") + ni * (F.col("j").cast("bigint") + nj * F.col("k").cast("bigint"))
    ).count()
    assert bad == 0


def test_golden_parquet_roundtrip_partitioned(spark, golden, tmp_path):
    df, sims = golden
    path = str(tmp_path / "golden")
    write_golden(df, path)
    back = read_golden(spark, path)
    assert back.count() == df.count()
    # partition pruning: a sim_hash filter must not scan other partitions
    h = next(iter(sims))
    plan = back.filter(F.col("sim_hash") == h)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.filter(F.col("sim_hash") == h).count() == df.filter(
        F.col("sim_hash") == h
    ).count()


# ---------------------------------------------------------------------------
# Edge semantics of the scatter, pinned on a hand-written 2x2x1 fleet.

EDGE_DIMS = (2, 2, 1)


def _edge_state(pressure, s):
    return {"pressure": pressure, "s": s}


EDGE_SIMS = {
    # states but no grdecl file: every cell of every timestep is NULL
    "aaaaaaaa": {
        "actnum": None,
        "states": [_edge_state([1.0, 2.0], [[0.1, 0.9], [0.2, 0.8]])] * 2,
    },
    # ACTNUM shorter than the grid: cell 3 has no flag and stays NULL
    "bbbbbbbb": {
        "actnum": [1, 0, 1],
        "states": [_edge_state([10.0, 20.0], [[0.1, 0.9], [0.2, 0.8]])],
    },
    # ACTNUM longer than the grid: active cells 4 and 5 lie outside the
    # grid but still take state positions 2 and 3
    "cccccccc": {
        "actnum": [0, 1, 0, 1, 1, 1],
        "states": [_edge_state([30.0, 31.0, 32.0, 33.0, 34.0], [[0.3, 0.7]] * 5)],
    },
    # t0: pressure shorter than s; t1: empty s; t2: regular; t3: both
    # arrays empty, which leaves no state rows and so no golden rows
    "dddddddd": {
        "actnum": [1, 1, 1, 0],
        "states": [
            _edge_state([40.0], [[0.1, 0.9], [0.2, 0.8], [0.3, 0.7]]),
            _edge_state([41.0, 42.0, 43.0], []),
            _edge_state([44.0, 45.0, 46.0], [[0.4, 0.6], [0.5, 0.5], [0.6, 0.4]]),
            _edge_state([], []),
        ],
    },
}

# (sim_hash, t, cell_id, i, j, k, pressure, sw, sg)
EDGE_EXPECTED = (
    [("aaaaaaaa", t, c, c % 2, c // 2, 0, None, None, None) for t in (0, 1) for c in range(4)]
    + [
        ("bbbbbbbb", 0, 0, 0, 0, 0, 10.0, 0.1, 0.9),
        ("bbbbbbbb", 0, 1, 1, 0, 0, None, None, None),
        ("bbbbbbbb", 0, 2, 0, 1, 0, 20.0, 0.2, 0.8),
        ("bbbbbbbb", 0, 3, 1, 1, 0, None, None, None),
        ("cccccccc", 0, 0, 0, 0, 0, None, None, None),
        ("cccccccc", 0, 1, 1, 0, 0, 30.0, 0.3, 0.7),
        ("cccccccc", 0, 2, 0, 1, 0, None, None, None),
        ("cccccccc", 0, 3, 1, 1, 0, 31.0, 0.3, 0.7),
        ("dddddddd", 0, 0, 0, 0, 0, 40.0, 0.1, 0.9),
        ("dddddddd", 0, 1, 1, 0, 0, None, 0.2, 0.8),
        ("dddddddd", 0, 2, 0, 1, 0, None, 0.3, 0.7),
        ("dddddddd", 0, 3, 1, 1, 0, None, None, None),
        ("dddddddd", 1, 0, 0, 0, 0, 41.0, None, None),
        ("dddddddd", 1, 1, 1, 0, 0, 42.0, None, None),
        ("dddddddd", 1, 2, 0, 1, 0, 43.0, None, None),
        ("dddddddd", 1, 3, 1, 1, 0, None, None, None),
        ("dddddddd", 2, 0, 0, 0, 0, 44.0, 0.4, 0.6),
        ("dddddddd", 2, 1, 1, 0, 0, 45.0, 0.5, 0.5),
        ("dddddddd", 2, 2, 0, 1, 0, 46.0, 0.6, 0.4),
        ("dddddddd", 2, 3, 1, 1, 0, None, None, None),
    ]
)


@pytest.fixture(scope="module")
def edge_golden(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("edge_bronze")
    (root / f"g_{CASE}.json").write_text(json.dumps(list(EDGE_DIMS)))
    for h, sim in EDGE_SIMS.items():
        (root / f"states_{CASE}_{h}.json").write_text(json.dumps(sim["states"]))
        if sim["actnum"] is not None:
            (root / f"grdecl_{CASE}_{h}.json").write_text(json.dumps(sim["actnum"]))
    return _ingest(spark, root)


@pytest.mark.parametrize(
    "sim_hash",
    ["aaaaaaaa", "bbbbbbbb", "cccccccc", "dddddddd"],
    ids=["no_grdecl_all_null", "short_actnum", "long_actnum", "short_pressure_empty_s_empty_t"],
)
def test_edge_semantics(edge_golden, sim_hash):
    got = [tuple(r) for r in edge_golden.filter(F.col("sim_hash") == sim_hash).collect()]
    assert sorted(got) == sorted(r for r in EDGE_EXPECTED if r[0] == sim_hash)


# ---------------------------------------------------------------------------
# Golden file layout.


@pytest.fixture(scope="module")
def written_golden(spark, bronze, tmp_path_factory):
    root, sims = bronze
    path = tmp_path_factory.mktemp("golden_layout") / "golden"
    write_golden(_ingest(spark, root), str(path))
    return path, sims


def test_write_golden_one_file_per_sim(written_golden):
    path, sims = written_golden
    dirs = sorted(path.glob("sim_hash=*"))
    assert {d.name.split("=", 1)[1] for d in dirs} == set(sims)
    for d in dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d


def test_write_golden_files_sorted_by_t_cell(written_golden):
    """Row-group skipping on t needs every file sorted by (t, cell_id)."""
    path, _ = written_golden
    assert not unsorted_golden_files(path)
