"""Seeded inputs for the benchmark: the query tables and the bronze fleet.

Both generators are pure functions of their seed. They write into a
directory of the checkout and return the facts the benchmark later checks
the program's outputs against; the program itself sees only the files.

The query tables are synthetic, modelled on the star schema of
TESTDATA.md (TPC-H-like tables plus events, documents and embeddings):
one single-row-group Parquet file per table, with the same column names,
Arrow types (int32/int64 keys, microsecond naive timestamps, list<float>
embeddings), row counts per scale factor and value ranges.

The bronze fleet mirrors the simulator output that ``sources.bronze``
reads: ``g_<case>.json``, one ``grdecl_<case>_<hash>.json`` ACTNUM mask
and one ``states_<case>_<hash>.json`` state array per simulation.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_ADJ = "large hot blue old cold red small new".split()
_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "click error purchase signup view".split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# Scale factor of the query tables: 60,000 lineitem rows.
SF = 0.01

_US_PER_DAY = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(iso: str) -> int:
    return int((np.datetime64(iso, "D") - _EPOCH).astype(int))


def _ts_days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly between two dates, inclusive."""
    d = rng.integers(_days(lo), _days(hi) + 1, n).astype(np.int64)
    return pa.array(d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def make_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten query tables at scale factor ``SF``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_users = int(15_000 * SF)
    n_docs, n_vecs = max(500, int(50_000 * SF)), max(500, int(20_000 * SF))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    t0 = _days("2024-01-01") * _US_PER_DAY
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in rng.integers(10, 101, n_docs)]
    # 5% near duplicates (an earlier document plus one token), so every
    # dedup path has true positives to find; no two documents are equal
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        near = texts[int(rng.integers(0, i))] + " dup"
        while near in texts:
            near = texts[int(rng.integers(0, i))] + " dup"
        texts[i] = near
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vecs,
    }


CASE = "GCS01"
# The fleet: 16 simulations on a 20x15x10 grid, 20 timesteps each.
N_SIMS = 16
DIMS = (20, 15, 10)
N_T = 20
# Every 8th simulation is oversized: it carries 5 state rows per timestep
# beyond its active count, which the ingest bounds filter must drop.
OVERSIZE_EVERY = 8
OVERSIZE_ROWS = 5


def make_fleet(out_dir: str, seed: int) -> dict:
    """Write a bronze fleet of ``N_SIMS`` simulations on grid ``DIMS`` with
    ``N_T`` timesteps each.

    The active fractions of the simulations are evenly spaced over
    [0.3, 0.9] in a seeded order, so every seed ingests about the same
    number of rows. State values are a pure function of (sim, t, row), so the
    expected tensors can be recomputed for any cell without storing them.

    Returns the facts the pipeline checks against: per-sim hash, active
    count and ACTNUM mask, and the fleet totals.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ni, nj, nk = DIMS
    n_cells = ni * nj * nk
    with open(os.path.join(out_dir, f"g_{CASE}.json"), "w") as fh:
        json.dump(list(DIMS), fh)
    hashes = [f"{h:08x}" for h in rng.choice(16**8, N_SIMS, replace=False)]
    fractions = rng.permutation(np.linspace(0.3, 0.9, N_SIMS))
    sims = []
    for s, h in enumerate(hashes):
        act = (rng.random(n_cells) < fractions[s]).astype(np.int64)
        act[0] = 1
        n_active = int(act.sum())
        extra = OVERSIZE_ROWS if s % OVERSIZE_EVERY == 0 else 0
        with open(os.path.join(out_dir, f"grdecl_{CASE}_{h}.json"), "w") as fh:
            fh.write("[" + ",".join(map(str, act.tolist())) + "]")
        with open(os.path.join(out_dir, f"states_{CASE}_{h}.json"), "w") as fh:
            fh.write("[")
            for t in range(N_T):
                p, sw, sg = state_values(s, t, n_active + extra)
                pairs = ",".join(f"[{a!r},{b!r}]" for a, b in zip(sw.tolist(), sg.tolist()))
                fh.write(("," if t else "") + '{"pressure":[' + ",".join(map(repr, p.tolist()))
                         + "],\"s\":[" + pairs + "]}")
            fh.write("]")
        sims.append({"sim": s, "hash": h, "actnum": act, "n_active": n_active, "extra": extra})
    return {
        "dims": DIMS,
        "n_t": N_T,
        "sims": sims,
        "golden_rows": N_SIMS * N_T * n_cells,
        "nonnull_rows": sum(x["n_active"] for x in sims) * N_T,
        "extra_rows": sum(x["extra"] for x in sims) * N_T,
    }


def state_values(sim: int, t: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pressure, water and gas saturation of the first ``n`` state rows of
    simulation ``sim`` at timestep ``t``. Gas saturation is 0 on every
    seventh row, so the nonzero filter of the CSV export has work to do."""
    r = np.arange(n)
    pressure = np.round(1.0e7 + 1.0e4 * t + 37.0 * r + 101.0 * sim, 3)
    sg = np.round(((r * 7 + t * 13 + sim * 3) % 97) / 100.0, 2)
    sg[r % 7 == 0] = 0.0
    return pressure, np.round(1.0 - sg, 2), sg
