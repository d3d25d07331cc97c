"""The two benchmark workloads.

Each ``run_*`` function takes a ``Ctx`` whose session is already up, does
its untimed warm-up (counted in set-up time), runs timed passes until the
measuring time is spent, checks the outputs, and returns a ``Result``.

- ``query_mix``: a cross-section of the ``bench.HEADLINE`` queries into
  the noop sink. Fixed per-query overhead (plan construction, planning,
  job scheduling) and eager checkpoints dominate it; nothing in it ingests.
- ``pipeline_golden``: the paper's flow, sweep → catalog → bronze →
  ingest → exports, on a seeded bronze fleet. The only workload that
  exercises those modules, and the only write-heavy one.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import datagen
from spans import SparkWork, Tracer, percentile

# Three of the build-heaviest bench.HEADLINE queries (plan construction is
# most of their latency; dedup_minhash_clusters runs an eager checkpoint per
# connected-components round and corpus_clean_pipeline one per call) and
# eight cheap ones across the other families: TPC-H core, aggregation,
# sets, windows, events, physics and the PUMLE domain functions.
QUERY_MIX = (
    "dedup_minhash_clusters", "dedup_minhash_lsh", "corpus_clean_pipeline",
    "q1_pricing_summary", "q6_forecast_revenue", "agg_rollup_region_nation",
    "set_except_customers", "window_dense_rank_ntile", "events_sessionize",
    "physics_brine_properties", "scatter_dense_grid",
)
TRACED_QUERIES = QUERY_MIX[:3]

# Four Fluid parameters swept at delta 0.1: 10 points each, 10,000 sets.
FLUID_BASE = {
    "cp_rock": 4e-5, "pe": 5.0, "pres_ref": 35.0, "rho_h2o": 1000.0,
    "src": 0.21, "srw": 0.11, "temp_ref": 95.15, "xnacl": 0.1,
}
SWEPT = ("pres_ref", "temp_ref", "srw", "src")
SWEEP_DELTA = 0.1

# Timed passes run until the measuring time is spent and at least this many
# have run. Passes still speed up for a few passes after the warm-up as the
# JIT compiles, and each metric takes the fastest pass (see _p50_p80), so
# three passes let it come from a warm JVM. The measuring time is set below
# three passes' length, so a faster or slower host does not change how many
# passes run, and with it how warm the fastest one is.
TIMED_PASSES = 3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    data_dir: str   # query tables, or the bronze fleet
    work_dir: str   # outputs of this run
    seed: int
    seconds: float
    facts: dict     # what the generator knows about its inputs


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _p50_p80(samples: dict[str, list[float]]) -> dict[str, float]:
    """Percentiles over operations of each operation's fastest timed run.

    The host's speed varies from second to second and only ever slows an
    operation down, so the fastest of its runs is the steadiest estimate of
    its latency; the percentiles then spread over the operations."""
    best = [min(v) for v in samples.values()]
    return {"query_p50_s": percentile(best, 50), "query_p80_s": percentile(best, 80)}


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


def _oracle_problems(con, sql: str, spdf, oc) -> list[str]:
    """The comparison of tools/oracle_check.py: oracle type lint, row count,
    column names, numeric dtype kind and order-insensitive value hash."""
    problems = [f"oracle emits banned type {t}" for t in oc.lint_oracle_types(con, sql)]
    dpdf = con.execute(sql).df()
    sc, sr = oc.canon_rows(list(spdf.columns), list(spdf.itertuples(index=False, name=None)))
    dc, dr = oc.canon_rows(list(dpdf.columns), list(dpdf.itertuples(index=False, name=None)))
    if len(sr) != len(dr):
        problems.append(f"rowcount spark={len(sr)} duckdb={len(dr)}")
    if sc != dc:
        problems.append(f"columns spark={sc} duckdb={dc}")
    if not problems:
        sk, dk = oc._kinds(spdf), oc._kinds(dpdf)
        for c in sc:
            if sk[c] != dk[c] and {sk[c], dk[c]} <= {"i", "u", "f"} and "f" in {sk[c], dk[c]}:
                problems.append(f"dtype kind {c}: spark={sk[c]} duckdb={dk[c]}")
    if not problems and oc.value_hash(sr) != oc.value_hash(dr):
        problems.append("value hash mismatch")
    return problems


def run_queries(ctx: Ctx, setup) -> Result:
    """``setup`` is the set-up time spent so far; warm-up adds to it."""
    import duckdb

    from pumle_spark.tables import TABLE_NAMES, table
    from tools import oracle_check as oc

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    with tr.span("workload.import"):
        from pumle_spark import workload

        qs, oracles = workload.queries(), workload.oracle_sql()
    # the tables layer lists each file and reads its footer once per
    # session, then hands every query the cached DataFrame
    with tr.span("tables.warm"):
        for t in TABLE_NAMES:
            table(spark, ctx.data_dir, t)

    # warm pass: every query once, collected; its result is what the
    # oracle checks after timing
    outputs = {}
    with tr.span("warm"):
        for name in QUERY_MIX:
            res.attempted += 1
            try:
                outputs[name] = qs[name](spark, ctx.data_dir).toPandas()
            except Exception as exc:  # a failing query is counted, never dropped
                res.fail(f"{name}: warm pass raised {type(exc).__name__}: {exc}")
    setup_s = setup()

    order = list(QUERY_MIX)
    rng = random.Random(ctx.seed)
    latencies: dict[str, list[float]] = {name: [] for name in QUERY_MIX}
    walls: list[float] = []
    build_s, plan_s, exec_s = [], [], []
    passes = []

    def timed_pass(traced: bool) -> None:
        rng.shuffle(order)
        b = p = e = 0.0
        with tr.span("pass") as ps:
            for name in order:
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(f"q.{name}"):
                        with tr.span("build"):
                            df = qs[name](spark, ctx.data_dir)
                        t1 = time.perf_counter()
                        if traced:
                            with tr.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                        with tr.span("exec"):
                            _noop(df)
                except Exception as exc:
                    res.fail(f"{name}: timed pass raised {type(exc).__name__}: {exc}")
                    continue
                t3 = time.perf_counter()
                latencies[name].append(t3 - t0)
                b, p, e = b + t1 - t0, p + t2 - t1, e + t3 - t2
        walls.append(tr.dur(ps))
        build_s.append(b)
        plan_s.append(p)
        exec_s.append(e)
        passes.append(ps["id"])

    traced, tr.enabled = tr.enabled, False
    t_start = time.perf_counter()
    while len(passes) < TIMED_PASSES or time.perf_counter() - t_start < ctx.seconds:
        timed_pass(traced=False)
    if traced:
        tr.enabled = True
        timed_pass(traced=True)
        tr.enabled = False
        timed_pass(traced=False)

    # correctness, outside timing: DuckDB runs each oracle on the same files
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data_dir}/{t}.parquet')")
    for name, spdf in outputs.items():
        try:
            problems = _oracle_problems(con, oracles[name], spdf, oc)
        except Exception as exc:
            problems = [f"oracle raised {type(exc).__name__}: {exc}"]
        if problems:
            res.fail(f"{name}: " + "; ".join(problems))
    con.close()

    done = {name: v for name, v in latencies.items() if v}
    if not done:
        return res
    wall = min(walls)
    res.e2e = {"setup_s": setup_s, "wall_s": wall, **_p50_p80(done),
               # result rows of one pass per second of the fastest pass
               "rows_per_s": sum(len(o) for o in outputs.values()) / wall}
    if traced:
        tr.enabled = True
        res.layers = _query_layers(ctx, passes[-2], walls[-2], _untraced_wall(walls),
                                   build_s[-2], plan_s[-2], exec_s[-2])
    return res


def _untraced_wall(walls: list[float]) -> float:
    """Passes still speed up as the JIT warms, so the traced pass
    (``walls[-2]``) is compared with the mean of the untraced passes on
    either side of it."""
    return (walls[-3] + walls[-1]) / 2


def _query_layers(ctx: Ctx, pass_id: int, wall: float, untraced_wall: float,
                  build: float, plan: float, exe: float) -> dict[str, float]:
    tr = ctx.tracer
    work = SparkWork(ctx.spark)
    spans = tr.spans
    in_pass = tr.descendants(pass_id)
    build_ids = {s["id"] for s in spans if s["id"] in in_pass and s["name"] == "build"}
    exec_ids = {s["id"] for s in spans if s["id"] in in_pass and s["name"] == "exec"}
    out = {
        "workload.build_s": build,
        "workload.build_jobs": len(work.jobs_of(build_ids)),
        "workload.build_share": build / wall,
        "catalyst.plan_s": plan,
        "exec.write_s": exe,
        **work.summary(exec_ids, "exec"),
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        # share of the traced pass that build + plan + exec self times cover
        "trace.attributed_share": sum(
            tr.self_time(s) for s in spans
            if s["id"] in in_pass and s["name"] in ("build", "plan", "exec")) / wall,
    }
    cores = ctx.spark.sparkContext.defaultParallelism
    out["exec.idle_core_frac"] = 1.0 - out["exec.executor_run_s"] / (cores * exe)
    for s in spans:
        if s["id"] in in_pass and s["name"].startswith("q.") and s["name"][2:] in TRACED_QUERIES:
            kids = {c["name"]: c for c in tr.children(s["id"])}
            out[f"{s['name']}.build_s"] = tr.dur(kids["build"])
            out[f"{s['name']}.exec_s"] = tr.dur(kids["exec"])
            out[f"{s['name']}.jobs"] = len(work.jobs_of(tr.descendants(s["id"])))
    return out


# ---------------------------------------------------------------------------
# pipeline_golden
# ---------------------------------------------------------------------------


def expected_hashes() -> list[str]:
    """md5[:8] of every swept parameter set, with stock json and hashlib,
    recomputed here from the sweep definition rather than read back."""
    from pumle_spark.sweep import VariedParam, n_points

    axes = []
    for name in SWEPT:
        lo, hi = VariedParam(name, FLUID_BASE[name], SWEEP_DELTA).bounds
        pts = n_points(SWEEP_DELTA)
        axes.append([lo + i * (hi - lo) / (pts - 1) for i in range(pts)])
    out = []
    for combo in itertools.product(*axes):
        params = dict(FLUID_BASE, **dict(zip(SWEPT, combo)))
        out.append(hashlib.md5(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8])
    return out


def _pipeline_pass(ctx: Ctx, out_dir: str) -> dict:
    """One run of the paper's flow into ``out_dir``, replacing the outputs of
    the run before; returns per-step latencies and counts."""
    from pumle_spark.catalog import SimulationCatalog
    from pumle_spark.exports import export_tensors, write_tabular_csv
    from pumle_spark.ingest import ingest_golden, read_golden, write_golden
    from pumle_spark.sweep import VariedParam, generate_variations

    spark, tr = ctx.spark, ctx.tracer
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bronze, case = ctx.data_dir, datagen.CASE
    steps: dict[str, float] = {}
    out: dict = {"steps": steps, "dir": out_dir}

    @contextmanager
    def step(name):
        with tr.span(name) as s:
            yield s
        steps[name] = tr.dur(s)

    with tr.span("pass") as ps:
        with step("sweep.build"):
            sweep = generate_variations(
                spark, FLUID_BASE, [VariedParam(n, FLUID_BASE[n], SWEEP_DELTA) for n in SWEPT])
        cat = SimulationCatalog(spark, os.path.join(out_dir, "catalog"))
        with step("catalog.register"):
            out["registered"] = cat.register(sweep)
        with step("catalog.reregister"):
            out["reregistered"] = cat.register(sweep)
        with step("catalog.update_status"):
            cat.update_status(None, "COMPLETED")
        golden_path = os.path.join(out_dir, "golden")
        with step("ingest.build") as s:
            golden = ingest_golden(
                spark,
                states_glob=f"{bronze}/states_{case}_*.json",
                actnum_glob=f"{bronze}/grdecl_{case}_*.json",
                dims_path=f"{bronze}/g_{case}.json",
            )
        with step("ingest.write") as w:
            write_golden(golden, golden_path)
        out["ingest_s"] = w["end"] - s["start"]
        g = read_golden(spark, golden_path)
        with step("exports.csv"):
            write_tabular_csv(g, "sg", os.path.join(out_dir, "csv_sg"))
        with step("exports.npy"):
            export_tensors(g, datagen.DIMS, "pressure",
                           os.path.join(out_dir, "npy_pressure")).collect()
    out["pass"] = ps
    return out


def _check_pipeline(ctx: Ctx, run: dict, res: Result) -> dict[str, float]:
    """Compare the last pass's outputs with what the generator and the
    sweep definition say they must be; return the counts."""
    import pyspark.sql.functions as F

    from pumle_spark.catalog import SimulationCatalog
    from pumle_spark.ingest import read_golden, states_long
    from pumle_spark.sources.bronze import read_states

    spark, facts, d = ctx.spark, ctx.facts, run["dir"]
    hashes = expected_hashes()
    distinct = set(hashes)
    counts = {"sweep.rows": len(hashes), "catalog.registered": run["registered"],
              "catalog.hash_collisions": len(hashes) - len(distinct)}

    def check(ok: bool, msg: str) -> None:
        res.attempted += 1
        if not ok:
            res.fail(msg)

    check(run["registered"] == len(distinct),
          f"catalog registered {run['registered']}, expected {len(distinct)} distinct md5[:8]")
    check(run["reregistered"] == 0, f"re-register added {run['reregistered']} rows")
    rows = SimulationCatalog(spark, os.path.join(d, "catalog")).load() \
        .select("sim_hash", "status").collect()
    got = {r["sim_hash"] for r in rows}
    check(got == distinct, f"catalog holds {len(got - distinct)} hashes the sweep does not "
          f"give and lacks {len(distinct - got)} that it does")
    status = {r["status"] for r in rows}
    check(status == {"COMPLETED"}, f"catalog statuses after update: {status}")

    g = read_golden(spark, os.path.join(d, "golden"))
    row = g.agg(F.count("*").alias("n"), F.count("pressure").alias("nn")).first()
    case = datagen.CASE
    bronze_rows = states_long(read_states(spark, f"{ctx.data_dir}/states_{case}_*.json")).count()
    counts.update({"ingest.golden_rows": row["n"], "ingest.nonnull_rows": row["nn"],
                   "ingest.rows_dropped": bronze_rows - row["nn"]})
    check(row["n"] == facts["golden_rows"], f"golden rows {row['n']} != {facts['golden_rows']}")
    check(row["nn"] == facts["nonnull_rows"],
          f"non-null golden rows {row['nn']} != {facts['nonnull_rows']}")
    check(bronze_rows - row["nn"] == facts["extra_rows"],
          f"rows dropped {bronze_rows - row['nn']} != generator extra rows {facts['extra_rows']}")

    csv_rows = spark.read.option("header", True).csv(os.path.join(d, "csv_sg")).count()
    counts["exports.csv_rows"] = csv_rows
    want_csv = sum(
        int(np.count_nonzero(datagen.state_values(s["sim"], t, s["n_active"])[2]))
        for s in facts["sims"] for t in range(facts["n_t"]))
    check(csv_rows == want_csv, f"csv rows {csv_rows} != {want_csv}")

    npy_dir = os.path.join(d, "npy_pressure")
    files = sorted(os.listdir(npy_dir)) if os.path.isdir(npy_dir) else []
    counts["exports.npy_files"] = len(files)
    check(len(files) == len(facts["sims"]), f"npy files {len(files)} != {len(facts['sims'])}")
    ni, nj, nk = facts["dims"]
    shape = (ni, nj, nk, facts["n_t"])
    for f in files:
        got = np.load(os.path.join(npy_dir, f), mmap_mode="r").shape
        check(got == shape, f"{f}: shape {got} != {shape}")
    sim = facts["sims"][ctx.seed % len(facts["sims"])]
    path = os.path.join(npy_dir, f"pressure_{sim['hash']}.npy")
    flat = np.full((ni * nj * nk, facts["n_t"]), np.nan)
    active = np.flatnonzero(sim["actnum"])
    for t in range(facts["n_t"]):
        flat[active, t] = datagen.state_values(sim["sim"], t, sim["n_active"])[0]
    want = flat.reshape(shape, order="F")
    check(os.path.exists(path) and np.array_equal(np.load(path), want, equal_nan=True),
          f"tensor {path} is missing or differs from the generator's values")

    written = 0
    for sub in ("csv_sg", "npy_pressure"):
        for root, _, names in os.walk(os.path.join(d, sub)):
            written += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    counts["exports.mb_written"] = written / 2**20
    return counts


def run_pipeline(ctx: Ctx, setup) -> Result:
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    with tr.span("workload.import"):
        import pumle_spark.catalog  # noqa: F401
        import pumle_spark.exports  # noqa: F401
        import pumle_spark.ingest  # noqa: F401
        import pumle_spark.sweep  # noqa: F401
    # a warm-up on a smaller fleet leaves the first full-size pass about
    # 1.6x slower than the next, so the warm-up is a full pass
    with tr.span("warm"):
        res.attempted += 1
        try:
            _pipeline_pass(ctx, os.path.join(ctx.work_dir, "pass"))
        except Exception as exc:
            res.fail(f"warm-up pass raised {type(exc).__name__}: {exc}")
    setup_s = setup()

    if tr.enabled:  # the bronze scan alone, outside the timed passes
        from pumle_spark.sources.bronze import read_actnum, read_states

        case = datagen.CASE
        with tr.span("bronze.read") as br:
            _noop(read_states(spark, f"{ctx.data_dir}/states_{case}_*.json"))
            _noop(read_actnum(spark, f"{ctx.data_dir}/grdecl_{case}_*.json"))

    runs = []
    traced, tr.enabled = tr.enabled, False
    t_start = time.perf_counter()
    while len(runs) < TIMED_PASSES or time.perf_counter() - t_start < ctx.seconds:
        res.attempted += 1
        try:
            runs.append(_pipeline_pass(ctx, os.path.join(ctx.work_dir, "pass")))
        except Exception as exc:
            res.fail(f"pipeline pass raised {type(exc).__name__}: {exc}")
            break
    if not runs:
        return res
    if traced:
        for enabled in (True, False):
            tr.enabled = enabled
            res.attempted += 1
            runs.append(_pipeline_pass(ctx, os.path.join(ctx.work_dir, "pass")))
        tr.enabled = True

    try:
        counts = _check_pipeline(ctx, runs[-1], res)
    except Exception as exc:
        res.fail(f"output check raised {type(exc).__name__}: {exc}")
        counts = {}
    steps = {name: [r["steps"][name] for r in runs] for name in runs[0]["steps"]}
    res.e2e = {"setup_s": setup_s, "wall_s": min(tr.dur(r["pass"]) for r in runs),
               **_p50_p80(steps),
               "rows_per_s": ctx.facts["golden_rows"] / min(r["ingest_s"] for r in runs)}
    if traced:
        res.layers = _pipeline_layers(ctx, runs[-2], counts,
                                      _untraced_wall([tr.dur(r["pass"]) for r in runs]), br)
    return res


def _pipeline_layers(ctx: Ctx, run: dict, counts: dict, untraced_wall: float, br) -> dict:
    tr, work = ctx.tracer, SparkWork(ctx.spark)
    steps, ps = run["steps"], run["pass"]
    wall = tr.dur(ps)
    ids = {s["name"]: s["id"] for s in tr.spans if s["parent"] == ps["id"]}
    ingest = work.summary(tr.descendants(ids["ingest.build"]) | tr.descendants(ids["ingest.write"]),
                          "ingest")
    bronze = work.summary(tr.descendants(br["id"]), "bronze")
    out = {
        **counts,
        "sweep.build_s": steps["sweep.build"],
        "catalog.register_s": steps["catalog.register"],
        "catalog.reregister_s": steps["catalog.reregister"],
        "catalog.update_status_s": steps["catalog.update_status"],
        "bronze.read_s": tr.dur(br),
        "bronze.mb": bronze["bronze.input_mb"],
        "bronze.tasks": bronze["bronze.tasks"],
        "ingest.build_s": steps["ingest.build"],
        "ingest.write_s": steps["ingest.write"],
        "ingest.shuffle_write_mb": ingest["ingest.shuffle_write_mb"],
        "ingest.spill_mb": ingest["ingest.spill_mb"],
        "ingest.task_skew_max": ingest["ingest.task_skew_max"],
        "exports.csv_s": steps["exports.csv"],
        "exports.npy_s": steps["exports.npy"],
        # the steps that run Spark writes; the lazy bronze read runs
        # inside ingest.write
        "exec.write_s": steps["ingest.write"] + steps["exports.csv"] + steps["exports.npy"],
        **work.summary(tr.descendants(ps["id"]), "exec"),
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        "trace.attributed_share": sum(steps.values()) / wall,
    }
    cores = ctx.spark.sparkContext.defaultParallelism
    out["exec.idle_core_frac"] = 1.0 - out["exec.executor_run_s"] / (cores * wall)
    return out
