"""Benchmark of pumle_spark, end to end and per layer.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

Workloads: ``pipeline_golden`` and ``query_mix`` (see workloads.py). Run
from the root of a source checkout; the benchmark generates its inputs
from ``--seed`` under ``.perfbench/`` there, starts Spark on
``local[<cores>]``, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` tags every
span with a Spark job group, forces the physical plan of each query before
its write, reads the Spark UI's monitoring REST API at the end, writes the
spans to ``.perfbench/spans-<workload>-<seed>.json`` and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_golden", "query_mix")
# The query tables are one fixed data set; --seed sets the order of the
# queries in each pass.
TABLE_SEED = 42

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p80_s": "s",
             "rows_per_s": "rows/s"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb") or name.endswith("mb_written"):
        return "MB"
    if name.endswith(("_share", "_frac", "_max")):
        return "ratio"
    return "count"


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload."""
    from workloads import TRACED_QUERIES

    exec_ = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew_max", "idle_core_frac"]
    names = [
        "session.get_spark_s", "memory.peak_rss_mb", "workload.import_s", "tables.warm_s",
        "workload.build_s", "workload.build_jobs", "workload.build_share", "catalyst.plan_s",
        "exec.write_s", *[f"exec.{m}" for m in exec_],
        "bronze.read_s", "bronze.mb", "bronze.tasks",
        "ingest.build_s", "ingest.write_s", "ingest.shuffle_write_mb", "ingest.spill_mb",
        "ingest.task_skew_max", "ingest.golden_rows", "ingest.nonnull_rows", "ingest.rows_dropped",
        "exports.csv_s", "exports.csv_rows", "exports.npy_s", "exports.npy_files",
        "exports.mb_written",
        "sweep.build_s", "sweep.rows",
        "catalog.register_s", "catalog.reregister_s", "catalog.update_status_s",
        "catalog.registered", "catalog.hash_collisions",
        "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s", "trace.attributed_share",
    ]
    for q in TRACED_QUERIES:
        names += [f"q.{q}.build_s", f"q.{q}.exec_s", f"q.{q}.jobs"]
    return names


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _fresh_dir(parent: str, name: str, build) -> tuple[str, object]:
    """``parent/name`` built by ``build(path)`` once; other entries of
    ``parent`` (inputs of earlier seeds) are removed. Returns the path and
    the facts ``build`` returned, kept next to the data."""
    path = os.path.join(parent, name)
    facts_file = path + ".facts.json"
    if os.path.exists(facts_file):
        with open(facts_file) as fh:
            return path, json.load(fh)
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent)
    facts = build(path)
    with open(facts_file, "w") as fh:
        json.dump(facts, fh)
    return path, facts


def _fleet_facts(facts: dict) -> dict:
    """JSON-safe facts: ACTNUM masks as lists; restored to arrays on use."""
    sims = [dict(s, actnum=s["actnum"].tolist()) for s in facts["sims"]]
    return dict(facts, sims=sims)


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    pids = _children(os.getpid())
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("pumle_spark/__init__.py", "tools/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a source checkout",
                  file=sys.stderr)
            return 2

    # Launcher: Python workers import pumle_spark (exports.export_tensors
    # pickles a closure from it), so they need the checkout on their path;
    # shuffle and spill files stay inside the checkout.
    bench_dir = os.path.join(ROOT, ".perfbench")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(bench_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM the run starts (the spark-submit launcher too) keeps its
    # temporary files in the checkout and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)

    import numpy as np

    import datagen
    import workloads as wl
    from spans import Tracer

    # inputs are generated outside timing and outside set-up time
    t_gen = time.perf_counter()
    if args.workload == "pipeline_golden":
        data_dir, facts = _fresh_dir(
            os.path.join(bench_dir, "fleet"), f"seed{args.seed}",
            lambda p: _fleet_facts(datagen.make_fleet(p, args.seed)))
        for s in facts["sims"]:
            s["actnum"] = np.asarray(s["actnum"])
        facts["dims"] = tuple(facts["dims"])
    else:
        data_dir, facts = _fresh_dir(
            os.path.join(bench_dir, "tables"), f"sf{datagen.SF}-seed{TABLE_SEED}",
            lambda p: datagen.make_tables(p, TABLE_SEED))
    gen_s = time.perf_counter() - t_gen
    work_dir = os.path.join(bench_dir, "work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)

    def setup() -> float:
        return time.perf_counter() - T_START - gen_s

    t0 = time.perf_counter()
    from pumle_spark.session import get_spark

    # the UI keeps every job and stage of a run, so traced runs can read
    # them back; identical in traced and untraced runs
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = wl.Ctx(spark, tracer, data_dir, work_dir, args.seed, args.seconds, facts)
        if args.workload == "pipeline_golden":
            res = wl.run_pipeline(ctx, setup)
        else:
            res = wl.run_queries(ctx, setup)
        if args.trace:
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            layers = {"session.get_spark_s": get_spark_s,
                      "memory.peak_rss_mb": _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")}
            for s in tracer.spans:
                if s["name"] in ("workload.import", "tables.warm"):
                    layers[s["name"] + "_s"] = tracer.dur(s)
            layers.update(res.layers)
            tracer.write(os.path.join(bench_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
    print(f"perfbench: inputs {gen_s:.1f}s, run {t_stop - T_START:.1f}s, stop "
          f"{time.perf_counter() - t_stop:.1f}s", file=sys.stderr)

    for e in res.errors:
        print(f"perfbench: FAIL {e}", file=sys.stderr)
    if not res.e2e:  # nothing completed, so there is nothing to report
        return 1
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": _unit(n)}
                   for n in layer_metric_names()}
    else:
        metrics = {n: {"value": float(res.e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({"correct": res.failed == 0 and res.attempted > 0,
                      "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
