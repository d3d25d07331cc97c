"""Bronze → golden ingest (SURVEY §3.2 — the heart of the engine).

Reference pipeline (eager, per-sim Python loop; sim_results_parser.py:260-328
+ arrays.py:56-147): read JSON states → project pressure/s → bounds-filter →
gather at active-cell indices → scatter into dense (i,j,k,t) NumPy tensors
with NaN for inactive cells.

Spark redesign (ONE lazy plan for the whole fleet):

    actnum ─ pos array ─ broadcast ─┐   one row per sim: pos[c] = rank of cell
                                    │   c among active cells, NULL if inactive
    states ─ posexplode ────────────┤   one row per (sim, t): pressure[], s[]
                                    ├─ LEFT hash join on sim_hash
                                    ├─ J1 scatter = explode(0 .. ncells-1),
                                    │  value = get(pressure, pos[c]); get() is
                                    │  NULL past the array end, which is the
                                    │  P3 bounds filter
                                    └─ F12 (i,j,k) from cell_id → golden long
                                       Parquet partitioned by sim_hash

The canonical store is the LONG format (sim_hash, t, cell_id, i, j, k,
pressure, sw, sg); NULL = inactive cell (the reference's NaN). Dense
tensors exist only in export sinks (exports.py). Partitioning by sim_hash
makes per-sim queries partition-pruned scans; within a partition rows are
sorted by (t, cell_id) for row-group skipping on timestep predicates.

Scale: no driver-side loops, no collect, no cell-level join. Each source is
scanned once, and each bronze file is read whole by one task. The ACTNUM
side is one row per sim holding ncells ints. While it fits
spark.sql.autoBroadcastJoinThreshold it is broadcast, and the states rows
never leave the task that parsed them. A fleet past the threshold gets a
hash join on sim_hash instead, which shuffles one row per (sim, t), never
one per cell. Per sim the plan sorts ncells (cell, rank) pairs once for the
position array and does T · ncells array lookups.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from pumle_spark.functions.grid import ijk_exprs
from pumle_spark.sources.bronze import read_actnum_arrays, read_grid_dims, read_states


def active_index(actnum: DataFrame) -> DataFrame:
    """P2: (sim_hash, cell_id, row_idx) for active cells.

    row_idx is the cell's position among the sim's active cells in cell_id
    order — exactly np.where(actnum)[0] (sim_results_parser.py:216): the
    simulator emits state arrays in this order, so row_idx is the positional
    join key between compacted state rows and global cell ids.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("sim_hash").orderBy("cell_id")
    return (
        actnum.filter(F.col("active"))
        .withColumn("row_idx", F.row_number().over(w) - 1)
        .select("sim_hash", "cell_id", "row_idx")
    )


def states_long(states: DataFrame) -> DataFrame:
    """J2: positional zip of pressure[i] with s[i] → long rows.

    arrays_zip + one posexplode pairs pressure with [sw, sg] by position
    without the position ever leaving the row (SURVEY §2.4 J2) — the
    reference's Python zip loop (sim_results_parser.py:284-304).
    """
    zipped = states.select(
        "sim_hash",
        "t",
        F.posexplode(F.arrays_zip("pressure", "s")).alias("row_idx", "z"),
    )
    return zipped.select(
        "sim_hash",
        "t",
        "row_idx",
        F.col("z.pressure").alias("pressure"),
        F.col("z.s").getItem(0).alias("sw"),
        F.col("z.s").getItem(1).alias("sg"),
    )


def active_positions(actnum: Column) -> Column:
    """P2 as one array per sim: pos[c] is cell c's rank among the active
    cells (active_index's row_idx), NULL for an inactive cell.

    The active cell ids, in cell order, carry their rank as their array
    index. Tagging them and the inactive ids with (cell, rank) and sorting
    by cell turns rank → cell into cell → rank without leaving the row.
    """
    cells = F.transform(
        actnum, lambda x, c: F.struct(c.alias("c"), F.coalesce(x != 0, F.lit(False)).alias("on"))
    )
    ranked = F.transform(
        F.filter(cells, lambda e: e["on"]),
        lambda e, r: F.struct(e["c"].alias("c"), r.alias("r")),
    )
    unranked = F.transform(
        F.filter(cells, lambda e: ~e["on"]),
        lambda e: F.struct(e["c"].alias("c"), F.lit(None).cast("int").alias("r")),
    )
    return F.transform(F.sort_array(F.concat(ranked, unranked)), lambda e: e["r"])


def ingest_golden(
    spark: SparkSession,
    states_glob: str,
    actnum_glob: str,
    dims_path: str,
) -> DataFrame:
    """Full bronze→golden plan. Returns the golden long DataFrame:
    (sim_hash, t, cell_id, i, j, k, pressure, sw, sg) — dense over cells ×
    timesteps per sim, NULL-valued at inactive cells (arrays.py:90-92 NaN).
    """
    ni, nj, nk = read_grid_dims(spark, dims_path)
    ncells = ni * nj * nk

    positions = read_actnum_arrays(spark, actnum_glob).select(
        "sim_hash", active_positions(F.col("actnum")).alias("pos")
    )
    # A timestep whose pressure/s zip is NULL or empty yields no state rows
    # (states_long), so it has no golden rows either.
    states = read_states(spark, states_glob).filter(F.size(F.arrays_zip("pressure", "s")) > 0)

    # J1 scatter: one generated row per cell. A sim without ACTNUM has a
    # NULL pos, so all its cells are NULL. P3 bounds guard (arrays.py:106-110,
    # sim_results_parser.py:295-300): get() is NULL for an index past the
    # array end, so cells past ACTNUM and state rows past the active count
    # both drop out of the lookup, the reference's "skip with warning".
    scattered = states.join(positions, "sim_hash", "left").select(
        "sim_hash",
        "t",
        "pressure",
        "s",
        "pos",
        F.explode(F.sequence(F.lit(0), F.lit(ncells - 1))).alias("c"),
    )
    row = F.get("pos", "c")
    pair = F.get("s", row)
    cell_id = F.col("c").cast("bigint")
    i, j, k = ijk_exprs(cell_id, ni, nj)
    return scattered.select(
        "sim_hash",
        "t",
        cell_id.alias("cell_id"),
        i,
        j,
        k,
        F.get("pressure", row).alias("pressure"),
        pair.getItem(0).alias("sw"),
        pair.getItem(1).alias("sg"),
    )


def write_golden(golden: DataFrame, path: str) -> None:
    """Persist golden as Parquet partitioned by sim_hash, sorted within
    partitions by (t, cell_id) → partition pruning on sim_hash, row-group
    skipping on t.

    The sort leads with sim_hash because the partitioned write requires
    that order; a sort without it is replaced by the writer's own sort on
    sim_hash alone, which loses (t, cell_id).

    No repartition: ingest_golden already holds each sim's rows in one
    task. One bronze file is one sim, read as one wholetext row by one task,
    and the join keeps each row in that task (broadcast) or moves all rows of
    a sim_hash to the same task (hash join). Each sim_hash directory thus
    gets exactly one file.
    """
    (
        golden.sortWithinPartitions("sim_hash", "t", "cell_id")
        .write.mode("overwrite")
        .partitionBy("sim_hash")
        .parquet(path)
    )


def read_golden(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
