"""Plan-time size decisions: the one home for choices made from plan size.

Every operator that picks a strategy before running anything asks this
module, so each input to such a choice has one definition:

* :func:`estimated_rows` — rows from Catalyst plan statistics; feeds the
  flagship's cross vs blocked auto-select (``operators/matching.py``),
  the pack bucket count (``operators/packing.py``) and :func:`probe_side`;
* :func:`bounded_rows` — exact row count up to a cap (+inf above it);
  the unknown-stats branch of :func:`estimated_rows` and the ANN
  family's query-set count (``operators/clustering.py``, ``operators/pq.py``);
* :func:`broadcast_threshold` — the session's broadcast budget in bytes;
* :func:`probe_side` — broadcast vs shuffle-hash for the ANN family's
  per-query probe table;
* :func:`parallelism_floor` — round-robin re-spread of an under-parallel
  scan (``plans/staging.stage``, ``sources/parquet.table``,
  ``operators/profiling.profile_columns``).

Mis-estimation only ever pushes toward the safe path: byte-derived row
estimates OVERestimate rows for wide rows, an estimator error reports
+inf, and the floor leaves any plan with an exchange alone.

The ANN probe side scales with the QUERY SET, not the corpus: small (the
in-repo convention) it broadcasts and the corpus never shuffles, but a
corpus-sized query set would turn that broadcast into a driver OOM, so
above the row budget both sides shuffle-hash on the probe key (few
distinct values; AQE's skew-join split handles the residual skew).
Sort-merge is never right there: the probe key has at most
``k_cells``/``m·k_codes`` distinct values and the corpus side is orders
of magnitude larger than memory-per-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "estimated_rows",
    "bounded_rows",
    "broadcast_threshold",
    "probe_side",
    "parallelism_floor",
    "EST_BYTES_PER_ROW",
    "PROBE_BROADCAST_ROW_BUDGET",
]

# Conservative bytes/row for turning Catalyst sizeInBytes stats into row
# estimates: underestimating row width OVERestimates rows, which can only
# push a size decision toward the safe path.
EST_BYTES_PER_ROW = 32
# Catalyst reports ~Long.MaxValue sizeInBytes for plans with no stats
# (e.g. ``createDataFrame``-backed LogicalRDD); treat anything this large
# as "unknown" rather than "huge".
_UNKNOWN_STATS_BYTES = 1 << 62
# Row cap for the bounded count on unknown-stats sides.  Above this many
# rows every caller's decision is already the large-input one, so there
# is never a reason to count further.
_PROBE_ROW_CAP = 65_536

# Default probe-row budget for choosing broadcast.  Probe rows carry a
# d-long code array (~0.5 KB at d=64): 500k rows ≈ 250 MB broadcast —
# the upper edge of sane for a 100 TB-cluster driver, far above every
# in-repo query set (|Q|·n_probe ≈ thousands).
PROBE_BROADCAST_ROW_BUDGET = 500_000


def estimated_rows(df: DataFrame) -> float:
    """Row-count estimate of ``df`` for plan-time size decisions.

    Normally free: uses the optimized logical plan's statistics
    (``rowCount`` under CBO, else ``sizeInBytes`` — exact file size for
    parquet/csv leaves).  When stats are unknown (LogicalRDD from
    ``createDataFrame``), counts up to ``_PROBE_ROW_CAP`` rows with
    :func:`bounded_rows` (+inf above the cap).
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        row_count = stats.rowCount()
        if row_count.isDefined():
            return float(str(row_count.get()))
        size = float(str(stats.sizeInBytes()))
        if size < _UNKNOWN_STATS_BYTES:
            return size / EST_BYTES_PER_ROW
        return bounded_rows(df, _PROBE_ROW_CAP)
    except Exception:  # py4j / analysis edge: be safe, assume huge
        return float("inf")


def bounded_rows(df: DataFrame, cap: int) -> float:
    """Exact row count of ``df`` when it is at most ``cap``, else +inf.

    One job: ``LIMIT cap + 1`` short-circuits the scan, so the count
    touches at most ``cap + 1`` rows regardless of source size, and any
    size decision fed +inf takes its large-input (safe) branch."""
    n = df.limit(cap + 1).count()
    return float("inf") if n > cap else float(n)


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as the planner
    reads it (size suffixes resolved; ``-1`` disables broadcast)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def probe_side(
    df: DataFrame,
    *,
    est_rows: float | None = None,
    row_budget: int = PROBE_BROADCAST_ROW_BUDGET,
) -> DataFrame:
    """Return ``df`` hinted for its role as the probe/build side of the
    inverted-list join: ``broadcast`` when small by plan statistics,
    ``shuffle_hash`` when the query side is corpus-proportional.

    ``est_rows`` lets the caller reuse an estimate computed on the
    pre-expansion query table (e.g. ``|Q| · n_probe``) instead of
    re-deriving stats from the probe plan itself.
    """
    if est_rows is None:
        est_rows = estimated_rows(df)
    if est_rows <= row_budget:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def parallelism_floor(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions when its
    executed plan has no exchange and fewer partitions than that.

    A small table read as one file split caps every map-side stage over
    it at the split count; on a real corpus the scan is already split and
    this is a no-op.  Counting partitions goes through ``df.rdd``, which
    under AQE runs every exchange's stages at plan time — and a broadcast
    exchange starts jobs just as a shuffle does — so any plan with an
    Exchange node of any kind (shuffle, broadcast, reused) is left alone:
    its parallelism is the shuffle's anyway.  ``executedPlan`` is read
    because ``sparkPlan`` predates the exchanges the planner inserts.
    Callers must consume ``df`` order-independently.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        planned = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return df
    if "Exchange" in planned or df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
