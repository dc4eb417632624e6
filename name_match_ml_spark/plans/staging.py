"""Plan staging: materialize a sub-plan that later stages consume N times.

Several operators here are *multi-pass* over one derived table — the
shingle table feeds the df-statistics pass, the candidate join, and the
verification join in :mod:`..operators.dedup`; the prepared username /
roster texts feed candidate generation, the dummy branch, and the final
fan-out join in :mod:`..operators.matching`.  Left lazy, Catalyst gives
each consumer its own copy of the lineage: the derivation (scans,
normalization, higher-order shingling) re-executes once per consumer, and
exchange reuse never applies because each consumer projects differently.
Worse, ``explode``/``Generate`` over a derived array column re-evaluates
the collapsed producing expression (measured ~10× on the sf0.1 shingle
table).

:func:`stage` cuts the lineage with ``localCheckpoint(eager=False)``: the
sub-plan runs exactly once (on first action), its rows are stored on the
executors (memory, spilling to disk), and every consumer reads the stored
rows.  A ``repartition`` by the key first spreads the stored blocks so
downstream joins start parallel even when the producing scan had few
input splits.  :func:`spread` is the eager variant for iterative
consumers; its partition count comes from the one parallelism floor in
:mod:`.probe`.

Scale notes (100 TB): this is the standard pattern of persisting the
tokenized/featurized intermediate before a multi-pass similarity join —
at cluster scale the same role is played by ``df.persist(DISK_ONLY)``, a
reliable ``checkpoint()``, or writing an intermediate table; local
checkpoints trade executor-loss recovery for zero extra I/O config,
which is the right default inside a single job.  The staged table here
is always the *narrow* derived one (ids + hashes/codes), never raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .probe import parallelism_floor

__all__ = ["stage", "spread"]


def stage(df: DataFrame, *keys: str, enabled: bool = True) -> DataFrame:
    """Materialize ``df`` once for multi-consumer plans.

    ``keys``: repartition by these columns first (round-robin when empty)
    so the stored blocks are spread across the cluster.  ``enabled=False``
    returns ``df`` untouched — streaming plans and single-consumer
    callers skip staging.
    """
    if not enabled:
        return df
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    df = df.repartition(n, *keys) if keys else df.repartition(n)
    return df.localCheckpoint(eager=False)


def spread(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` behind the parallelism floor
    (:func:`.probe.parallelism_floor`): an iterative consumer (k-means
    seeding/Lloyd, PQ training, Gonzalez selection) runs every per-round
    job over the stored rows, so a one-split scan would cap each round at
    one task.  Results are unaffected: every consumer aggregates with
    order-independent exact arithmetic (min/max/sum of ints and
    structs)."""
    return parallelism_floor(df).localCheckpoint()
