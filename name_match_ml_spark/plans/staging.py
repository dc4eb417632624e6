"""Plan staging: materialize a sub-plan that later stages consume N times.

Several operators here are *multi-pass* over one derived table — the
shingle table feeds the df-statistics pass, the candidate join, and the
verification join in :mod:`..operators.dedup`; the near-dup pair graph
feeds every graph-family consumer in :mod:`..operators.graph`; the
quantized base table feeds every seeding/Lloyd round in
:mod:`..operators.clustering` and :mod:`..operators.pq`.  Left lazy,
Catalyst gives each consumer its own copy of the lineage: the derivation
(scans, normalization, higher-order shingling) re-executes once per
consumer, and exchange reuse never applies because each consumer
projects differently.  Worse, ``explode``/``Generate`` over a derived
array column re-evaluates the collapsed producing expression (measured
~10× on the sf0.1 shingle table).

:func:`stage` is the one way to cut that lineage: the parallelism floor
(:func:`.probe.parallelism_floor`) and then an eager
``localCheckpoint()``.  The sub-plan runs exactly once, during the call;
its rows are stored on the executors (memory, spilling to disk), and
every consumer's plan is a ``Scan ExistingRDD`` of the stored rows.  The
floor matters for iterative consumers: a one-split scan would otherwise
cap every per-round job over the stored rows at one task.

Two things a lazy checkpoint behind a hash ``repartition`` by key looks
like it buys and, under AQE (Spark 4.1), does not:

* it is not lazy — the repartition's map stage runs when the checkpoint
  is requested, one job at the call, as many as the eager checkpoint;
* its keys are lost — the checkpoint reports ``UnknownPartitioning``, so
  a later ``groupBy``/join on the key still plans an Exchange.  The
  hash-by-key shuffle costs a shuffle and buys no co-partitioning.

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

__all__ = ["stage"]


def stage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once, now, for a multi-consumer plan: the
    parallelism floor, then an eager ``localCheckpoint``.  Consumers must
    read the stored rows order-independently (the floor may round-robin
    them)."""
    return parallelism_floor(df).localCheckpoint()
