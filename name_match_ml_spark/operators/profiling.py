"""Data-quality profiling operators [EXT].

Not present in the reference (its only data validation is the
required-column check on CSV ingest, ``main.py:96-105`` — replicated in
``sources/csv.py``); this generalizes that idea to the standard
warehouse-ingest gate: per-column completeness / cardinality / range
stats computed in ONE pass, the numbers a 100 TB pipeline checks before
promoting a snapshot.

Scale shape: a single aggregate over the scan — no joins, no windows,
no per-column re-scan (the naive loop ``for c in columns:
df.agg(...)`` reads the table once per column; this reads it once,
total).  The column→rows pivot happens AFTER aggregation on a 1-row
DataFrame, so the explode is free.  Exact ``count_distinct`` over many
columns makes Catalyst plan an Expand (input × n_cols) before the
partial aggregate — correct but heavy at 100 TB, so
``distinct="approx"`` (HyperLogLog++, one pass, no Expand) is the scale
default; the declared query pins ``"exact"`` because HLL estimates are
implementation-specific and would not hash-match any oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_60
from ..plans.probe import parallelism_floor

__all__ = ["profile_columns", "winsorize", "equi_width_histogram", "apply_expectations", "chi_square_independence", "dp_noisy_counts", "table_digest"]


def profile_columns(
    df: DataFrame,
    columns: list[str],
    *,
    distinct: str = "approx",
) -> DataFrame:
    """Per-column profile: ``(col_name, n_rows, n_null, n_distinct,
    min_value, max_value)``, one row per profiled column, one scan total.

    ``min_value``/``max_value`` are computed on the NATIVE type (so
    numeric columns order numerically, not lexically) and cast to
    string afterwards for the uniform row shape.  Float stringification
    is engine-specific — profile integer/string/date columns when the
    output must be comparable across engines.

    ``distinct="approx"`` (default) uses HyperLogLog++ — the 100 TB
    setting; ``"exact"`` uses ``count_distinct`` and accepts the Expand
    cost for oracle-comparable output.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    if not columns:
        raise ValueError("columns must be non-empty")

    # A small table read as a couple of file splits would cap the Expand
    # × (n_distinct_cols+1) partial aggregate — the whole cost of this
    # operator — at the split count; every aggregate here is
    # order-independent, so the re-spread leaves results unchanged.
    df = parallelism_floor(df)

    nd = F.count_distinct if distinct == "exact" else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_nr")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            nd(F.col(c)).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)

    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_nr").alias("n_rows"),
                (F.col("_nr") - F.col(f"_nn_{c}")).alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in columns
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def winsorize(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    lower_pct: int = 5,
    upper_pct: int = 95,
) -> DataFrame:
    """Percentile clipping (winsorization) — the standard outlier guard
    before normalization / feature extraction: values below the
    ``lower_pct``-th or above the ``upper_pct``-th percentile of their
    group clamp to those bounds.  Adds ``{value_col}_w``; all input
    columns pass through.

    Percentiles are DISCRETE (percentile_disc semantics): the bound is
    the actual value at rank ``max(1, ceil(n·pct/100))`` in the group's
    sort order, selected with pure integer arithmetic — no
    interpolation, so unlike ``percentile_cont`` the bound (and the
    clipped output) is bit-identical in any engine.  Values at a tied
    rank position are equal by construction, so row_number tie order
    cannot affect the selected bound.

    Scale shape: one window pass (row_number + count over the group
    sort — exact percentiles cost a per-group sort, the same bill as
    ``ordered_index``) and one bounds join whose build side has ONE ROW
    PER GROUP — broadcast-sized for any realistic group count.  When an
    approximate bound is acceptable at 100 TB, ``approx_percentile``
    replaces the window pass with a sketch aggregate — same trade as
    ``profile_columns(distinct="approx")``, and like it, not
    oracle-replayable.
    """
    if not (0 <= lower_pct <= upper_pct <= 100):
        raise ValueError("need 0 <= lower_pct <= upper_pct <= 100")
    group_cols = group_cols or []
    gw = (
        Window.partitionBy(*group_cols)
        if group_cols
        else Window.partitionBy(F.lit(1))
    )
    w = gw.orderBy(value_col)

    def pos(pct: int):
        return F.greatest(
            F.expr(f"(_n * {pct} + 99) div 100"), F.lit(1).cast("long")
        )

    ranked = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1))
        .over(gw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
    )
    bounds = ranked.groupBy(*group_cols).agg(
        F.min(F.when(F.col("_rn") == pos(lower_pct), F.col("_v"))).alias("_lo"),
        F.min(F.when(F.col("_rn") == pos(upper_pct), F.col("_v"))).alias("_hi"),
    )
    joined = df.join(bounds, group_cols) if group_cols else df.crossJoin(F.broadcast(bounds))
    return joined.select(
        *df.columns,
        F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")).alias(
            f"{value_col}_w"
        ),
    )


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    *,
    n_bins: int = 20,
) -> DataFrame:
    """Equi-width histogram: ``n_bins`` equal-width buckets over the
    column's observed [min, max], returning ``(bin, lo, hi, n, sum_v)``
    per non-empty bucket.

    Two phases: (1) a 1-row min/max aggregate, attached by a broadcast
    cross join — the allowlisted free-at-any-scale 1-row
    BroadcastNestedLoopJoin idiom (cf. ``tfidf_top_terms``); at 100 TB
    phase 1 is typically read straight from table/zone-map statistics
    instead.  (2) one partial-combining aggregate on the computed bin
    index — no sort, no window, one shuffle of ≤ ``n_bins`` keys.

    Determinism: the bin index is ``least(n_bins-1, floor((v - min) /
    ((max - min) / n_bins)))`` — every step an IEEE double op written
    identically in the oracle, so bucket boundaries are bit-identical
    in any engine (the same device as ``analytics.gapfill_locf``).
    The top value lands in the last bin (closed upper edge).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    v = F.col(value_col)
    stats = df.agg(
        F.min(v).cast("double").alias("_mn"), F.max(v).cast("double").alias("_mx")
    )
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(n_bins))
    binned = (
        df.select(v.cast("double").alias("_v"))
        .join(F.broadcast(stats))
        .withColumn(
            "bin",
            F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.floor((F.col("_v") - F.col("_mn")) / width).cast("int"),
                )
            ),
        )
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.min("_mn").alias("_mn"),
            F.min("_mx").alias("_mx"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        )
        .select(
            "bin",
            (F.col("_mn") + F.col("bin") * ((F.col("_mx") - F.col("_mn")) / F.lit(float(n_bins)))).alias("lo"),
            (F.col("_mn") + (F.col("bin") + 1) * ((F.col("_mx") - F.col("_mn")) / F.lit(float(n_bins)))).alias("hi"),
            "n",
            "sum_v",
        )
    )


def apply_expectations(
    df: DataFrame,
    rules: dict[str, "F.Column"],
) -> tuple[DataFrame, DataFrame]:
    """Expectation gate (data-contract check): each rule is a boolean
    Column that must hold; returns ``(clean, quarantine)`` where
    quarantine rows carry ``violations`` — the sorted array of failed
    rule names (NULL predicate results count as failures, the
    conservative read).

    One pass, zero shuffles: every rule evaluates as a codegen
    expression per row; the split is two filters over the same cached
    expression set.  Summary counts (the declared query) are one
    partial-combining aggregate over the exploded rule names — at
    100 TB the quarantine side is written to a dead-letter table and
    the per-rule counts feed the promotion gate.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    flags = [
        F.when(cond.isNull() | ~cond, F.lit(name)) for name, cond in rules.items()
    ]
    tagged = df.withColumn(
        "violations", F.array_sort(F.filter(F.array(*flags), lambda x: x.isNotNull()))
    )
    clean = tagged.filter(F.size("violations") == 0).drop("violations")
    quarantine = tagged.filter(F.size("violations") > 0)
    return clean, quarantine


def chi_square_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
    *,
    grid: int = 1_000_000_000,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, computed so the statistic hash-checks in any engine.

    Per cell: ``x = n·observed − row_total·col_total`` (exact int64 —
    the cross-multiplied form avoids fractional expected counts), and
    the cell contribution ``(x·x/(row_total·col_total·n))`` is evaluated
    in IEEE doubles whose inputs are exactly representable (< 2^53), so
    every multiply/divide rounds identically everywhere — then floored
    onto a 1e-9 grid (``term_grid``) making the SUM order-independent
    (the ``source_divergence`` fixed-point device, with no
    transcendentals at all).

    Shape: one partial-combining count to the cell table (≤ |rows|·
    |cols| rows), margins and the total via windows OVER THE CELL TABLE
    — the raw data is scanned once and never windowed.

    Returns per-cell rows ``(row_col, col_col, observed, term_grid)``
    plus ``chi2_grid`` (the summed statistic on the grid), ``chi2``
    (double, one division at the end) and ``dof`` replicated per row.
    """
    cells = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("observed"))
    w_r = Window.partitionBy(row_col)
    w_c = Window.partitionBy(col_col)
    w_all = Window.partitionBy()
    m = (
        cells.withColumn("_rt", F.sum("observed").over(w_r))
        .withColumn("_ct", F.sum("observed").over(w_c))
        .withColumn("_n", F.sum("observed").over(w_all))
        .withColumn("_nr", F.size(F.collect_set(row_col).over(w_all)))
        .withColumn("_nc", F.size(F.collect_set(col_col).over(w_all)))
    )
    x = (F.col("_n") * F.col("observed") - F.col("_rt") * F.col("_ct")).cast("double")
    den = (F.col("_rt") * F.col("_ct") * F.col("_n")).cast("double")
    term = F.floor((x * x / den) * F.lit(float(grid))).cast("long")
    out = m.withColumn("term_grid", term)
    return out.select(
        row_col,
        col_col,
        "observed",
        "term_grid",
        F.sum("term_grid").over(w_all).alias("chi2_grid"),
        (F.sum("term_grid").over(w_all) / F.lit(float(grid))).alias("chi2"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).alias("dof"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    *,
    epsilon: float = 1.0,
    seed: str = "dp",
    grid: int = 1_000_000,
) -> DataFrame:
    """Differentially-private group counts: exact counts plus Laplace
    (sensitivity 1 / ``epsilon``) noise drawn by INVERSE-CDF from a
    seeded md5_60 uniform per group — so the "randomness" is a pure
    function of (seed, group key) and the released values replay
    bit-identically in any engine (the ``mixture_sample`` seeded-hash
    device; a real deployment rotates the seed per release).

    ``u ∈ (0, 1]`` from the 60-bit hash; noise = −sign(u−½)·ln(1−2|u−½|)/ε
    with the log argument clamped at 1e-18 (the u→1 tail, probability
    2⁻⁶⁰).  Output is floored onto a 1e-6 grid (`noisy_grid`) plus the
    true count for reference — one partial-combining aggregate, one row
    of codegen per group, no shuffle beyond the count itself.
    """
    cnt = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    key = F.concat_ws(
        ":", F.lit(seed), *[F.col(c).cast("string") for c in group_cols]
    )
    h = md5_60(key)
    # divide by the POWER OF TWO 2^60 (exact in IEEE), not 2^60+1 — the
    # division is then exact and u ∈ (0, 1] replays bit-identically
    u = (h.cast("double") + 1.0) / float(1 << 60)
    centered = u - 0.5
    sign = F.when(centered >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = -sign * F.log(
        F.greatest(F.lit(1e-18), 1.0 - 2.0 * F.abs(centered))
    ) / F.lit(float(epsilon))
    noisy = F.col("n").cast("double") + lap
    return cnt.select(
        *group_cols,
        "n",
        F.floor(noisy * F.lit(float(grid))).cast("long").alias("noisy_grid"),
    )


def table_digest(
    df: DataFrame,
    cols: list[str],
    *,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Order-free cross-engine table fingerprint: one row
    ``(n_rows, digest)`` where ``digest`` is the int64 SUM of a 60-bit
    hash of each row's canonical string (``concat_ws('|', cols)`` with
    NULLs rendered as a sentinel) — the data-integrity device for
    verifying a migration/replication/engine-port moved every row
    (this repo's whole oracle methodology, packaged as an operator).

    Summing hashes (not hashing a sorted concatenation) is what makes
    the digest partition- and order-free, computable map-side with one
    scalar aggregate, and incremental: digest(A ∪ B) = digest(A) +
    digest(B) mod 2^64, so per-partition digests of a snapshot fold
    into the table digest without re-reading (the ``merge_agg_state``
    monoid contract applied to integrity).  A row hash can overflow
    int64 only by wrapping — sums are taken as DECIMAL(38,0) then
    folded mod 2^64 back to the int64 domain for a stable surface.

    md5_60 replays in any engine; ``xxhash64`` is the codegen scale
    default (same pluggable contract as ``operators/cleaning.py``).
    Collision note: a 60-bit hash over N rows has ~N²/2^61 pair
    collision probability — fine for integrity checks, not for
    adversarial settings.
    """
    from ..operators.cleaning import _gram_hash

    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols]
    )
    h = _gram_hash(canon, hash_fn).cast("decimal(38,0)")
    # 2^64 / 2^63 exceed Long — ship them as DECIMAL literals via expr
    two64 = F.expr("CAST(18446744073709551616 AS DECIMAL(38,0))")
    two63 = F.expr("CAST(9223372036854775808 AS DECIMAL(38,0))")
    folded = F.pmod(F.sum(h), two64)
    signed = F.when(folded >= two63, folded - two64).otherwise(folded)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        signed.cast("long").alias("digest"),
    )
