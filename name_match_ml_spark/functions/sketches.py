"""Deterministic cardinality sketches [EXT].

Companion to the HyperLogLog++ path (``suite.py::q_approx_count_distinct``
— Spark's built-in, whose point estimates are implementation-specific,
so its oracle can only pin an error envelope): the KMV (k-minimum-values)
estimator here is a PURE FUNCTION of the input set and the hash choice,
so with ``hash_fn="md5_60"`` the approximate count itself is
bit-reproducible in any engine — estimator error included — and
hash-checkable, not just envelope-checkable.

Estimator (Bar-Yossef et al. 2002; same sketch family as
:func:`..operators.dedup.minhash_containment_pairs`): hash values to
uniform 60-bit ints; per group keep the k smallest DISTINCT hashes.
With m = sketch size and h_k = the k-th smallest:

    m < k  →  estimate = m                (the sketch saw everything)
    m = k  →  estimate = (k-1) · 2⁶⁰ / h_k

``(k-1)·2⁶⁰`` is exact in a double (power-of-two scaling), so the
estimate is ONE IEEE division — bit-stable across engines.

Scale shape: dedup-aggregate on (group, hash) — map-side combine kills
per-partition repeats before the wire — then a WindowGroupLimit-pushed
``row_number() <= k`` bounds every group's sketch BEFORE the final
aggregate, so no executor materializes an unbounded distinct stream
(the same bound-before-collect idiom as ``functions/text.py::
inverted_index``).  Total shuffle: (group, 8-byte hash) rows, then k
rows per group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import md5_60, split_words

__all__ = [
    "kmv_distinct",
    "kmv_overlap",
    "cms_term_counts",
    "cms_join_size_estimate",
    "hll_distinct",
    "quantile_sketch_state",
    "merge_quantile_sketch_states",
    "sketch_estimates",
    "sketch_quantiles",
    "theta_sketch_states",
    "merge_theta_states",
    "theta_set_algebra",
    "theta_multiway",
    "THETA_MAX",
]

_M60 = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    k: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT ``value_col``) via a
    k-minimum-values sketch; returns ``group_cols + (kmv_distinct:
    double)`` with the estimate rounded to 2 dp.

    Standard error is ~1/sqrt(k-2) (k=256 → ~6%); groups with fewer
    than k distinct values are EXACT (modulo 60-bit hash collisions).
    NULL values are ignored, like COUNT(DISTINCT).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from ..operators.cleaning import _gram_hash

    h = _gram_hash(F.col(value_col).cast("string"), hash_fn)
    if hash_fn == "xxhash64":
        # xxhash64 spans the full signed-64 range; fold to uniform
        # [0, 2^60) to match the estimator's scaling.
        h = F.shiftrightunsigned(h, 4)

    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
        .groupBy(*group_cols, "_h")
        .agg(F.count(F.lit(1)).alias("_dummy"))
        .drop("_dummy")
    )

    w = Window.partitionBy(*group_cols).orderBy("_h")
    sketch = hashed.select(
        *group_cols, "_h", F.row_number().over(w).alias("_rn")
    ).filter(F.col("_rn") <= k)

    return sketch.groupBy(*group_cols).agg(
        F.round(
            F.when(
                F.count(F.lit(1)) < k,
                F.count(F.lit(1)).cast("double"),
            ).otherwise(
                F.lit((k - 1) * _M60)
                / F.greatest(F.max("_h"), F.lit(1)).cast("double")
            ),
            2,
        ).alias("kmv_distinct")
    )


def cms_term_counts(
    docs: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Count-min-sketch term-frequency estimates — the COUNTING
    companion to ``operators/cleaning.py::bloom_decontaminate``
    (membership): total corpus occurrences of each query term estimated
    from a fixed ``depth × width`` counter grid, never from a
    full-vocabulary aggregate.

    Build: every token increments one cell per row r —
    ``(r, hash_r(term) mod width)`` with the salted md5_60/xxhash64
    hash family — so the sketch aggregate is bounded at ``depth·width``
    cells REGARDLESS of vocabulary size (the map-side combine collapses
    to ≤ that many rows per task).  Estimate: ``min`` over the term's
    ``depth`` cells — the classic Cormode-Muthukrishnan bound: never an
    undercount, over by > ε·N with probability ≤ (1/2^depth)-ish at
    width ≥ e/ε.  Absent terms read whatever collisions deposited —
    over-counting included, the estimator is a pure function of
    (corpus, hash family), so with ``hash_fn="md5_60"`` the whole
    sketch replays bit-exactly in DuckDB and is hash-checkable.

    ``query_terms`` is a literal list by contract (the probe set);
    returns ``(term, cms_count)``.

    Scale shape: one explode to tokens (scan-side), one
    bounded-cardinality aggregate, one tiny join (≤ depth·|terms| probe
    rows against ≤ depth·width cells) — AQE broadcasts whichever side
    it likes; both are contract-bounded.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from ..operators.cleaning import _gram_hash

    spark = docs.sparkSession

    def cell(term_col, r: int):
        return F.pmod(
            _gram_hash(F.concat(F.lit(f"cms{r}:"), term_col), hash_fn), F.lit(width)
        )

    words = docs.select(
        F.explode(split_words(F.col(text_col))).alias("_t")
    )
    cells = (
        words.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), cell(F.col("_t"), r).alias("pos")
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.r", "c.pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    q = spark.createDataFrame([(t,) for t in query_terms], ["term"])
    qpos = q.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), cell(F.col("term"), r).alias("pos"))
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select("term", "c.r", "c.pos")

    return (
        qpos.join(cells, ["r", "pos"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count"))
    )


def cms_join_size_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    *,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Equi-join cardinality estimation from two count-min sketches —
    the AGM/sketch device a cost-based optimizer uses to size a join
    (and a skew detector: a huge estimate means heavy keys) WITHOUT
    touching the other side: ``est_r = Σ_pos cmsL[r][pos]·cmsR[r][pos]``
    per hash row, estimate = min over rows.  Collisions only ever ADD
    cross terms, so the estimate is an upper bound that tightens with
    ``width``; it equals the true size when no colliding key pair
    exists.

    Everything is integer arithmetic over md5_60 cells, so the
    estimate — collisions included — replays bit-exactly in any engine
    (the ``cms_term_counts`` contract).  Returns ONE row
    ``(est_size, exact_size)``; ``exact_size`` comes from joining the
    two per-key count tables (Σ cL[k]·cR[k]) for the oracle-checked
    ground truth.

    Scale: each side collapses to ≤ depth·width cells map-side; the
    estimate join is sketch×sketch (bounded); the exact term is one
    narrow count-table join — at 100 TB you'd drop the exact column
    and keep the sketches, which is the point.
    """
    from ..operators.cleaning import _gram_hash

    def cells_of(df: DataFrame, key: str) -> DataFrame:
        k = F.col(key).cast("string")
        return (
            df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("r"),
                                F.pmod(
                                    _gram_hash(
                                        F.concat(F.lit(f"cms{r}:"), k), hash_fn
                                    ),
                                    F.lit(width),
                                ).alias("pos"),
                            )
                            for r in range(depth)
                        ]
                    )
                ).alias("c")
            )
            .groupBy("c.r", "c.pos")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    ca, cb = cells_of(left, left_key), cells_of(right, right_key)
    est = (
        ca.alias("a")
        .join(cb.alias("b"), ["r", "pos"])
        .groupBy("r")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("s"))
        .agg(F.min("s").alias("est_size"))
    )
    la = left.groupBy(F.col(left_key).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    lb = right.groupBy(F.col(right_key).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        la.join(lb, "k")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("exact_size"))
    )
    return est.join(F.broadcast(exact))


def kmv_overlap(
    a_df: DataFrame,
    a_col: str,
    b_df: DataFrame,
    b_col: str,
    *,
    k: int = 256,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Cross-table audience overlap from two KMV bottom-k sketches —
    Jaccard and intersection-size estimates for two key domains (which
    customers also appear in the event stream?) without ever joining
    the raw tables: each side contributes only its ``k`` smallest
    distinct 60-bit key hashes.

    With ``M`` = the k smallest hashes of the UNION of the two
    sketches, ``θ`` = max(M), ``y = |M ∩ S_A ∩ S_B|`` and ``m = |M|``:

        Ĵ          = y/m                       (classic KMV Jaccard)
        |A∪B|^     = m if m < k (sketch exact) else (k-1)·2⁶⁰/θ
        |A∩B|^     = Ĵ·|A∪B|^ = (y·|A∪B|^) DIV m

    Determinism: every element of ``M`` that belongs to A is
    necessarily in S_A (its hash is ≤ θ ≤ θ_A), so the estimator is a
    pure function of the data and the md5_60 hash — the estimate,
    sampling error included, replays bit-identically in any engine.
    ``est_union`` folds one IEEE multiply+divide through floor (the
    sketches.py device); everything else is exact int64.

    Scale notes: bottom-k per side is ``TakeOrderedAndProject`` (per-
    task partial top-k, no global sort shuffle and no single-task
    window); all joins/aggregates downstream touch ≤ 2k rows.  The
    final 1-row × 1-row combine is an allowlisted broadcast nested
    loop (join_size_estimate's shape).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from ..operators.cleaning import _gram_hash

    def sketch(df: DataFrame, col: str) -> DataFrame:
        h = _gram_hash(F.col(col).cast("string"), hash_fn)
        if hash_fn == "xxhash64":
            h = F.shiftrightunsigned(h, 4)
        return (
            df.filter(F.col(col).isNotNull())
            .select(h.alias("_h"))
            .distinct()
            .orderBy("_h")
            .limit(k)
        )

    sa, sb = sketch(a_df, a_col), sketch(b_df, b_col)
    m_union = sa.union(sb).distinct().orderBy("_h").limit(k)
    both = m_union.join(sa, "_h", "left_semi").join(sb, "_h", "left_semi")
    m_stats = m_union.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.max("_h").alias("theta"),
    )
    y_stats = both.agg(F.count(F.lit(1)).cast("long").alias("y"))
    est_union = F.when(F.col("m") < k, F.col("m")).otherwise(
        F.floor(
            F.lit(float(k - 1)) * F.lit(float(_M60)) / F.col("theta").cast("double")
        ).cast("long")
    )
    return (
        m_stats.crossJoin(F.broadcast(y_stats))
        .withColumn("est_union", est_union)
        .select(
            "m",
            "theta",
            "y",
            F.expr("(y * 1000000000) DIV m").alias("jaccard_grid"),
            "est_union",
            F.expr("(y * est_union) DIV m").alias("est_inter"),
        )
    )


# HyperLogLog constants (p=8, m=256 registers): RHO_MAX = 53 leading-zero
# slots in the 52-bit sub-hash + 1; HLL_NUM = floor(alpha_256 * m^2 * 2^53)
# with alpha_256 = 0.7213/(1 + 1.079/256) — the numerator of the raw HLL
# estimate premultiplied so the whole estimate is ONE exact wide-integer
# division (decimal(38,0) in Spark, HUGEINT in DuckDB; the copurchase_lift
# headroom convention).
HLL_M = 256
HLL_RHO_MAX = 53
HLL_NUM = 423993302490689634304


def hll_distinct(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: list[str] | None = None,
    merge_from: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog cardinality (Flajolet et al. 2007) with p=8 / m=256
    registers, every step exact integer so the DuckDB oracle replays the
    ESTIMATE bit-exactly — the production streaming/warehouse distinct
    sketch beside the repo's KMV (order-statistics) estimator.

    Register construction: ``h = md5_60(value)``; bucket = top 8 bits
    (``h DIV 2^52``), sub-hash ``w = h % 2^52``; ``rho = 53 -
    bit_length(w)`` (w = 0 → 53) — bit_length spelled as
    ``length(bin(w))``, identical in Spark and DuckDB, so no float log
    anywhere.  Registers are ``max(rho)`` per (group, bucket) — max is
    associative/commutative/idempotent, which is the whole point: two
    corpora's registers MERGE by another max, demonstrated in-plan when
    ``merge_from`` names finer-grained columns (registers are built per
    ``group_cols + merge_from``, then max-merged down to ``group_cols``
    exactly as a warehouse merges per-partition sketches).

    Estimate: raw HLL ``E = alpha·m² / Σ 2^(-M_j)`` restated as
    ``HLL_NUM // Σ 2^(53 - M_j)`` (empty buckets contribute 2^53), one
    exact wide-integer division — NO small-range/bias correction (the
    caller sees ``zero_registers`` and can apply linear counting; kept
    raw so the arithmetic stays engine-exact).  Expected relative error
    ~1.04/√m ≈ 6.5%.

    Returns one row per group: ``(group_cols..., hll_est,
    zero_registers)``.

    Scale shape: one codegen pass per row, a map-side-combined
    ``max`` aggregate to m rows per group, then m-row arithmetic —
    the corpus is never shuffled wider than (group, bucket) partial
    maxima; at 100 TB each task forwards ≤ m rows per group.
    """
    from ..operators.cleaning import _gram_hash

    groups = list(group_cols or [])
    fine = groups + list(merge_from or [])
    h = _gram_hash(F.col(value_col).cast("string"), "md5_60")
    rows = df.select(
        *fine,
        h.alias("_h"),
    ).select(
        *fine,
        F.expr(f"_h DIV {1 << 52}").cast("int").alias("_b"),
        (F.col("_h") % F.lit(1 << 52)).alias("_w"),
    ).select(
        *fine,
        "_b",
        F.when(F.col("_w") == 0, F.lit(HLL_RHO_MAX))
        .otherwise(F.lit(HLL_RHO_MAX) - F.length(F.expr("bin(_w)")))
        .cast("int")
        .alias("_rho"),
    )
    fine_regs = rows.groupBy(*fine, "_b").agg(F.max("_rho").alias("_r"))
    regs = fine_regs.groupBy(*groups, "_b").agg(F.max("_r").alias("_r"))
    sums = regs.groupBy(*groups).agg(
        F.sum(F.expr(f"shiftleft(1L, {HLL_RHO_MAX} - _r)")).alias("_s_used"),
        F.count(F.lit(1)).alias("_nb"),
    )
    return sums.select(
        *groups,
        F.expr(
            f"CAST('{HLL_NUM}' AS DECIMAL(38,0))"
            f" DIV (_s_used + ({HLL_M} - _nb) * shiftleft(1L, {HLL_RHO_MAX}))"
        )
        .cast("long")
        .alias("hll_est"),
        (F.lit(HLL_M) - F.col("_nb")).cast("long").alias("zero_registers"),
    )


def quantile_sketch_state(
    df: DataFrame,
    *,
    value_col,
    key_col,
    k: int = 256,
    salt: str = "qs:",
) -> tuple[int, int, int, DataFrame]:
    """Mergeable state of the deterministic quantile sketch:
    ``(n, level, k, kept)`` where ``kept`` is the ``(val, hh)`` sample.
    ``k`` rides inside the state so a merge of states built with
    different sketch sizes fails loudly instead of silently dropping
    rows (ADVICE r9).

    KLL-style in ROLE (a fixed-size mergeable streaming quantile
    sketch; Karnin-Lang-Liberty 2016); the randomized compactor is
    replaced by HASH-COORDINATED subsampling so the sketch is a pure
    function of the data — order-free, partition-free, and exactly
    replayable in any engine with md5 (the ``kmv_distinct``/
    ``hll_distinct`` treatment, now for quantiles):

    * each row keeps a 60-bit hash ``hh = md5_60(salt || key)`` of its
      UNIQUE key (not its value, so duplicate values sample
      independently);
    * the level is the smallest ``L ≥ 0`` with ``n ≤ k·2^L``; a row
      survives iff ``hh % 2^L == 0`` and then carries weight ``2^L``
      (expected sample size in ``(k/2, k]``);
    * the level-``L`` sample is a SUBSET of every coarser level's
      sample (``2^L | hh  ⇒  2^(L-1) | hh``) — the coordination that
      makes merge exact: merged state = union of samples, re-filtered
      at the merged ``n``'s level.  ``merge(state(A), state(B)) ==
      state(A ∪ B)`` as literal row equality, pinned in pytest — the
      ``agg_state_merge`` discipline.

    Error is the coordinated-sample bound O(1/sqrt(k)) rather than
    KLL's O(1/k) at equal memory — the price of determinism; size the
    sketch with k accordingly.

    Scale shape: one codegen scan computes hashes, the filter keeps
    ~k rows TOTAL regardless of corpus size (map-side, no shuffle),
    and only those ~k rows ever reach the rank window."""
    if k < 2:
        raise ValueError("k must be >= 2")
    rows = df.select(
        F.col(value_col).cast("long").alias("val"),
        md5_60(F.concat(F.lit(salt), F.col(key_col).cast("string"))).alias("hh"),
    ).filter(F.col("val").isNotNull())
    n = rows.count()
    level = 0
    while n > k * (1 << level):
        level += 1
    kept = rows.filter(F.col("hh") % F.lit(1 << level) == 0)
    return n, level, k, kept


def merge_quantile_sketch_states(
    states: list[tuple[int, int, int, DataFrame]], *, k: int | None = None
) -> tuple[int, int, int, DataFrame]:
    """Union the samples, recompute the level from the merged n, and
    re-filter — exact because per-level samples are hash-coordinated
    (nested).

    Every component must carry the SAME ``k``: a component built with a
    smaller ``k`` sits at a higher level and has already dropped rows
    the merged (lower) level would need, so a mismatched merge is a
    silently wrong sketch.  Mismatches — including a caller-supplied
    ``k`` that disagrees with the states — raise (ADVICE r9); the
    merged-level >= component-level invariant is asserted as a
    belt-and-braces check."""
    if not states:
        raise ValueError("states must be non-empty")
    ks = {s[2] for s in states}
    if len(ks) > 1:
        raise ValueError(
            f"merge_quantile_sketch_states: mixed sketch sizes k={sorted(ks)} — "
            "components built with a smaller k already dropped rows the merged "
            "level needs; rebuild with one k"
        )
    state_k = ks.pop()
    if k is not None and k != state_k:
        raise ValueError(
            f"merge_quantile_sketch_states: caller k={k} != state k={state_k}"
        )
    n = sum(s[0] for s in states)
    level = 0
    while n > state_k * (1 << level):
        level += 1
    assert all(level >= s[1] for s in states), "merged level below a component level"
    kept = states[0][3]
    for _, _, _, other in states[1:]:
        kept = kept.unionByName(other)
    return n, level, state_k, kept.filter(F.col("hh") % F.lit(1 << level) == 0)


def sketch_quantiles(
    df: DataFrame,
    *,
    value_col,
    key_col,
    qs: list[int] = (10, 25, 50, 75, 90),
    k: int = 256,
) -> DataFrame:
    """Deterministic sketch quantile estimates: one row per percentile
    ``(q_pct, est, n, level, kept_rows)``.

    ``est(q)`` is the smallest sampled value whose cumulative weight
    ``rank · 2^level`` reaches ``q%`` of ``n`` (the largest sampled
    value when the sample's total weight falls short — possible since
    the sample weight only approximates n).  All arithmetic is int64
    (``rank ≤ 2k``, ``2^level ≤ 2^40``, ``·100`` stays < 2^63), so the
    estimate — sampling error included — is bit-reproducible and
    hash-checked by the DuckDB oracle.

    The rank window is global but runs over the ~k-row sample, not the
    corpus — the bound-before-window idiom."""
    n, level, _, kept = quantile_sketch_state(df, value_col=value_col, key_col=key_col, k=k)
    return sketch_estimates(df.sparkSession, n, level, kept, qs=qs)


def sketch_estimates(
    spark, n: int, level: int, kept: DataFrame, *, qs: list[int] = (10, 25, 50, 75, 90)
) -> DataFrame:
    """Percentile estimates from a sketch STATE — shared by the batch
    path (:func:`sketch_quantiles`) and the foreachBatch streaming
    accumulator (``streaming/sketch.py``), so stream and batch run the
    IDENTICAL final arithmetic."""
    pw = 1 << level
    if n == 0:
        return spark.createDataFrame(
            [], "q_pct int, est bigint, n bigint, level int, kept_rows bigint"
        )
    w = Window.orderBy("val", "hh")
    ranked = kept.select("val", "hh", F.row_number().over(w).alias("rn"))
    qdf = spark.createDataFrame([(int(q),) for q in qs], "q_pct int")
    return (
        ranked.crossJoin(F.broadcast(qdf))
        .groupBy("q_pct")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("rn") * F.lit(pw) * 100 >= F.col("q_pct") * F.lit(n),
                        F.col("val"),
                    )
                ),
                F.max("val"),
            ).alias("est"),
            F.lit(n).cast("long").alias("n"),
            F.lit(level).cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("kept_rows"),
        )
        .select("q_pct", "est", "n", "level", "kept_rows")
    )


# Theta-sketch domain: md5_60 hashes are uniform in [0, 2^60); an
# unsaturated sketch has theta = 2^60 ("estimation off", counts exact).
THETA_MAX = 1 << 60


def theta_sketch_states(
    df: DataFrame,
    *,
    value_col: str,
    source_col: str,
    k: int = 256,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Per-source theta-sketch state: the ``k+1`` smallest DISTINCT
    60-bit value hashes per source — ``(source, _h)`` rows.

    The Apache-DataSketches Theta family in the KMV/bottom-k flavor
    (Dasgupta et al. 2016 "Theta-Sketch Framework"), restated on the
    repo's deterministic md5_60 grid: a saturated sketch's threshold is
    the (k+1)-th smallest hash (the retained sample is everything
    strictly below it — exactly k rows); an unsaturated sketch keeps
    everything with ``theta = 2^60``.  States are MERGEABLE: the k+1
    smallest of a union equal the k+1 smallest of the per-part k+1
    smallest (pinned in pytest), so per-partition/per-day states
    combine exactly — the warehouse sketch-rollup pattern.

    Scale shape: dedup-aggregate on (source, hash) with map-side
    combine, then a WindowGroupLimit-pushed bottom-(k+1) per source —
    no global sort, ≤ k+1 rows per source leave the exchange."""
    if k < 2:
        raise ValueError("k must be >= 2")
    from ..operators.cleaning import _gram_hash

    h = _gram_hash(F.col(value_col).cast("string"), hash_fn)
    if hash_fn == "xxhash64":
        h = F.shiftrightunsigned(h, 4)
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(source_col).alias("source"), h.alias("_h"))
        .groupBy("source", "_h")
        .agg(F.count(F.lit(1)).alias("_d"))
        .drop("_d")
    )
    w = Window.partitionBy("source").orderBy("_h")
    return (
        hashed.select("source", "_h", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= k + 1)
        .select("source", "_h")
    )


def merge_theta_states(states: list[DataFrame], *, k: int = 256) -> DataFrame:
    """Union partial per-source states and re-take the bottom ``k+1``
    distinct hashes — exact (the bottom-(k+1) of a union is the
    bottom-(k+1) of the per-part bottom-(k+1)s), so sketches built per
    partition/day/table merge into the state of the unified data."""
    if not states:
        raise ValueError("states must be non-empty")
    u = states[0]
    for other in states[1:]:
        u = u.unionByName(other)
    w = Window.partitionBy("source").orderBy("_h")
    return (
        u.distinct()
        .select("source", "_h", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= k + 1)
        .select("source", "_h")
    )


def theta_set_algebra(states: DataFrame, *, k: int = 256) -> DataFrame:
    """Distinct union / intersection / difference cardinalities for
    every source PAIR from their theta states — cross-source set
    algebra without ever joining the raw tables (the kmv_overlap
    estimator generalized beyond two fixed tables and beyond
    intersection, VERDICT r9 #6).

    Per source: ``theta_s`` = the (k+1)-th smallest hash when the
    sketch is saturated, else ``2^60``; the retained sample is every
    hash `` < theta_s``.  Per pair (a < b) with ``theta = least(theta_a,
    theta_b)`` and ``W_x`` = sample_x filtered ``< theta``: each
    retained hash has inclusion probability ``theta / 2^60``, so

        est(X) = |X| · 2^60 DIV theta        (Horvitz-Thompson)

    for X ∈ {W_a ∪ W_b, W_a ∩ W_b, W_a \\ W_b, W_b \\ W_a} — computed
    as ONE exact wide-integer division (decimal(38,0), the
    hll_distinct device), so the estimates — sampling error included —
    are bit-reproducible and hash-check in DuckDB.  ``theta = 2^60``
    (both sketches exact) degenerates to exact counts.

    Returns ``(source_a, source_b, theta, w_union, w_inter, w_diff_ab,
    w_diff_ba, est_union, est_inter, est_diff_ab, est_diff_ba)``.

    Scale shape: everything after the state build touches ≤ 2(k+1)
    rows per pair; the per-source param table (n_sources rows)
    broadcasts against the states."""
    if k < 2:
        raise ValueError("k must be >= 2")
    params = states.groupBy("source").agg(
        F.count(F.lit(1)).alias("_m"), F.max("_h").alias("_mx")
    ).select(
        "source",
        F.when(F.col("_m") >= k + 1, F.col("_mx"))
        .otherwise(F.lit(THETA_MAX))
        .cast("long")
        .alias("theta_s"),
    )
    sample = (
        states.join(F.broadcast(params), "source")
        .filter(F.col("_h") < F.col("theta_s"))
        .select("source", "_h")
    )
    pa = params.select(
        F.col("source").alias("source_a"), F.col("theta_s").alias("_ta")
    )
    pb = params.select(
        F.col("source").alias("source_b"), F.col("theta_s").alias("_tb")
    )
    pairs = (
        pa.crossJoin(pb)
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a", "source_b", F.least("_ta", "_tb").alias("theta")
        )
    )
    wa = sample.join(
        F.broadcast(pairs), sample["source"] == pairs["source_a"]
    ).filter(F.col("_h") < F.col("theta")).select(
        "source_a", "source_b", "_h", F.lit(1).alias("_a"), F.lit(0).alias("_b")
    )
    wb = sample.join(
        F.broadcast(pairs), sample["source"] == pairs["source_b"]
    ).filter(F.col("_h") < F.col("theta")).select(
        "source_a", "source_b", "_h", F.lit(0).alias("_a"), F.lit(1).alias("_b")
    )
    marked = (
        wa.unionByName(wb)
        .groupBy("source_a", "source_b", "_h")
        .agg(F.max("_a").alias("ina"), F.max("_b").alias("inb"))
    )
    counts = marked.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("w_union"),
        F.sum(((F.col("ina") == 1) & (F.col("inb") == 1)).cast("int"))
        .cast("long")
        .alias("w_inter"),
        F.sum(((F.col("ina") == 1) & (F.col("inb") == 0)).cast("int"))
        .cast("long")
        .alias("w_diff_ab"),
        F.sum(((F.col("ina") == 0) & (F.col("inb") == 1)).cast("int"))
        .cast("long")
        .alias("w_diff_ba"),
    )

    def est(col: str) -> Column:
        return (
            F.when(F.col("theta") == THETA_MAX, F.col(col))
            .otherwise(
                F.expr(
                    f"CAST({col} AS DECIMAL(38,0)) * CAST({THETA_MAX} AS DECIMAL(38,0))"
                    " DIV theta"
                )
            )
            .cast("long")
        )

    return (
        pairs.join(counts, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "theta",
            *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
              for c in ("w_union", "w_inter", "w_diff_ab", "w_diff_ba")],
        )
        .select(
            "source_a", "source_b", "theta",
            "w_union", "w_inter", "w_diff_ab", "w_diff_ba",
            est("w_union").alias("est_union"),
            est("w_inter").alias("est_inter"),
            est("w_diff_ab").alias("est_diff_ab"),
            est("w_diff_ba").alias("est_diff_ba"),
        )
    )


def theta_multiway(states: DataFrame, *, k: int = 256) -> DataFrame:
    """K-way theta-sketch algebra over ALL sources at once — the
    DataSketches capability pairwise :func:`theta_set_algebra` doesn't
    reach: the distinct-union cardinality of every source combined and
    the k-way intersection (values present in EVERY source), from the
    same per-source bottom-(k+1) states.

    ``theta = min_s theta_s``; every retained hash below theta has
    inclusion probability ``theta / 2^60`` regardless of how many
    sources carry it, so the Horvitz-Thompson device is unchanged — one
    exact wide-integer division, hash-checkable.  Returns ONE row:
    ``(n_sources, theta, w_union, w_inter, est_union, est_inter)``.

    Scale shape: one aggregate over the ≤ n_sources·(k+1)-row state
    table; the 1-row theta broadcast is the only join."""
    if k < 2:
        raise ValueError("k must be >= 2")
    n_sources = states.select("source").distinct().count()
    params = states.groupBy("source").agg(
        F.count(F.lit(1)).alias("_m"), F.max("_h").alias("_mx")
    ).select(
        F.when(F.col("_m") >= k + 1, F.col("_mx"))
        .otherwise(F.lit(THETA_MAX))
        .cast("long")
        .alias("theta_s"),
    )
    theta = params.agg(F.min("theta_s").cast("long").alias("theta"))
    marked = (
        states.crossJoin(F.broadcast(theta))
        .filter(F.col("_h") < F.col("theta"))
        .groupBy("_h", "theta")
        .agg(F.countDistinct("source").alias("_ns"))
    )
    counts = marked.groupBy("theta").agg(
        F.count(F.lit(1)).cast("long").alias("w_union"),
        F.sum((F.col("_ns") == n_sources).cast("int")).cast("long").alias("w_inter"),
    )

    def est(col: str) -> Column:
        return (
            F.when(F.col("theta") == THETA_MAX, F.col(col))
            .otherwise(
                F.expr(
                    f"CAST({col} AS DECIMAL(38,0)) * CAST({THETA_MAX} AS DECIMAL(38,0))"
                    " DIV theta"
                )
            )
            .cast("long")
        )

    # theta carried through the aggregate; an all-empty state set still
    # yields one row via the right-join against the 1-row theta table
    return (
        theta.join(counts, "theta", "left")
        .select(
            F.lit(n_sources).cast("int").alias("n_sources"),
            "theta",
            F.coalesce(F.col("w_union"), F.lit(0)).cast("long").alias("w_union"),
            F.coalesce(F.col("w_inter"), F.lit(0)).cast("long").alias("w_inter"),
        )
        .select(
            "n_sources", "theta", "w_union", "w_inter",
            est("w_union").alias("est_union"),
            est("w_inter").alias("est_inter"),
        )
    )
