"""Product-quantization ANN on the integer grid [EXT] — the FAISS-class
ADC scan (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") restated so that codebooks, codes, and query distances all
replay bit-exactly in the DuckDB oracle.

Why PQ beside the existing ANN paths: int8 scalar quantization
(``quantized_cosine_topk``) shrinks vectors 4× but still streams every
component of every vector past every query; LSH/IVF prune candidates
but score survivors at full width.  PQ compresses each vector to ``m``
SMALL CODES (here 16 × 4 bits) and scores a candidate with ``m`` table
lookups + adds — at 100 TB the corpus scan reads ~1 byte/vector-subspace
instead of 64 floats, and the per-query work is O(k_codes · dim) table
build + O(N · m) integer adds.  This is the memory-bandwidth shape that
makes billion-vector search tractable.

Determinism restatements (the ``grid_kmeans`` toolbox, per subspace):

* ONE GLOBAL int8 scale (corpus max |x|, a 1-row broadcast) — per-vector
  scales would make sub-distances incomparable across vectors;
  ``floor(x/g*127 + 0.5)`` is the established bit-identical device;
* per-subspace codebooks trained by Gonzalez farthest-point seeding +
  pinned Lloyd rounds, all distances EXACT int64 squared Euclidean,
  centroid updates truncating ``sum DIV count``, empty cells keep their
  centroid — every constant shared with the generated unrolled-CTE
  oracle (suite._pq_topk_oracle_sql);
* asymmetric distance (ADC): the query keeps its full sub-vectors, the
  corpus only its codes; ``dist(q, x) = Σ_s dtab[s][code_s(x)]`` — an
  int64 sum of m exact int64 cell distances, summation-order-free.

Scale shape (tightened in the round-10 optimization pass, guide
§2.3/2.4): codebooks are BOUNDED MODEL STATE (``m·k_codes`` sub-vectors
— the same k×dim quantity MLlib reduces to the driver per KMeans
round), so they live as Python lists between rounds and are inlined as
literal arrays indexed by the subspace id.  Per seeding round that
leaves ONE partial-combining per-``s`` argmax job (the old full-sort
window over m partitions and its two localCheckpoints are gone); per
Lloyd round ONE map-side argmin + ``(s, cid, pos)`` aggregate job
(treeAggregate shape); corpus encoding is a pure projection — no
assignment join or shuffle ever touches the code table.  The ADC
distance table is built map-side from the literal codebooks
(``|Q|·m·k_codes`` rows) and auto-selects broadcast vs shuffle-hash
against the streaming codes; top-k is a per-query WindowGroupLimit.
Nothing corpus-sized is collected or crossed.

Reference note: the reference repo (227-LoC pandas Flask app,
main.py) has no vector surface; this extends the SURVEY §2.10
similarity-search family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans import probe
from .clustering import (
    GRID_KMEANS_ROUNDS,
    _best_center_expr,
    _grid_kmeans_fit,
    _nearest_cells_expr,
    _sq_dist,
    _sqd_sql,
    _trunc_div,
    _vec_sql,
)

__all__ = ["pq_topk", "ivfpq_topk", "PQ_LLOYD_ROUNDS"]

# Pinned Lloyd iteration count per subspace, shared with the oracle
# generator (suite._pq_topk_oracle_sql) — fixed depth on both sides,
# never a convergence test only one side runs.
PQ_LLOYD_ROUNDS = 2


def _corpus_scale(embeddings: DataFrame, *, vec_col: str) -> DataFrame:
    """1-row ``(g)`` corpus-wide quantization scale (max |x|)."""
    v = F.col(vec_col).cast("array<double>")
    return embeddings.select(v.alias("v")).select(
        F.greatest(
            F.max(F.array_max(F.transform(F.col("v"), F.abs))), F.lit(1e-30)
        ).alias("g")
    )


def _global_codes(
    embeddings: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    scale: DataFrame | None = None,
) -> DataFrame:
    """``(vec_id, q)``: GLOBAL-scale int8 codes — one corpus-wide scale
    (a 1-row broadcast) instead of the per-vector scale of
    ``quantize_expr``, because PQ compares SUB-vectors across different
    vectors and per-vector scales would make those distances
    incomparable.  ``scale`` injects a precomputed 1-row scale table so
    an EXTERNAL query set is encoded on the CORPUS's grid (queries must
    share the corpus scale or their ADC distances are meaningless)."""
    v = F.col(vec_col).cast("array<double>")
    base = embeddings.select(F.col(id_col).cast("long").alias("vec_id"), v.alias("v"))
    gs = scale if scale is not None else _corpus_scale(embeddings, vec_col=vec_col)
    q = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("g") * 127.0 + 0.5).cast("long")
    )
    return base.crossJoin(F.broadcast(gs)).select("vec_id", q.alias("q"))


def _subvectors(codes: DataFrame, *, m: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """``(vec_id, [*extra,] s, sq)``: split each code vector into ``m``
    contiguous sub-vectors — pure per-row codegen.  ``extra`` names
    passthrough columns (ivfpq carries the coarse ``cell`` so the
    inverted code lists never need an assignment join)."""
    sub = (F.size(F.col("q")) / m).cast("int")
    return codes.select("vec_id", *extra, sub.alias("_sub"), "q").select(
        "vec_id",
        *extra,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("q"), s * F.col("_sub") + 1, F.col("_sub")),
            )
        ).alias("s", "sq"),
    )


def _cb_sql(books: list[list[tuple[int, list[int]]]]) -> str:
    """The codebooks as one SQL literal
    ``array<array<struct<cid int, cv array<bigint>>>>`` indexed
    ``[s+1]`` via ``element_at``."""
    return (
        "array("
        + ",".join(
            "array("
            + ",".join(
                f"named_struct('cid', {int(cid)}, 'cv', {_vec_sql(cv)})"
                for cid, cv in book
            )
            + ")"
            for book in books
        )
        + ")"
    )


def _encode_cid_expr(
    books: list[list[tuple[int, list[int]]]], s: str, sq: str
) -> Column:
    """Nearest codebook entry id for (s, sq) against the literal
    codebooks — ``array_min`` over ``struct(dist, cid)`` (ties →
    smallest cid), evaluated map-side with no join or shuffle.  ``s``
    and ``sq`` are SQL column names; one parsed SQL string (see
    ``clustering._vec_sql``)."""
    return F.expr(
        f"array_min(transform(element_at({_cb_sql(books)}, CAST({s} + 1 AS INT)), "
        f"c -> named_struct('dist', {_sqd_sql(sq, 'c.cv')}, 'cid', c.cid)))"
    ).getField("cid")


def _dist_table(
    q_sub: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """ADC distance table ``(query_id, *extra, s, cid, d)`` of the query
    sub-vectors ``q_sub = (vec_id, *extra, s, sq)``: ``d`` is the exact
    int64 distance of each sub-vector to every literal codebook entry of
    its subspace, built map-side (no join against a centers table)."""
    return (
        q_sub.select(
            F.col("vec_id").alias("query_id"),
            *extra,
            "s",
            F.expr(
                f"transform(element_at({_cb_sql(books)}, CAST(s + 1 AS INT)), "
                f"c -> named_struct('cid', c.cid, 'd', {_sqd_sql('sq', 'c.cv')}))"
            ).alias("_es"),
        )
        .select("query_id", *extra, "s", F.explode("_es").alias("_e"))
        .select(
            "query_id", *extra, "s",
            F.col("_e.cid").alias("cid"), F.col("_e.d").alias("d"),
        )
    )


def _pq_fit(
    embeddings: DataFrame | None = None,
    *,
    m: int = 16,
    k_codes: int = 16,
    rounds: int = PQ_LLOYD_ROUNDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: DataFrame | None = None,
    codes: DataFrame | None = None,
    staged: bool = False,
    extra: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, list[list[tuple[int, list[int]]]]]:
    """Train the per-subspace codebooks and return ``(codes_full, subq,
    books)`` with the codebooks as driver-side Python lists indexed
    ``books[s] = [(cid, cv), ...]`` — bounded model state
    (``m·k_codes`` sub-vectors), inlined as plan literals by the query
    paths.  Bit-identical to the pre-round-10 DataFrame formulation
    (same Gonzalez order, tie rules, truncating updates — hash-checked
    against the same unrolled-CTE oracles).  ``scale`` injects a
    precomputed 1-row quantization scale (an external query set is then
    encoded on the same grid); ``codes`` injects a precomputed
    ``(vec_id, q)`` long-array code table and skips quantization
    (:func:`ivfpq_topk` trains on coarse-cell residuals); ``staged``
    marks ``codes`` as already checkpointed (skips the redundant
    re-materialization); ``extra`` columns ride through ``subq``
    untouched by training.  All m subspaces train concurrently: each
    seeding/Lloyd round is one job over the (vec, subspace) table.

    The seeding is this trainer's own, not ``clustering._grid_kmeans_fit``'s
    top-1 ``orderBy().limit(1)``: m subspaces need a per-``s`` winner,
    hence the grouped ``max(struct)`` aggregate below.  For m = 1 the
    top-1 form is cheaper — running grid k-means' seeding through this
    aggregate measured 60 vs 40 jobs and 2.23 vs 1.47 s per fit (median
    of 7 alternating reps, sf0.01 embeddings, k=10, ``local[2]``;
    identical centres) — so the two trainers stay separate."""
    if m < 1 or k_codes < 1:
        raise ValueError("m >= 1 and k_codes >= 1")
    from ..plans.staging import stage

    if codes is not None:
        codes_full = codes.select(
            F.col("vec_id").cast("long").alias("vec_id"), *extra, "q"
        )
        if not staged:
            codes_full = stage(codes_full)
    else:
        if embeddings is None:
            raise ValueError("_pq_fit: pass embeddings or codes")
        codes_full = stage(
            _global_codes(embeddings, id_col=id_col, vec_col=vec_col, scale=scale)
        )
    # stage (not a plain checkpoint): a 1-split scan would cap every
    # seeding/Lloyd round below at 1 task (guide §6 parallelism floor)
    subq = stage(_subvectors(codes_full, m=m, extra=extra))

    # Gonzalez farthest-point seeding, all subspaces per round at once:
    # seed = the min-vec_id sub-vector per s, each next center the
    # per-s argmax of dmin (ties → smallest vec_id) against the chosen
    # set inlined as literals.  ONE partial-combining aggregate job per
    # round — the m-partition full-sort window and the per-round state
    # checkpoint of the old formulation are gone; only m winner rows
    # (each sub-dim longs) reach the driver per round.
    first = (
        subq.groupBy("s")
        .agg(F.min(F.struct(F.col("vec_id"), F.col("sq"))).alias("b"))
        .collect()
    )
    if not first:
        return codes_full, subq, []
    n_sub = 1 + max(int(r["s"]) for r in first)
    chosen: list[list[tuple[int, list[int]]]] = [[] for _ in range(n_sub)]
    for r in first:
        chosen[int(r["s"])].append(
            (int(r["b"]["vec_id"]), [int(x) for x in r["b"]["sq"]])
        )
    for _ in range(2, k_codes + 1):
        cents_sql = (
            "array("
            + ",".join(
                "array(" + ",".join(_vec_sql(cv) for _vid, cv in ch) + ")"
                for ch in chosen
            )
            + ")"
        )
        ids_sql = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{int(vid)}L" for vid, _cv in ch) + ")"
                for ch in chosen
            )
            + ")"
        )
        dmin = F.expr(
            f"array_min(transform(element_at({cents_sql}, CAST(s + 1 AS INT)), "
            f"c -> {_sqd_sql('sq', 'c')}))"
        )
        notin = F.expr(
            f"NOT array_contains(element_at({ids_sql}, CAST(s + 1 AS INT)), vec_id)"
        )
        sel = (
            subq.filter(notin)
            .select("s", "vec_id", "sq", dmin.alias("dmin"))
            .groupBy("s")
            .agg(
                F.max(
                    F.struct(
                        F.col("dmin"),
                        F.bitwise_not("vec_id").alias("nv"),
                        F.col("sq"),
                    )
                ).alias("b")
            )
            .collect()
        )
        if not sel:
            break  # k_codes exceeds corpus size
        for r in sel:
            # Spark bitwise_not on a 64-bit long is two's-complement
            # ~v = -v-1; Python ~ inverts it back exactly.
            chosen[int(r["s"])].append(
                (~int(r["b"]["nv"]), [int(x) for x in r["b"]["sq"]])
            )
    books: list[list[tuple[int, list[int]]]] = [
        [(i + 1, cv) for i, (_vid, cv) in enumerate(ch)] for ch in chosen
    ]

    # Lloyd rounds: ONE job each — map-side literal argmin feeding a
    # partial-combining (s, cid, pos) sum/count; the truncating update
    # runs in exact Python integer arithmetic (same DIV semantics).
    for _ in range(rounds):
        cid_expr = _encode_cid_expr(books, "s", "sq")
        sums = (
            subq.select("s", cid_expr.alias("cid"), "sq")
            .select("s", "cid", F.posexplode("sq").alias("pos", "val"))
            .groupBy("s", "cid", "pos")
            .agg(F.sum("val").alias("_s"), F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, int]] = {}
        for r in sums:
            upd.setdefault((int(r["s"]), int(r["cid"])), {})[int(r["pos"])] = _trunc_div(
                int(r["_s"]), int(r["_c"])
            )
        books = [
            [
                (
                    cid,
                    [upd[(s, cid)][p] for p in range(len(cv))]
                    if (s, cid) in upd
                    else cv,
                )
                for cid, cv in book
            ]
            for s, book in enumerate(books)
        ]
    return codes_full, subq, books


def _adc_refine(
    codes: DataFrame,
    dtab: DataFrame,
    keys: list[str],
    q_full: DataFrame,
    codes_full: DataFrame,
    *,
    est_dtab: float,
    est_q: float,
    rerank: int,
    k: int,
) -> DataFrame:
    """The ADC scan + exact refine shared by :func:`pq_topk` and
    :func:`ivfpq_topk`: join the corpus codes to the per-query distance
    table ``dtab`` on ``keys``, sum ``d`` into ``pq_dist`` per (query,
    neighbor), keep the best ``rerank`` per query, re-rank those by the
    EXACT int64 distance over the full-width codes (``q_full`` for the
    queries, ``codes_full`` for the neighbors) and keep the top ``k``.
    Both query-scaled join sides go through ``probe_side`` with the
    caller's row estimates; self-matches excluded, ties → smallest
    neighbor_id."""
    scores = (
        codes.join(probe.probe_side(dtab, est_rows=est_dtab), keys)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").cast("long").alias("pq_dist"))
    )
    wc = Window.partitionBy("query_id").orderBy("pq_dist", "neighbor_id")
    cand = scores.withColumn("_crn", F.row_number().over(wc)).filter(
        F.col("_crn") <= rerank
    )

    qfull = q_full.select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("_qq")
    )
    rer = (
        cand.join(
            probe.probe_side(qfull, est_rows=est_q),
            "query_id",
        )
        .join(
            codes_full.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("_nq")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "pq_dist",
            _sq_dist(F.col("_nq"), F.col("_qq")).alias("dist_grid"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist_grid", "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist", "dist_grid", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    *,
    m: int = 16,
    k_codes: int = 16,
    rounds: int = PQ_LLOYD_ROUNDS,
    k: int = 5,
    rerank: int = 100,
    query_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` neighbors per query: PQ asymmetric distance (ADC)
    prunes the corpus to the best ``rerank`` candidates per query, an
    EXACT int64 distance over the full-width codes then re-ranks those
    candidates — the FAISS ADC + refine pattern.  The refine stage is
    what makes small code budgets usable: whole clusters can collapse
    onto one PQ cell (identical ``pq_dist``), so rank-k among ties is
    arbitrary without it (measured recall@5 0.07 at the first-cut m=4/k=8
    config vs 0.96 at the shipped m=16/k=16/rerank=100 config on the
    driver corpus).  Self-matches excluded, all ties →
    smallest neighbor_id.

    The query set is an EXPLICIT ``queries`` DataFrame (``id_col``,
    ``vec_col``; encoded on the CORPUS's quantization grid — the scale
    is computed once and shared); when omitted it defaults to the
    in-repo convention ``corpus rows with vec_id % query_mod == 0``.

    Cost shape at 100 TB: the corpus-sized work is the code scan
    (``N·m`` lookup-adds against the per-query distance table).  That
    distance table is ``|Q|·m·k_codes`` rows — it scales with the QUERY
    SET, so its join strategy is auto-selected from plan statistics
    (``plans/probe.py``): small query set → broadcast (the corpus never
    shuffles); corpus-proportional query set → shuffle-hash join
    (VERDICT r7 #2 — the broadcast would OOM the driver).  The refine
    touches only ``|Q|·rerank`` rows.

    Returns ``(query_id, neighbor_id, pq_dist, dist_grid, rank)`` —
    ``pq_dist`` the int64 ADC estimate, ``dist_grid`` the exact int64
    squared distance, ``rank`` by ``(dist_grid, neighbor_id)``.
    """
    scale = None
    if queries is not None:
        scale = _corpus_scale(corpus, vec_col=vec_col).localCheckpoint()
    codes_full, subq, books = _pq_fit(
        corpus, m=m, k_codes=k_codes, rounds=rounds, id_col=id_col,
        vec_col=vec_col, scale=scale,
    )
    # corpus encoding: pure projection against the literal codebooks —
    # the old broadcast-join + groupBy assignment shuffle is gone.
    codes = subq.select(
        "vec_id", "s",
        _encode_cid_expr(books, "s", "sq").alias("cid"),
    )

    if queries is None:
        q_full = codes_full.filter(F.col("vec_id") % query_mod == 0)
        q_sub = subq.filter(F.col("vec_id") % query_mod == 0)
    else:
        q_full = _global_codes(
            queries, id_col=id_col, vec_col=vec_col, scale=scale
        ).localCheckpoint()
        q_sub = _subvectors(q_full, m=m)
    # The distance table is |Q|·m·k_codes rows.  Byte-derived stats
    # overestimate |Q| ~100× here (code rows are wide arrays, the dtab
    # rows that actually broadcast are 4 longs), so count |Q| exactly up
    # to budget/(m·k_codes); a capped count is +inf, which sends both
    # query-scaled joins to shuffle-hash — the safe direction.
    est_q = probe.bounded_rows(q_full, probe.PROBE_BROADCAST_ROW_BUDGET // (m * k_codes))
    return _adc_refine(
        codes, _dist_table(q_sub, books), ["s", "cid"], q_full, codes_full,
        est_dtab=est_q * m * k_codes, est_q=est_q,
        rerank=rerank, k=k,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    *,
    k_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    pq_rounds: int = PQ_LLOYD_ROUNDS,
    k: int = 5,
    rerank: int = 100,
    query_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composition — FAISS IVFADC (Jégou et al. 2011 §V), the
    production billion-vector ANN layout, restated on the integer grid
    so every stage hash-checks in DuckDB:

    * coarse quantizer: ``clustering._grid_kmeans_fit`` over the
      GLOBAL-scale codes (``_global_codes`` — one corpus-wide scale, so
      residuals are comparable across vectors; the per-vector device of
      ``grid_ivf_topk`` cannot feed a shared PQ codebook);
    * residual encoding: ``r = q - cell_centroid`` (exact int64), then
      ONE shared PQ codebook set trained on residuals (:func:`_pq_fit`
      with ``codes=`` — FAISS's default shared-codebook IVFADC, not
      per-cell codebooks);
    * query: probe the ``n_probe`` nearest cells, build the per-(query,
      cell) ADC distance table from the QUERY'S residual in that cell,
      table-lookup-add over only the codes assigned to probed cells;
    * exact full-width refine of the top ``rerank`` (the ADC estimate
      quantizes hard at small code budgets — same rationale as
      :func:`pq_topk`).

    Why this beats its two halves at 100 TB: ``grid_ivf_topk`` prunes
    to ~``n_probe/k_cells`` of the corpus but scores survivors at full
    width (64 longs/vector); ``pq_topk`` reads ~``m`` bytes/vector but
    scans EVERY vector.  IVFADC does both — the scan touches only
    probed cells AND reads only code bytes, which is why FAISS ships it
    as the default billion-scale index.

    Scale shape: everything corpus-sized is inherited from the halves —
    the coarse assignment is a k_cells-row broadcast against the
    streaming codes, PQ training aggregates are map-side-combined, and
    the inverted code lists NEVER shuffle on the cell key: the ADC
    distance table (``|Q|·n_probe·m·k_codes`` rows) scales with the
    query set, so its join strategy is auto-selected from a bounded
    exact query count (``plans/probe.bounded_rows``): small query set →
    broadcast, corpus-proportional or capped count → shuffle-hash (the
    pq_topk rule).  The ADC scan and refine are :func:`_adc_refine`,
    shared with :func:`pq_topk`.

    Returns ``(query_id, neighbor_id, pq_dist, dist_grid, rank)`` —
    ``pq_dist`` the int64 ADC estimate on residuals, ``dist_grid`` the
    exact int64 squared grid distance, ``rank`` by ``(dist_grid,
    neighbor_id)``; self-matches excluded, ties → smallest neighbor_id.
    Oracle: suite._ivfpq_oracle_sql replays coarse k-means → residuals
    → PQ → probe → ADC → refine end to end.

    Reference note: the reference repo (main.py, 227 LoC pandas Flask
    app) has no vector surface; this completes the SURVEY §2.10 ANN
    family's production shape.
    """
    if n_probe < 1 or k < 1 or rerank < k:
        raise ValueError("n_probe >= 1, k >= 1, rerank >= k")
    n_probe = min(n_probe, k_cells)
    from ..plans.staging import stage

    scale = _corpus_scale(corpus, vec_col=vec_col).localCheckpoint()
    codes_full = stage(
        _global_codes(corpus, id_col=id_col, vec_col=vec_col, scale=scale)
    )

    # coarse cells on the global grid — bounded model state (k_cells ×
    # dim longs) inlined as literals everywhere below; cell ids are
    # 1..k_cells in Gonzalez selection order, so a plain literal array
    # indexes centroids by cell id.
    _, cells_py = _grid_kmeans_fit(
        codes=codes_full, k=k_cells, rounds=GRID_KMEANS_ROUNDS, staged=True
    )
    cells_sql = "array(" + ",".join(_vec_sql(cv) for _cid, cv in cells_py) + ")"

    # residual codes r = q - cell centroid (exact int64, same grid),
    # with the coarse cell riding along — ONE map-side projection
    # replaces the old assignment join + centroid broadcast join, and
    # the checkpointed row already carries ``cell`` so the inverted
    # code lists below need no join either.
    resid = (
        codes_full.select(
            "vec_id",
            _best_center_expr("q", cells_py).getField("cid").alias("cell"),
            "q",
        )
        .select(
            "vec_id",
            "cell",
            F.expr(
                f"zip_with(q, element_at({cells_sql}, cell), (x, y) -> x - y)"
            ).alias("q"),
        )
        .localCheckpoint()
    )
    _, subq_r, books = _pq_fit(
        codes=resid, m=m, k_codes=k_codes, rounds=pq_rounds,
        staged=True, extra=("cell",),
    )
    # inverted code lists: (vec_id, cell, s, cid) — the IVFADC index,
    # a pure projection against the literal residual codebooks
    codes_cell = subq_r.select(
        "vec_id", "cell", "s",
        _encode_cid_expr(books, "s", "sq").alias("cid"),
    )

    if queries is None:
        q_full = codes_full.filter(F.col("vec_id") % query_mod == 0)
    else:
        q_full = _global_codes(
            queries, id_col=id_col, vec_col=vec_col, scale=scale
        ).localCheckpoint()

    # dtab is |Q|·n_probe·m·k_codes rows: count |Q| exactly up to the
    # budget; a capped count is +inf, so BOTH query-scaled joins go
    # shuffle-hash (the pq_topk rule)
    est_q = probe.bounded_rows(
        q_full, probe.PROBE_BROADCAST_ROW_BUDGET // (n_probe * m * k_codes)
    )

    # probe the n_probe nearest cells map-side and take the query's
    # residual in each from the same literal centroid array
    probed = q_full.select(
        "vec_id", "q", F.explode(_nearest_cells_expr("q", cells_py, n_probe)).alias("_pc")
    ).select(
        "vec_id",
        F.col("_pc.cid").alias("cell"),
        F.expr(
            f"zip_with(q, element_at({cells_sql}, _pc.cid), (x, y) -> x - y)"
        ).alias("q"),
    )
    # ADC distance table, map-side from the literal residual codebooks
    dtab = _dist_table(_subvectors(probed, m=m, extra=("cell",)), books, ("cell",))
    return _adc_refine(
        codes_cell, dtab, ["cell", "s", "cid"], q_full, codes_full,
        est_dtab=est_q * n_probe * m * k_codes, est_q=est_q,
        rerank=rerank, k=k,
    )
