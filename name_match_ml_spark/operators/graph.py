"""Connected components over a pair stream [EXT] — dedup cluster
resolution (SURVEY.md §2.10).

Every near-dup operator in :mod:`.dedup` emits *pairs*; a training-data
pipeline needs *clusters* (pick one keeper per group of mutual
near-duplicates, drop the rest).  Pairs → clusters is connected
components on the similarity graph.  One call runs two algorithms in
turn:

* min-label propagation first: every node starts labeled with its own
  id; each round every node takes the min of its own and its neighbors'
  labels (one equi-join + one min-aggregate, shuffling only longs).
  Rounds = graph diameter: ideal for near-dup graphs, which are dense
  and shallow (duplicates of a document are near-duplicates of each
  other) — 2-3 rounds in practice.
* if labels have not converged after ``_LABEL_ROUNDS`` rounds the graph
  is deep, so restart on alternating large-star/small-star edge
  rewriting (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14): large-star hangs every neighbor larger than the
  current node off the neighborhood minimum; small-star re-hangs the
  smaller ones.  Both are one groupBy-min + one join per phase over an
  edge list that only shrinks toward stars, and the alternation
  converges in O(log n) rounds *regardless of diameter* — the 100 TB
  answer for chain-shaped components (e.g. boilerplate drift
  A≈B≈C≈…) where label propagation would need diameter rounds.  The
  wasted work is bounded: ``_LABEL_ROUNDS`` cheap long-only rounds.

Each round ends in ``localCheckpoint(eager=False)`` — iterative lineage
MUST be cut (a) so round N+1's plan doesn't re-execute rounds 1..N, and
(b) so the convergence-check action doesn't recompute the round.  LAZY
checkpoints since optimization round 10: the plan is cut at the
LogicalRDD either way, but materialization now happens inside the first
action that touches the round — the convergence probe where one exists,
the caller's single output action for fixed-round operators — so a
k-round operator schedules ~k fewer jobs (eager checkpointing paid one
materialization job PLUS the probe/output job per round).  Each round's
rows are still computed exactly once (cached at first evaluation, the
localCheckpoint storage contract).

Deterministic: the fixpoint is unique (every node labeled with the
smallest id in its component), so the result is oracle-checkable (DuckDB
recursive CTE over the same pair stream) and both algorithms agree
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_60

__all__ = [
    "near_dup_graph",
    "incremental_near_dup",
    "connected_components",
    "pagerank",
    "triangles",
    "bfs_hops",
    "bellman_ford_k",
    "k_core",
    "label_propagation",
    "graph_walks",
]

# Rounds used by the most recent connected_components call (label rounds
# + star rounds); read by tests asserting the O(log n) bound.
last_rounds: int = 0

# Label-propagation rounds connected_components runs before handing a
# deep graph to large-star/small-star.
_LABEL_ROUNDS = 6


def near_dup_graph(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    with_components: bool = False,
    cc_max_iter: int = 25,
):
    """Derive the near-dup pair graph ONCE and stage it for every
    graph-family consumer.

    Every graph-quality operator (``triangles``, ``k_core``,
    ``pagerank``, ``bfs_hops``, ``bellman_ford_k``, modularity,
    clustering coefficient) and every cluster-aware cleaning operator
    (``leak_safe_split``, ``select_keepers``) starts from the same
    ``ngram_jaccard_pairs(docs, threshold, shingle_n)`` edge list — and
    several also need its connected components.  Composed pipelines
    that re-derive the pairs per consumer pay the full shingle join
    each time; at 100 TB the pair graph is materialized once (this
    builder, or its ``save_bucketed`` persisted twin) and read by every
    consumer.  ``stage`` cuts the lineage with a local checkpoint, so
    each consumer's plan is a scan of the stored pair rows, not a
    re-derivation.

    Returns the staged ``(doc_a, doc_b, jaccard)`` DataFrame, or the
    tuple ``(pairs, clusters)`` with ``clusters = (id, cluster_id)``
    also staged when ``with_components=True``.  ``materialize=False``
    skips staging (single-consumer declared queries keep their fully
    visible one-shot plan).
    """
    from ..plans.staging import stage
    from .dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle_n=shingle_n,
    ).select("doc_a", "doc_b", "jaccard")
    if materialize:
        pairs = stage(pairs)
    if not with_components:
        return pairs
    comp = connected_components(pairs, max_iter=cc_max_iter)
    if materialize:
        comp = stage(comp)
    return pairs, comp


def _cdc_edge_delta(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    *,
    base_pairs: DataFrame | None,
    removed: DataFrame | None,
    threshold: float,
    shingle_n: int,
    text_col: str,
    id_col: str,
    hash_fn: str,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared CDC edge maintenance (the :func:`incremental_near_dup`
    body, also driving :func:`incremental_cluster_update`): returns
    ``(kept, fresh, dead, delta_ids)`` — cached edges between surviving
    unchanged docs reused verbatim, fresh delta×snapshot pairs scored
    by the delta-probe countjoin, the retire-id set, and the delta-id
    set.  Nothing unchanged×unchanged is ever re-shingled or
    re-scored."""
    from .dedup import _staged_shingle_hashes, ngram_jaccard_pairs

    delta_ids = delta_docs.select(F.col(id_col).alias("doc_id")).distinct()
    dead = (
        delta_ids.unionByName(removed.toDF("doc_id")) if removed is not None
        else delta_ids
    ).localCheckpoint(eager=False)
    unchanged = base_docs.join(
        dead, base_docs[id_col] == dead["doc_id"], "left_anti"
    )
    snapshot = unchanged.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).unionByName(
        delta_docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    )

    if base_pairs is None:
        base_pairs = ngram_jaccard_pairs(
            base_docs,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            shingle_n=shingle_n,
        ).select("doc_a", "doc_b", "jaccard")
    kept = (
        base_pairs.join(dead, base_pairs["doc_a"] == dead["doc_id"], "left_anti")
        .join(dead, base_pairs["doc_b"] == dead["doc_id"], "left_anti")
        .select("doc_a", "doc_b", "jaccard")
    )

    # Fresh pairs: delta-probe countjoin against the new snapshot.  The
    # build side carries an is-delta flag so the probe can keep exactly
    # ONE direction of every delta×delta pair (probe id < build id) and
    # both directions never reach the aggregate — the old shape counted
    # those pairs twice, halved them afterwards, and paid two semi-joins
    # plus a left join (re-running the countjoin aggregate as the
    # correction's input) to do so (optimization round 10, guide §2.3
    # "aggregate before you shuffle" / §2.4).
    sized = _staged_shingle_hashes(
        snapshot, "text", "doc_id", shingle_n, hash_fn
    ).select("doc_id", F.size("sh").alias("n"), "sh")
    ex = (
        sized.select("doc_id", "n", F.explode("sh").alias("h"))
        .join(delta_ids.withColumn("_bd", F.lit(True)), "doc_id", "left")
        .withColumn("_bd", F.coalesce(F.col("_bd"), F.lit(False)))
    )
    dex = ex.filter(F.col("_bd")).select(
        F.col("doc_id").alias("_da"), F.col("n").alias("_na"), "h"
    )
    fresh = (
        dex.join(ex, "h")
        # one direction per delta×delta pair; delta×unchanged pairs have
        # exactly one probe direction already (_bd=False on the build row)
        .filter((~F.col("_bd")) | (F.col("_da") < F.col("doc_id")))
        # PPJoin length filter before the aggregate: impossible pairs
        # never reach the shuffle.
        .filter(
            F.least("_na", "n")
            >= F.lit(threshold) * F.greatest("_na", "n")
        )
        .groupBy(
            F.least("_da", "doc_id").alias("doc_a"),
            F.greatest("_da", "doc_id").alias("doc_b"),
            F.least("_na", "n").alias("_nmin"),
            F.greatest("_na", "n").alias("_nmax"),
        )
        .agg(F.count(F.lit(1)).alias("_i"))
        .withColumn(
            "jaccard",
            F.col("_i") / (F.col("_nmin") + F.col("_nmax") - F.col("_i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return kept, fresh, dead, delta_ids


def incremental_near_dup(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    *,
    base_pairs: DataFrame | None = None,
    removed: DataFrame | None = None,
    threshold: float = 0.5,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    cc_max_iter: int = 25,
) -> DataFrame:
    """CDC maintenance of the near-dup clusters: apply a snapshot DELTA
    (added/replaced docs, plus optional removals) without re-scoring the
    unchanged×unchanged pair space — the warehouse reality of a living
    corpus, where each ingestion batch touches a sliver of 100 TB.

    Inputs: ``base_docs`` (the previous snapshot), ``delta_docs`` (docs
    added or replaced BY ID), ``removed`` (optional 1-column frame of
    ids deleted outright), and ``base_pairs`` — the CACHED
    ``(doc_a, doc_b, jaccard)`` edge list of the previous snapshot (a
    :func:`near_dup_graph` output persisted by the prior run; when
    ``None`` it is derived here, which is only sensible in tests).

    The update is exact, not approximate: an edge's Jaccard depends
    only on its two endpoints, so edges between surviving unchanged
    docs are REUSED from ``base_pairs`` verbatim, edges with a dead
    endpoint (replaced/removed id) are dropped, and only
    delta×snapshot pairs are scored fresh — the same word-shingle
    exact-Jaccard semantics as :func:`.dedup.ngram_jaccard_pairs`,
    probed from the delta side (the countjoin shape: explode the
    delta docs' shingle hashes, equi-join the snapshot's, map-side
    combined pair counts ARE the intersections).  Connected components
    then run over ``kept ∪ fresh``.  Output matches a FULL recompute
    on the new snapshot row-for-row (pinned in pytest by a poisoned /
    withheld cache test): ``(doc_id, cluster_id, cluster_size,
    is_keeper)`` over every clustered doc.

    Scale shape: the fresh-pair join's probe side is delta-sized —
    Σ_h df_delta(h)·df_snap(h) rows, zero when the batch is clean; the
    cached edges re-enter via two hash anti-joins on the dead-id set;
    CC inherits :func:`connected_components`' large/small-star
    fallback.  Nothing unchanged×unchanged is ever re-shingled,
    re-joined, or re-scored.
    """
    kept, fresh, _dead, _delta_ids = _cdc_edge_delta(
        base_docs,
        delta_docs,
        base_pairs=base_pairs,
        removed=removed,
        threshold=threshold,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        hash_fn=hash_fn,
    )
    edges = kept.unionByName(fresh)
    comp = connected_components(edges, max_iter=cc_max_iter)
    from pyspark.sql import Window as _W

    w_sz = _W.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
    )


def incremental_cluster_update(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    cached_labels: DataFrame,
    *,
    base_pairs: DataFrame | None = None,
    removed: DataFrame | None = None,
    threshold: float = 0.5,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    cc_max_iter: int = 25,
) -> DataFrame:
    """CDC maintenance of the cluster LABELS themselves — the successor
    to :func:`incremental_near_dup`, which reuses cached *edges* but
    still reruns connected components over the full merged edge set.
    At 100 TB that components rerun is the new bottleneck (VERDICT r9):
    CC iterations touch every edge every round even though a typical
    ingestion batch perturbs a sliver of the cluster graph.

    This operator recomputes components only for AFFECTED components
    (the DBSP/differential-dataflow treatment of CC maintenance,
    specialized to the min-label invariant):

    * touched nodes = retire-id set ∪ fresh-edge endpoints;
    * affected components = cached components containing a touched
      node.  Base edges never cross components, and every fresh edge's
      cached endpoints lie in affected components by construction — so
      UNTOUCHED components can neither gain nor lose an edge, and
      their cached ``(id, cluster_id)`` rows flow through VERBATIM
      (pinned by the poisoned-cache pytest: a wrong cached label for
      an untouched component appears unchanged in the output);
    * components rerun over only the affected subgraph: surviving
      cached edges whose (single) component is affected, plus the
      fresh delta×snapshot edges.  Component minima are node ids, so
      recomputed labels cannot collide with untouched ones.

    Inputs are :func:`incremental_near_dup`'s plus ``cached_labels`` —
    the previous snapshot's ``(id, cluster_id)`` (a
    :func:`connected_components` output persisted by the prior run).
    Output matches a FULL ``dedup_clusters`` recompute on the new
    snapshot row-for-row: ``(doc_id, cluster_id, cluster_size,
    is_keeper)``.

    Scale shape: the affected filter is one hash semi-join of the
    cached edges against the affected-component set (edges touched
    once, map-side after the label join); the CC iterations — the
    multi-round part — run over the affected subgraph only.  The
    cluster-size window at the end is one pass over label rows (three
    longs each), not vectors or text.
    """
    kept, fresh, dead, _delta_ids = _cdc_edge_delta(
        base_docs,
        delta_docs,
        base_pairs=base_pairs,
        removed=removed,
        threshold=threshold,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        hash_fn=hash_fn,
    )
    fresh = fresh.localCheckpoint(eager=False)
    labels = cached_labels.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )

    # touched nodes → affected cached components
    touched = (
        dead.select(F.col("doc_id").alias("id"))
        .unionByName(fresh.select(F.col("doc_a").alias("id")))
        .unionByName(fresh.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    affected = (
        labels.join(touched, "id", "left_semi").select("cluster_id").distinct()
    ).localCheckpoint(eager=False)

    untouched = (
        labels.join(affected, "cluster_id", "left_anti").select("id", "cluster_id")
    )

    # affected subgraph: surviving cached edges in affected components
    # (an edge's endpoints share one component — label doc_a once) plus
    # every fresh edge
    kept_l = kept.join(labels, kept["doc_a"] == labels["id"]).select(
        "doc_a", "doc_b", "cluster_id"
    )
    sub_edges = (
        kept_l.join(affected, "cluster_id", "left_semi")
        .select("doc_a", "doc_b")
        .unionByName(fresh.select("doc_a", "doc_b"))
    )
    recomputed = connected_components(sub_edges, max_iter=cc_max_iter)

    out = untouched.unionByName(recomputed)
    from pyspark.sql import Window as _W

    w_sz = _W.partitionBy("cluster_id")
    return out.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
    )


def _label_sum(labels: DataFrame):
    # exact decimal sum: ANSI mode would error on a long overflow
    return labels.agg(
        F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    ).first()["s"]


def _label_propagation(sym: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame | None:
    """Min-label propagation to fixpoint; None if max_iter hit first.

    Convergence check: labels only ever DECREASE under min-propagation
    (each round takes a min over a set containing the old label), so the
    fixpoint is reached exactly when the label sum stops changing — one
    single-row aggregate on the already-checkpointed round output instead
    of a join against the previous round."""
    global last_rounds
    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        last_rounds += 1
        nbr = sym.join(labels, sym["b"] == labels["id"]).select(
            F.col("a").alias("id"), "cluster_id"
        )
        # lazy checkpoint: the convergence probe below is the action that
        # materializes the round — one job per round, not two
        # (optimization round 10; lineage is still cut at the LogicalRDD)
        new_labels = (
            labels.union(nbr).groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))
        ).localCheckpoint(eager=False)
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    return None


def _two_phase_cc(sym: DataFrame, max_iter: int) -> DataFrame | None:
    """Alternating large-star/small-star to a stable edge set.

    ``sym`` holds both orientations of every input edge.  Each iteration
    runs one large-star then one small-star; the edge set monotonically
    reshapes into per-component stars rooted at the component minimum.
    Per phase: one min-aggregate + one join, edges only (pairs of longs).
    """
    global last_rounds
    edges = sym.filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"]).localCheckpoint(eager=False)

    for _ in range(max_iter):
        last_rounds += 1
        # Large-star: for each node u with neighborhood N(u) (both
        # orientations present in `edges`), hang every v ∈ N(u), v > u
        # off m = min(N(u) ∪ {u}).
        nbrs = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        mins = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        large = (
            nbrs.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
        )

        # Small-star: orient every edge big→small, then hang each node's
        # smaller neighbors (and itself) off the neighborhood minimum.
        oriented = large.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).filter(F.col("a") != F.col("b"))
        mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        withm = oriented.join(mins, "a")
        small = (
            withm.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(withm.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
            .localCheckpoint(eager=False)
        )

        # Converged when the (deduped, big→small) edge set is unchanged.
        changed = (
            small.exceptAll(edges).limit(1).count()
            or edges.exceptAll(small).limit(1).count()
        )
        edges = small
        if changed == 0:
            # Stars: every remaining edge is (node, component-min).
            return (
                edges.select(F.col("a").alias("id"), F.col("b").alias("cluster_id"))
                .union(edges.select(F.col("b").alias("id"), F.col("b").alias("cluster_id")))
                .groupBy("id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
    return None


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve an undirected pair stream into ``(id, cluster_id)`` rows,
    ``cluster_id`` = the smallest node id in the component.  Nodes are
    exactly the ids appearing in ``pairs`` (callers left-join the full
    corpus back if singletons need rows).

    Runs min-label propagation for up to ``_LABEL_ROUNDS`` rounds, then
    restarts as large-star/small-star (O(log n) rounds) if labels have
    not converged — shallow near-dup graphs stay on the cheap path,
    chain-shaped graphs can't blow the round budget.  Raises only if the
    star phase hits ``max_iter`` without converging.
    """
    global last_rounds
    last_rounds = 0

    # Symmetrize with ONE explode pass over the pair stream.  The old
    # union-of-two-projections shape executed the (often unstaged and
    # expensive) pair lineage once per branch — explode emits both
    # orientations from a single evaluation (optimization round 10,
    # guide §2.4; results are the identical multiset).
    sym = (
        pairs.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .localCheckpoint(eager=False)
    )

    # Fused init + first propagation round (optimization round 10,
    # guide §2.4): label_1(v) = min(v, min N(v)) is ONE aggregate over
    # sym — the old identity-labels distinct (an exchange + a
    # checkpoint) and the first join round (two more exchanges + a
    # convergence action) collapsed into it.  Later rounds and the
    # unique fixpoint are unchanged.
    last_rounds += 1
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("_mb")).alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    out = _label_propagation(sym, labels, _LABEL_ROUNDS - 1)
    if out is not None:
        return out

    out = _two_phase_cc(sym, max_iter)
    if out is None:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # The star phases drop a==b edges, so a node appearing ONLY in
    # self-loop pairs has no row in the star output — left-join the full
    # node set back so both algorithms emit the identical node set
    # (the docstring contract: nodes are exactly the ids in ``pairs``).
    nodes = sym.select(F.col("a").alias("id")).distinct()
    return nodes.join(out, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge list — the
    link-authority quality signal of web-corpus curation (CommonCrawl
    pipelines weight documents by link-graph authority before
    filtering), and the second iterative-dataflow operator beside
    :func:`connected_components`.

    ALL arithmetic is 64-bit integer on a ``scale`` fixed-point grid:
    ``rank0 = scale div n``, each round
    ``rank'(v) = teleport + Σ_{u→v} (rank(u)·damping_num) div
    (damping_den·outdeg(u))`` with ``teleport = (scale·(den-num)) div
    (den·n)``.  Integer sums are order-independent, so the result is
    bit-identical in any engine — the declared oracle replays the same
    ``iterations`` rounds as unrolled CTEs with DuckDB ``//`` division.
    (A float PageRank would hash-diverge: per-node contribution sums
    depend on reduction order.)  Truncating division leaks ≤ 1 grid
    unit per edge per round and dangling nodes leak their damped mass
    — the standard simple variant; ranks are a quality ORDERING, not a
    calibrated distribution.

    Returns ``(id, rank)`` with ``rank ≈ pagerank · scale`` as a long.

    100 TB shape: per round, one equi-join of the rank table against
    the edge list on ``src`` (both shuffled by the key — or co-located
    when the edge list is bucketed by src) and one partial-combining
    sum by ``dst``; everything shuffled is a pair of longs.  Each
    round ends in a lazy ``localCheckpoint`` — iterative lineage must be cut
    (see module docstring).  Eager work at plan construction: one
    distinct-node count (``n``), build-side-sized like the CC
    convergence probes."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .dropDuplicates(["s", "d"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    teleport = (scale * (damping_den - damping_num)) // (damping_den * n)
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od")).localCheckpoint(eager=False)

    r = nodes.select("id", F.lit(scale // n).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            r.join(e, r["id"] == e["s"])
            .join(outdeg, "s")
            .select(
                F.col("d"),
                F.expr(f"CAST((rank * {damping_num}) div ({damping_den} * od) AS BIGINT)").alias(
                    "c"
                ),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("c"))
        )
        r = (
            nodes.join(contrib, nodes["id"] == contrib["d"], "left")
            .select(
                "id",
                (F.lit(teleport).cast("long") + F.coalesce(F.col("c"), F.lit(0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return r


def triangles(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """All triangles in the undirected pair graph, one row per triangle
    as an ordered triple ``(node_a < node_b < node_c)``.

    Triangle density is the standard cohesion signal on near-dup graphs:
    a clique-ish cluster (template spam, mirrored boilerplate) is safe to
    collapse to one keeper, while a chain of pairwise matches with no
    triangles warns that transitive clustering is merging documents that
    never matched each other.

    Plan — the node-iterator algorithm with DEGREE ORIENTATION, the
    standard distributed-triangle trick (MR-style enumeration per
    Suri & Vassilvitskii's "Counting Triangles and the Curse of the Last
    Reducer"): orient every edge from the lower-degree endpoint to the
    higher (ties by id), so each node's out-degree is bounded by
    O(sqrt(m)) and the wedge self-join — the only quadratic step — is
    quadratic in the SMALL per-node out-degree, never in a hub's full
    degree.  A star graph produces zero wedges instead of d² of them.
    Three narrow long-only shuffles: degree agg, wedge self-join on the
    low node, existence semi-join of the closing edge.
    """
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low-degree -> high-degree (ties by id): exactly one directed
    # copy of each undirected edge
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("st")
        )
        .select("st.s", "st.t")
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("t1"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("t2"))
    wedges = w1.join(w2, "s").filter(F.col("t1") < F.col("t2"))
    # the closing edge is checked against the canonical undirected edge
    # set (u < v), which `e` already is
    closing = e.select(F.col("u").alias("c1"), F.col("v").alias("c2"))
    tri = wedges.join(
        closing,
        (F.col("t1") == F.col("c1")) & (F.col("t2") == F.col("c2")),
        "leftsemi",
    )
    # exactly-once by construction: (degree, id) is a strict total order,
    # so each triangle has ONE pivot with out-edges to the other two and
    # the t1 < t2 wedge picks that out-pair once — no dedup pass needed
    return tri.select(
        F.least(F.col("s"), F.col("t1")).alias("node_a"),
        F.array_sort(F.array("s", "t1", "t2")).getItem(1).alias("node_b"),
        F.greatest(F.col("s"), F.col("t2")).alias("node_c"),
    )


def bfs_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 3,
    src_col: str = "s",
    dst_col: str = "d",
    seed_col: str = "id",
) -> DataFrame:
    """Bounded-depth BFS over an undirected edge list: the minimum hop
    count (0..``max_hops``) from any seed to every reachable node.

    Per round: frontier ⋈ edges (one long-pair equi-join) → distinct →
    anti-join against the visited set; a node's FIRST reaching round IS
    its minimum distance (layered BFS), so no min-aggregate re-scan is
    needed.  A lazy ``localCheckpoint`` cuts the iterative lineage each round
    (module convention, cf. :func:`connected_components`).  Round count
    is the fixed ``max_hops`` — no convergence action in the loop, so
    the driver never blocks on a count per round.

    At 100 TB: each round shuffles only the frontier fan-out (bounded
    by edge degree), and the visited anti-join keys are longs.  The
    bounded depth is the point — "within k hops of a trusted/flagged
    set" is the standard propagation query (spam/quality label spread,
    contamination blast radius) and never needs full transitive
    closure.

    Returns ``(id, hops)``; unreachable nodes are absent.
    """
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
                    F.struct(F.col(dst_col).alias("s"), F.col(src_col).alias("d")),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d")
        .distinct()
        # checkpoint ONCE: every round joins sym, and without the cut the
        # (potentially expensive) pair-generation lineage would re-execute
        # per round — at max_hops=3 that tripled the dominant cost.
        .localCheckpoint(eager=False)
    )
    visited = seeds.select(F.col(seed_col).alias("id"), F.lit(0).alias("hops")).distinct()
    visited = visited.localCheckpoint(eager=False)
    frontier = visited.select("id")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.id == sym.s)
            .select(F.col("d").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("id")
    return visited


def bellman_ford_k(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    k: int = 4,
    src_col: str = "s",
    dst_col: str = "d",
    weight_col: str = "w",
    seed_col: str = "id",
) -> DataFrame:
    """k-round Bellman–Ford over an undirected INTEGER-weighted edge
    list: the minimum path cost from any seed using at most ``k``
    edges — the weighted companion of :func:`bfs_hops` (similarity-
    weighted contamination spread, trust propagation with per-hop
    cost).

    Integer weights make every candidate distance an exact int64 sum,
    so the per-round ``min`` is deterministic in any engine and a
    depth-limited recursive CTE replays it.  Per round: one frontier ⋈
    edges equi-join + one partial-combining min; the edge list is
    checkpointed ONCE (the :func:`bfs_hops` lineage lesson) and the
    running dist table is checkpointed per round.  Unreachable nodes
    are absent; ``k`` bounds both cost and state.
    """
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("s"), F.col(dst_col).alias("d"),
                        F.col(weight_col).alias("w"),
                    ),
                    F.struct(
                        F.col(dst_col).alias("s"), F.col(src_col).alias("d"),
                        F.col(weight_col).alias("w"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d", "_e.w")
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = (
        seeds.select(F.col(seed_col).alias("id"), F.lit(0).cast("long").alias("dist"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(k):
        cand = (
            dist.join(sym, dist.id == sym.s)
            .select(F.col("d").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


# Shared with the suite's unrolled-CTE k_core oracle: the oracle peels
# exactly this many rounds, and q_k_core passes it as `max_iter`, so a
# graph whose peel chain is deeper fails LOUDLY (RuntimeError with the
# round count) on the Spark side rather than silently hash-mismatching
# an under-peeled oracle.
K_CORE_ORACLE_ROUNDS = 24


def k_core(
    pairs: DataFrame,
    *,
    k: int = 2,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """The k-core of the undirected pair graph: the (unique) maximal
    subgraph in which every node has degree ≥ k, as ``(id, core_deg)``
    rows with ``core_deg`` = the node's degree INSIDE the core.

    Cohesion gate on near-dup graphs, one notch stronger than
    :func:`triangles`: a node in the 2-core sits on a cycle of mutual
    matches (safe to collapse transitively), while tree-shaped match
    chains — the classic false-merge hazard — peel away entirely.
    Standard iterative peeling (Matula–Beck): repeatedly delete every
    node of degree < k; the fixpoint is order-independent, so the
    result is engine-replayable (the oracle unrolls the same rounds as
    chained CTEs).

    Plan per round: one degree aggregate (partial-combining count over
    long node ids) + two anti equi-joins removing edges incident to
    peeled nodes, then a lazy ``localCheckpoint`` (module convention — the
    lineage cut) and one emptiness probe on the peeled-node set as the
    convergence action.  Everything shuffled is longs.  Round count is
    bounded by the longest peel chain — near-dup graphs are shallow
    (cliques peel in one round); ``max_iter`` guards pathological
    chains, where each round still only costs edges-that-remain.
    """
    global last_rounds
    last_rounds = 0
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        last_rounds += 1
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .localCheckpoint(eager=False)
        )
        bad = deg.filter(F.col("core_deg") < k).select("n")
        if bad.limit(1).count() == 0:
            return deg.select(F.col("n").alias("id"), "core_deg")
        e = (
            e.join(bad.select(F.col("n").alias("u")), "u", "left_anti")
            .join(bad.select(F.col("n").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(f"k_core did not converge in {max_iter} rounds")


def label_propagation(
    pairs: DataFrame,
    *,
    rounds: int = 4,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected pair graph: every node starts labeled with its own id;
    each round every node adopts its neighbors' MAJORITY label
    (ties → smallest label) — the community-detection complement of
    connected components (CC merges any bridge; LPA communities stop at
    sparse cuts).  The classic asynchronous LPA is order-dependent; the
    synchronous variant with a deterministic tie rule is exactly
    replayable as an unrolled-CTE oracle.

    Scale shape: per round ONE (node, label) count aggregate over the
    symmetrized edge join and one per-node argmax aggregate — all keyed
    on node, partial-combining (the argmax was a row_number window
    before the round-10 optimization pass; ``max(struct(c, ~lbl))`` is
    the identical (count desc, label asc) winner with no sort and no
    window exchange, guide §2.4); labels cut lineage with a lazy
    checkpoint per round (the iterative-operator convention), so the
    whole fixed-round loop runs as ONE scheduled job at the caller's
    action.  Output covers graph nodes
    (docs with at least one near-dup edge): ``(doc_id, label)``.
    """
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        cnt = (
            edges.join(
                labels.select(F.col("node").alias("d"), "lbl"), "d"
            )
            .groupBy(F.col("s").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), F.bitwise_not("lbl").alias("nl"))).alias("_b"))
            .select("node", F.bitwise_not(F.col("_b.nl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("label"))


def graph_walks(
    pairs: DataFrame,
    *,
    steps: int = 3,
    seed: str = "walk",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Deterministic random walks over the undirected pair graph — the
    positive-pair sampler of a node2vec/DeepWalk-style embedding
    trainer, with the RNG replaced by the repo's seeded md5_60 device
    so every walk is a pure function of (seed, start, step) and the
    whole walk table replays bit-exactly in the oracle.

    One walk starts at every node; at step r the walker at ``cur``
    moves to neighbor ``md5_60(seed:start:r) % degree(cur)`` in the
    (cur, neighbor-ascending) adjacency order.  Emits ``(start, step,
    node)`` rows including step 0.

    Scale shape (hub-robust, VERDICT r6 #4): the adjacency table carries
    a per-neighbor rank (one window over the edge list); each step first
    equi-joins the walker frontier to the ``(node, degree)`` table to
    compute ``chosen = pick % degree``, then equi-joins on
    ``(cur, chosen rank)`` against the ranked adjacency — O(walkers) rows
    move per step (never the walker×adjacency fan-out, so a hub node's
    full neighbor list is never replicated per walker), no gather of
    neighbor lists, no RNG state, walkers stay (start, cur) longs.
    Steps cut lineage with lazy checkpoints (the iterative
    convention): one scheduled job at the caller's action computes and
    caches every step exactly once."""
    from pyspark.sql import Window

    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d")
        .distinct()
    )
    w = Window.partitionBy("s").orderBy("d")
    adj = (
        edges.withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .localCheckpoint(eager=False)
    )
    degs = adj.select("s", "deg").distinct()
    cur = adj.select(F.col("s").alias("start")).distinct().select(
        "start", F.col("start").alias("node")
    ).localCheckpoint(eager=False)
    out = cur.select("start", F.lit(0).alias("step"), "node")
    for r in range(1, steps + 1):
        pick = md5_60(
            F.concat(
                F.lit(seed),
                F.lit(":"),
                F.col("start").cast("string"),
                F.lit(":"),
                F.lit(str(r)),
            )
        )
        stepped = (
            cur.join(degs, cur["node"] == degs["s"])
            .select("start", "node", (pick % F.col("deg")).alias("chosen"))
        )
        hop = adj.select(
            F.col("s").alias("_hs"), F.col("idx").alias("_hidx"),
            F.col("d").alias("_hd"),
        )
        nxt = (
            stepped.join(
                hop,
                (stepped["node"] == hop["_hs"])
                & (stepped["chosen"] == hop["_hidx"]),
            )
            .select("start", F.col("_hd").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(nxt.select("start", F.lit(r).alias("step"), "node"))
        cur = nxt
    return out
