"""Iterative PageRank as a DataFrame fixed-point loop.

Reference semantics (``/root/reference/src/PageRank/PageRank.java``):

* 8 fixed iterations driven from ``main`` (``PageRank.java:473-488``);
  each Hadoop iteration re-reads and rewrites the full graph+rank state
  from/to HDFS. Here the loop body is a lazy
  ``explode → groupBy.agg → join`` plan over a checkpointed adjacency —
  state never leaves memory; a lazy ``localCheckpoint`` every few
  iterations bounds lineage/plan growth (the Spark-idiomatic
  replacement for the reference's per-iteration disk materialization).
* iteration-0 seeding: every page starts at ``1/N``
  (``PageRank.java:258-264``).
* update rule: ``rank' = 0.15/N + 0.85 * Σ incoming rank/outdeg``
  (``PageRank.java:305,316``). Every page receives the ``0.15/N``
  baseline even with no in-links, because the reference ships each
  page's adjacency row to itself (``PageRank.java:281``).
* **parity mode** (default ``parity=True``) reproduces the reference's
  dangling-node behavior exactly: rank mass flowing into pages with no
  outlinks is LOST (never redistributed), so ranks do not sum to 1.
  ``parity=False`` redistributes dangling mass uniformly (textbook
  PageRank; ranks sum to 1).

Scale notes (100 TB posture):

* The adjacency ``(id, outlinks, outdeg)`` is laid out by ONE shuffle
  (:func:`layout_adjacency`) and materialized by ONE job, an eager
  ``localCheckpoint`` that also yields N through an ``Observation`` —
  the reference pays a whole MapReduce job plus a counter side-channel
  for N (``PageRank.java:205-238,470-471``).
* One round is one shuffle — the co-partitioned links/ranks loop of the
  RDD paper (Zaharia et al., NSDI 2012). The state row is
  ``(id, outlinks, outdeg, rank)``; its contributions are exploded
  map-side and summed by ``groupBy(id)``, whose partial (map-side)
  aggregation is the Spark equivalent of the reference's hand-rolled
  HashSet combiner (``PageRank.java:91-93``). The sums come out
  hash-partitioned on ``id`` at the layout's width, so joining them
  back onto the layout to form the next state moves no adjacency.
* Corrected mode routes every dangling vertex's rank to the NULL key
  of that same aggregation (outlinks never hold NULL, and a NULL key
  joins no vertex). The redistributed mass then reaches every row
  through a 1-row aggregate crossed with the state: a p×1 product, no
  broadcast, no extra pass over the state.
* The whole loop is planned inside ``graph._loop_shuffle_scope`` at
  the edge list's stats-derived width, and its result is a lazy
  checkpoint: on a small graph no round starts a job of its own, and
  the caller's action runs the rounds as the stages of one job. At
  production width the scope is a no-op.
* No ``collect()`` of rank state; the only driver-side scalar is N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from pagerank_hadoop_spark import runtime_counters
from pagerank_hadoop_spark.operators.graph import _edge_partitions, _loop_shuffle_scope

DAMPING = 0.85

# Edge-list bytes (plan-statistics estimate) per task of a PageRank
# loop: about 100k vertices per task at ~10 outlinks of ~30 B each.
# Below that a round's fixed per-task cost outweighs its rows. Measured
# on a 4-core VM (local[4]): a 20k-vertex / 150k-edge graph ran its
# first execution ~25% cheaper in CPU on 1 partition than on 2, and a
# 5k-page wiki graph ran warm executions ~30% cheaper on 1 partition
# than on 4, at equal or better wall time.
_LOOP_TASK_BYTES = 32 << 20


def adjacency_from_edges(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Edges ``(src, dst)`` → adjacency ``(id, outlinks array)``.

    The Spark form of the reference's tab-packed adjacency build
    (``RedLinksReducer``, ``PageRank.java:175-200``): a first-class
    ``array<>`` column instead of a tab-joined string. ``sort_array``
    makes the result deterministic (the reference inherits arbitrary
    shuffle order).
    """
    e = edges.select("src", "dst")
    if dedup:
        # per-src dedup, as the reference's HashSet (PageRank.java:91-93)
        agg = F.array_sort(F.collect_set("dst"))
    else:
        agg = F.array_sort(F.collect_list("dst"))
    return e.groupBy(F.col("src").alias("id")).agg(agg.alias("outlinks"))


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``df`` with one eager ``localCheckpoint``; its row
    count rides along as an observed metric, so it costs no job."""
    obs = Observation("rows")
    pinned = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    return pinned, obs.get["rows"]


def layout_adjacency(
    edges: DataFrame,
    parts: int,
    *,
    vertices: DataFrame | None = None,
    max_fanout: int | None = None,
) -> tuple[DataFrame, int]:
    """Edges ``(src, dst)`` → ``(adjacency, N)`` in one Spark job.

    The adjacency ``(id, outlinks, outdeg)`` has one row per vertex
    with its sorted, deduplicated outlinks (the reference's HashSet,
    ``PageRank.java:91-93``), hash-partitioned on ``id`` and sorted
    within partitions, checkpointed. ``(src → dst)`` rows and
    ``(dst → NULL)`` rows are grouped by ``id`` in one shuffle;
    ``collect_set`` drops the NULL, so a vertex with no outlinks gets
    ``[]`` — the reference's ``(title, "!")`` marker
    (``PageRank.java:80,196-197``). With ``vertices`` (one column),
    the vertex set is exactly that column's distinct values: edge rows
    whose ``src`` is not a vertex are dropped, and outlinks may still
    name non-vertices (their rank share is lost, as in the reference's
    red-link semantics).

    ``parts`` is the layout width; it must be chosen before N is known
    (``graph._edge_partitions`` reads it off plan statistics, no job)
    and run under a matching ``_loop_shuffle_scope`` so the aggregation
    lands on exactly ``parts`` partitions. ``max_fanout`` chunks hot
    rows (:func:`_chunked_adjacency`).
    """
    links = edges.select(F.col("src").alias("id"), "dst")
    no_dst = F.lit(None).cast(edges.schema["dst"].dataType).alias("dst")
    outlinks = F.array_sort(F.collect_set("dst")).alias("outlinks")
    if vertices is None:
        marks = edges.select(F.col("dst").alias("id"), no_dst)
        adjacency = links.unionByName(marks).groupBy("id").agg(outlinks)
    else:
        marks = vertices.select(
            F.col(vertices.columns[0]).alias("id"), no_dst, F.lit(True).alias("vertex")
        )
        adjacency = (
            links.withColumn("vertex", F.lit(False))
            .unionByName(marks)
            .groupBy("id")
            .agg(outlinks, F.max("vertex").alias("vertex"))
            .where("vertex")
        )
    adjacency = adjacency.select("id", "outlinks", F.size("outlinks").alias("outdeg"))
    if not max_fanout:
        return _checkpoint_counted(adjacency.sortWithinPartitions("id"))
    # count vertices before chunking repeats hot ids
    obs = Observation("vertices")
    counted = adjacency.observe(obs, F.count(F.lit(1)).alias("n"))
    chunked = _chunked_adjacency(counted, max_fanout, parts)
    pinned = chunked.sortWithinPartitions("id", "__salt").localCheckpoint(eager=True)
    return pinned, obs.get["n"]


_FANOUT_SALTS = 8


def _chunked_adjacency(
    adjacency: DataFrame, max_fanout: int, parts: int
) -> DataFrame:
    """Split each vertex's outlinks into rows of ≤ ``max_fanout``
    elements, keeping the TRUE out-degree in ``outdeg`` (the contrib
    divisor). A hub holding 20 % of all edges otherwise fans out all
    its messages from ONE task — explode output stays in the
    producing task's partition, so no downstream setting can spread
    it; splitting must happen at layout time. Rows carry
    ``__chunk`` (0..k-1; chunk 0 doubles as the unique-vertex marker
    for final results) and a bounded ``__salt`` the persistent
    partitioning AND the per-round join key include, so hub chunks
    land on ``_FANOUT_SALTS`` different partitions and stay there
    across rounds (rank frames replicate once per salt — (id, double)
    pairs, cheap against the hot key's edge volume)."""
    # Empty-chunk literal must match the caller's element type — a
    # pre-built adjacency may carry non-string vertex ids, and a
    # hardcoded array<string> makes when/otherwise raise an opaque
    # AnalysisException.
    outlinks_type = adjacency.schema["outlinks"].dataType.simpleString()
    chunks = F.when(
        F.size("outlinks") > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("outlinks") / F.lit(max_fanout)).cast("int")
                - 1,
            ),
            lambda i: F.slice("outlinks", i * max_fanout + 1, max_fanout),
        ),
        # guard: sequence(0, -1) generates DESCENDING; empty outlink
        # rows (dangling) keep exactly one empty chunk
    ).otherwise(F.array(F.array().cast(outlinks_type)))
    return (
        adjacency.select(
            "id",
            F.size("outlinks").alias("outdeg"),
            F.posexplode(chunks).alias("__chunk", "outlinks"),
        )
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64("id", "__chunk"), F.lit(_FANOUT_SALTS)),
        )
        .repartition(parts, "id", "__salt")
    )


def _with_salt_replicas(ranks: DataFrame) -> DataFrame:
    return ranks.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_FANOUT_SALTS - 1)))
    )


def pagerank(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    damping: float = DAMPING,
    parity: bool = True,
    checkpoint_interval: int = 4,
    max_fanout: int | None = None,
) -> DataFrame:
    """Run ``n_iter`` PageRank iterations; returns ``(id, rank)``."""
    ranks, _ = pagerank_with_n(
        edges,
        vertices=vertices,
        n_iter=n_iter,
        damping=damping,
        parity=parity,
        checkpoint_interval=checkpoint_interval,
        max_fanout=max_fanout,
    )
    return ranks


def pagerank_with_n(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    damping: float = DAMPING,
    parity: bool = True,
    checkpoint_interval: int = 4,
    init_ranks: DataFrame | None = None,
    max_fanout: int | None = None,
) -> tuple[DataFrame, int]:
    """Run ``n_iter`` PageRank iterations; returns ``((id, rank), N)``.

    ``edges`` must have string-ish columns ``src, dst``. ``vertices``
    (optional, single column) fixes the vertex set, adding rank-holding
    nodes with no outgoing edges; when omitted, the vertex set is all
    nodes appearing as a ``src`` or ``dst`` (so dangling link targets
    still hold rank, as in the reference where the semi-join restricts
    dsts to real pages). N (the vertex count) comes out of the layout
    job — callers needing it for thresholds (rank > k/N) should use
    this instead of re-counting.

    The returned ranks are a lazy checkpoint: building them runs one
    Spark job (the adjacency layout), and the caller's first action
    runs every round.

    ``init_ranks`` (optional ``(id, rank)``) RESUMES the recurrence
    from a saved state instead of the uniform 1/N seed — the
    checkpoint/restart path an hours-long 100 TB run needs: persist
    ranks every K iterations with ``df.write.parquet``, and on
    preemption resume with the remaining iteration budget. Resuming
    is exact: rounds are a pure function of (adjacency, ranks) and
    resumed rounds run the same kernel, so k iterations from a saved
    state after j iterations equal j + k straight iterations
    (unit-pinned bitwise and oracle-gated as ``pagerank_resume``). A
    vertex missing from ``init_ranks`` starts at the teleport baseline
    in parity mode and at 0 in corrected mode.

    ``max_fanout`` (off by default): cap outlinks-per-adjacency-row by
    chunking hot rows at layout time (``_chunked_adjacency``) — the
    hub-skew escape hatch. A vertex holding 20 % of all edges
    otherwise fans its messages out of ONE task per iteration
    (explode output never leaves the producing task), which bounds
    stage wall at any cluster size. Chunked mode joins the round's
    sums back on (id, salt) against salt-replicated sum frames, so
    results can differ from the unsalted run in the last ulp (partial
    sums regroup); the registry entries run unchunked.
    """
    spark = edges.sparkSession
    parts = _edge_partitions(edges, doubled=False, task_bytes=_LOOP_TASK_BYTES)
    with _loop_shuffle_scope(spark, parts):
        adjacency, n = layout_adjacency(
            edges, parts, vertices=vertices, max_fanout=max_fanout
        )
        if n == 0:
            return spark.createDataFrame([], "id string, rank double"), 0
        ranks = _pagerank_rounds(
            adjacency, n, n_iter, damping, parity, checkpoint_interval, init_ranks
        )
    return ranks, n


def _pagerank_rounds(
    adjacency: DataFrame,
    n: int,
    n_iter: int,
    damping: float,
    parity: bool,
    checkpoint_interval: int,
    init_ranks: DataFrame | None,
) -> DataFrame:
    """The round kernel over a :func:`layout_adjacency` layout; returns
    the lazily checkpointed ``(id, rank)`` frame."""
    teleport = (1.0 - damping) / n
    layout_cols = adjacency.columns
    salted = "__salt" in layout_cols
    keys = ["id", "__salt"] if salted else ["id"]

    def onto_layout(frame: DataFrame) -> DataFrame:
        """adjacency ⟕ frame on id: co-partitioned, sorted, no exchange
        of the adjacency (chunked layouts key on the salt as well)."""
        if salted:
            frame = _with_salt_replicas(frame)
        return adjacency.join(frame, keys, "left")

    if init_ranks is None:
        state = adjacency.withColumn("rank", F.lit(1.0 / n))
    else:
        missing = F.lit(teleport if parity else 0.0)
        state = onto_layout(init_ranks.select("id", "rank")).select(
            *layout_cols, F.coalesce("rank", missing).alias("rank")
        )

    rank = F.lit(teleport) + F.lit(damping) * F.coalesce("insum", F.lit(0.0))
    if parity:
        target = F.explode("outlinks")
        contrib = F.col("rank") / F.col("outdeg")
    else:
        # dangling rank goes to the NULL key: outlinks never hold NULL
        # (collect_set drops it) and a NULL key joins no vertex
        dangling = F.col("outdeg") == 0
        no_id = F.lit(None).cast(adjacency.schema["id"].dataType)
        target = F.explode(
            F.when(dangling, F.array(no_id)).otherwise(F.col("outlinks"))
        )
        contrib = F.when(dangling, F.col("rank")).otherwise(
            F.col("rank") / F.col("outdeg")
        )
        dangling_mass = F.sum(F.when(F.col("id").isNull(), F.col("insum")))
        extra = (
            F.lit(damping) * F.coalesce(dangling_mass, F.lit(0.0)) / n
        ).alias("extra")
        rank = rank + F.col("extra")
    contribs = [target.alias("id"), contrib.alias("contrib")]
    insum = F.sum("contrib").alias("insum")
    next_state = [*layout_cols, rank.alias("rank")]
    for i in range(n_iter):
        summed = state.select(contribs).groupBy("id").agg(insum)
        # corrected rounds read `summed` twice (sums + dangling mass):
        # without a barrier every round the plan doubles per round
        if not parity or ((i + 1) % checkpoint_interval == 0 and i + 1 < n_iter):
            summed = summed.localCheckpoint(eager=False)
        state = onto_layout(summed)
        if not parity:
            state = state.crossJoin(summed.agg(extra))
        state = state.select(next_state)
        runtime_counters.note_round()
    if salted:
        state = state.where(F.col("__chunk") == 0)
    return state.select("id", "rank").localCheckpoint(eager=False)


def top_ranks(
    ranks: DataFrame,
    n: int,
    *,
    threshold: float | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Reference job 12/13: filter ``rank > 5/N`` then global desc sort.

    ``FlipComparator`` (``PageRank.java:399-419``) exists only to make
    Hadoop's shuffle sort descending; in Spark this is
    ``orderBy(desc)`` (range-partitioned total sort), and with a
    ``limit`` Catalyst plans ``TakeOrderedAndProject`` — no full sort
    at all.
    """
    out = ranks
    if threshold is not None:
        out = out.where(F.col("rank") > threshold)  # PageRank.java:336,346
    out = out.orderBy(F.desc("rank"), F.asc("id"))
    if limit is not None:
        out = out.limit(limit)
    return out


def personalized_pagerank(
    edges: DataFrame,
    source: str,
    *,
    n_iter: int = 8,
    damping: float = DAMPING,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """Personalized PageRank: the teleport mass returns to ``source``
    instead of spreading uniformly — GraphX's
    ``personalizedPageRank`` surface, the relevance-to-a-seed ranking
    used for related-item and local-community queries.

    Update rule (dangling mass lost, matching parity-mode semantics):
    ``r_{i+1}(v) = (1-d)·[v = source] + d·Σ_{u→v} r_i(u)/deg(u)``,
    seeded ``r_0 = [v = source]``. Ranks are SPARSE throughout: a
    vertex untouched by propagation holds exactly 0 and never enters
    the iteration shuffle — on a 100 TB graph the frontier grows from
    1 vertex outward, so early iterations ship only the seed's
    neighborhood instead of the whole vertex set (the uniform variant
    cannot do this; its baseline is nonzero everywhere).
    """
    spark = edges.sparkSession
    parts = _edge_partitions(edges, doubled=False, task_bytes=_LOOP_TASK_BYTES)
    with _loop_shuffle_scope(spark, parts):
        adjacency, n = layout_adjacency(edges, parts)
        if n == 0:
            return spark.createDataFrame([], "id string, rank double")
        seed = spark.range(1).select(F.lit(source).cast("string").alias("id"))
        ranks = seed.select("id", F.lit(1.0).alias("rank"))
        base = seed.select("id", F.lit(1.0 - damping).alias("rank"))
        for i in range(n_iter):
            contribs = adjacency.join(ranks, "id").select(
                F.explode("outlinks").alias("id"),
                (F.col("rank") / F.col("outdeg") * damping).alias("rank"),
            )
            # teleport lands only on the source; propagated mass unions
            # in and the per-vertex sum collapses both — still sparse
            ranks = (
                base.unionByName(contribs)
                .groupBy("id")
                .agg(F.sum("rank").alias("rank"))
            )
            runtime_counters.note_round()
            if (i + 1) % checkpoint_interval == 0 and i + 1 < n_iter:
                ranks = ranks.localCheckpoint(eager=False)
        return ranks.localCheckpoint(eager=False)


def weighted_pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 8,
    damping: float = DAMPING,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """PageRank over WEIGHTED edges ``(src, dst, weight)`` — GraphX
    normalizes outgoing edge weights and ships rank proportionally
    (``r(v) = (1-d)/N + d·Σ r(u)·w(u,v)/W(u)``); the uniform variant
    is the special case of all-equal weights. Natural weights at
    corpus scale: link multiplicity, click counts, co-occurrence
    frequencies.

    Same scale posture as the uniform loop: the weighted adjacency
    (id → array<struct<dst, wfrac>>) is built once with weights
    pre-normalized (the per-iteration join never re-aggregates W(u)),
    partitioned on id and checkpointed in one job that also counts N;
    dangling mass is lost (parity-mode semantics)."""
    spark = edges.sparkSession
    w_edges = edges.groupBy("src", "dst").agg(
        F.sum("weight").alias("w")
    )
    # aliased self-derived join: tot shares w_edges' lineage, so bare
    # column refs to `w` would resolve ambiguously
    tot = w_edges.groupBy("src").agg(F.sum("w").alias("W"))
    adjacency = (
        w_edges.alias("we")
        .join(tot.alias("tt"), F.col("we.src") == F.col("tt.src"))
        .select(
            F.col("we.src").alias("id"),
            F.struct(
                F.col("we.dst").alias("dst"),
                (F.col("we.w") / F.col("tt.W")).alias("wfrac"),
            ).alias("out"),
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("out")).alias("outs"))
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    adjacency = vertices.join(adjacency, "id", "left").select(
        "id", F.coalesce("outs", F.array()).alias("outs")
    )
    parts = _edge_partitions(edges, doubled=False, task_bytes=_LOOP_TASK_BYTES)
    with _loop_shuffle_scope(spark, parts):
        adjacency, n = _checkpoint_counted(adjacency.sortWithinPartitions("id"))
        if n == 0:
            return spark.createDataFrame([], "id string, rank double")
        return _weighted_rounds(adjacency, n, n_iter, damping, checkpoint_interval)


def _weighted_rounds(
    adjacency: DataFrame,
    n: int,
    n_iter: int,
    damping: float,
    checkpoint_interval: int,
) -> DataFrame:
    # Sparse-rank loop: a vertex with no incoming weighted mass holds
    # exactly the teleport baseline, so `ranks_sparse` carries only
    # message receivers and each iteration is ONE join (state onto
    # adjacency) instead of a join plus a dense left-join-back.
    teleport = (1.0 - damping) / n
    ranks_sparse: DataFrame | None = None
    for i in range(n_iter):
        if ranks_sparse is None:
            src_ranks = adjacency.select(
                "id", "outs", F.lit(1.0 / n).alias("rank")
            )
        else:
            src_ranks = adjacency.join(ranks_sparse, "id", "left").select(
                "id",
                "outs",
                F.coalesce("rank", F.lit(teleport)).alias("rank"),
            )
        contribs = src_ranks.select(
            F.explode("outs").alias("o"), "rank"
        ).select(
            F.col("o.dst").alias("id"),
            (F.col("rank") * F.col("o.wfrac")).alias("contrib"),
        )
        ranks_sparse = (
            contribs.groupBy("id")
            .agg(F.sum("contrib").alias("insum"))
            .select(
                "id",
                (F.lit(teleport) + F.lit(damping) * F.col("insum")).alias(
                    "rank"
                ),
            )
        )
        runtime_counters.note_round()
        if (i + 1) % checkpoint_interval == 0 and i + 1 < n_iter:
            ranks_sparse = ranks_sparse.localCheckpoint(eager=False)
    if ranks_sparse is None:
        return adjacency.select("id", F.lit(1.0 / n).alias("rank"))
    ranks = adjacency.select("id").join(ranks_sparse, "id", "left").select(
        "id", F.coalesce("rank", F.lit(teleport)).alias("rank")
    )
    return ranks.localCheckpoint(eager=False)
