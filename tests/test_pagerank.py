"""Golden-graph PageRank tests (SURVEY.md §5 item 2).

Closed-form / hand-iterated expectations for tiny graphs, in both
reference-parity mode (dangling mass lost — PageRank.java:305) and
corrected mode (mass redistributed; ranks sum to 1).
"""

from __future__ import annotations

import pytest

from pagerank_hadoop_spark.operators import pagerank, top_ranks
from pagerank_hadoop_spark.operators.pagerank import layout_adjacency


def _ranks(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _reference_pagerank(edges, n_iter=8, damping=0.85, parity=True):
    """Pure-Python replay of PageRank.java:258-324 semantics."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {v: sorted({d for s, d in edges if s == v}) for v in nodes}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        incoming = {v: 0.0 for v in nodes}
        dangling = 0.0
        for v in nodes:
            if out[v]:
                share = rank[v] / len(out[v])
                for d in out[v]:
                    incoming[d] += share
            else:
                dangling += rank[v]
        extra = 0.0 if parity else damping * dangling / n
        rank = {v: (1 - damping) / n + damping * incoming[v] + extra for v in nodes}
    return rank


CYCLE2 = [("a", "b"), ("b", "a")]
STAR3 = [("hub", "s1"), ("hub", "s2"), ("hub", "s3")]  # spokes dangle
K3 = [(a, b) for a in "xyz" for b in "xyz" if a != b]


@pytest.mark.parametrize("edges", [CYCLE2, STAR3, K3], ids=["2cycle", "3star", "K3"])
@pytest.mark.parametrize("parity", [True, False], ids=["parity", "corrected"])
def test_matches_reference_replay(spark, edges, parity):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=parity))
    want = _reference_pagerank(edges, n_iter=8, parity=parity)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_fixed_point_2cycle(spark):
    # symmetric 2-cycle: fixed point rank = 0.5 each, reached immediately
    df = spark.createDataFrame(CYCLE2, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    assert got["a"] == pytest.approx(0.5, abs=1e-12)
    assert got["b"] == pytest.approx(0.5, abs=1e-12)


def test_corrected_mode_mass_conserved(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=False))
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_parity_mode_loses_dangling_mass(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    assert sum(got.values()) < 1.0  # PageRank.java:305 — mass is lost


def test_teleport_floor_invariant(spark):
    # every vertex's rank >= 0.15/N (property test, SURVEY.md §5 item 3)
    df = spark.createDataFrame(K3 + STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    n = len(got)
    assert all(v >= 0.15 / n - 1e-15 for v in got.values())


def test_top_ranks_threshold_and_order(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    ranks = pagerank(df, n_iter=8, parity=True)
    n = 4
    out = top_ranks(ranks, n, threshold=5.0 / n).collect()
    vals = [r["rank"] for r in out]
    assert vals == sorted(vals, reverse=True)
    assert all(v > 5.0 / n for v in vals)


def test_adjacency_is_sorted_and_deduped(spark):
    df = spark.createDataFrame(
        [("a", "c"), ("a", "b"), ("a", "c")], "src string, dst string"
    )
    adj, _ = layout_adjacency(df, 1)
    rows = adj.where("id = 'a'").collect()
    assert rows[0]["outlinks"] == ["b", "c"]


def test_personalized_pagerank_two_cycle_golden(spark):
    """2-cycle a<->b, seed a, d=0.85: closed form r(a) ≈ (1-d)/(1-d²)
    and r(b) ≈ d(1-d)/(1-d²) at convergence; after 8 iterations the
    truncated geometric series is exact to the partial sum."""
    from pagerank_hadoop_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, "a", n_iter=8).collect()
    }
    d = 0.85
    # replay the recurrence exactly (dangling-free graph, deg 1)
    ra, rb = 1.0, 0.0
    for _ in range(8):
        ra, rb = (1 - d) + d * rb, d * ra
    assert abs(got["a"] - ra) < 1e-12
    assert abs(got["b"] - rb) < 1e-12


def test_personalized_pagerank_absent_seed_is_empty(spark):
    """A seed that is not a vertex holds no rank, as in the oracle,
    which restricts every round to the vertex set."""
    from pagerank_hadoop_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(CYCLE2, "src string, dst string")
    assert personalized_pagerank(edges, "zzz", n_iter=8).collect() == []


def test_personalized_pagerank_mass_stays_near_seed(spark):
    """On a star out of the seed, the seed keeps the largest rank and
    unreachable vertices hold exactly zero (absent from the sparse
    result)."""
    from pagerank_hadoop_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [("s", "x"), ("s", "y"), ("u", "v")], "src string, dst string"
    )
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, "s", n_iter=8).collect()
    }
    assert got["s"] == max(got.values())
    assert "u" not in got and "v" not in got  # unreachable from seed


def test_weighted_pagerank_reduces_to_uniform_on_equal_weights(spark):
    """With all weights equal, the weighted recurrence must reproduce
    the uniform parity-mode ranks exactly (wfrac = 1/deg)."""
    from pagerank_hadoop_spark.operators.pagerank import (
        pagerank,
        weighted_pagerank,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(str(i), str((i * 3 + 1) % 20)) for i in range(40)],
        "src string, dst string",
    ).distinct()
    uni = {
        r["id"]: r["rank"] for r in pagerank(edges, n_iter=4, parity=True).collect()
    }
    wtd = {
        r["id"]: r["rank"]
        for r in weighted_pagerank(
            edges.withColumn("weight", F.lit(2)), n_iter=4
        ).collect()
    }
    assert set(uni) == set(wtd)
    assert all(abs(uni[k] - wtd[k]) < 1e-12 for k in uni)


def test_weighted_pagerank_follows_the_heavy_edge(spark):
    """Two targets, 9:1 weights: the heavy target must collect ~9x the
    propagated (non-teleport) rank of the light one."""
    from pagerank_hadoop_spark.operators.pagerank import weighted_pagerank

    edges = spark.createDataFrame(
        [("s", "heavy", 9), ("s", "light", 1)],
        "src string, dst string, weight long",
    )
    got = {r["id"]: r["rank"] for r in weighted_pagerank(edges, n_iter=1).collect()}
    n = 3
    teleport = 0.15 / n
    prop_heavy = got["heavy"] - teleport
    prop_light = got["light"] - teleport
    assert abs(prop_heavy / prop_light - 9.0) < 1e-9


def test_pagerank_resume_equals_straight_run(spark):
    """j+k resumed iterations == j+k straight, both modes, bitwise."""
    from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    for parity in (True, False):
        straight, _ = pagerank_with_n(edges, n_iter=6, parity=parity)
        want = {r.id: r.rank for r in straight.collect()}
        half, _ = pagerank_with_n(edges, n_iter=2, parity=parity)
        resumed, _ = pagerank_with_n(
            edges, n_iter=4, parity=parity, init_ranks=half
        )
        got = {r.id: r.rank for r in resumed.collect()}
        assert got == want, parity


def test_pagerank_max_fanout_matches_default(spark):
    """Chunked+salted adjacency (the hub-skew escape hatch) computes
    the same ranks as the default layout, both modes, to 12dp —
    including a hub whose outlinks span several chunks and a dangling
    vertex (empty chunk row must survive the chunking)."""
    from pagerank_hadoop_spark.operators.pagerank import pagerank

    pairs = [("h", f"v{i}") for i in range(7)] + [
        ("v0", "v1"), ("v1", "h"), ("v2", "v3"), ("v3", "h"), ("v5", "v6")
    ]  # v4 receives only; "h" is the hub
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    for parity in (True, False):
        want = {
            r.id: round(r.rank, 12)
            for r in pagerank(edges, n_iter=5, parity=parity).collect()
        }
        got = {
            r.id: round(r.rank, 12)
            for r in pagerank(
                edges, n_iter=5, parity=parity, max_fanout=3
            ).collect()
        }
        assert got == want, parity


def test_chunked_adjacency_spreads_hub_and_keeps_dangling(spark):
    """_chunked_adjacency splits a hot row into ceil(outdeg/cap)
    chunks that land on MULTIPLE partitions (the skew point of the
    feature — explode output never leaves its task, so spreading must
    happen at layout time), preserves the true out-degree, and keeps
    dangling vertices as a single empty-chunk row."""
    import pyspark.sql.functions as F

    from pagerank_hadoop_spark.operators.pagerank import (
        _chunked_adjacency,
        layout_adjacency,
    )

    hub_edges = [("h", f"v{i}") for i in range(40)]
    edges = spark.createDataFrame(hub_edges, ["src", "dst"])
    verts = spark.createDataFrame(
        [("h",)] + [(f"v{i}",) for i in range(40)] + [("lonely",)], ["id"]
    )
    adj, n = layout_adjacency(edges, 16, vertices=verts)
    assert n == 42
    chunked = _chunked_adjacency(adj, max_fanout=5, parts=16)

    hub = chunked.where(F.col("id") == "h").select(
        "outdeg", "__chunk", F.size("outlinks").alias("csz"),
        F.spark_partition_id().alias("pid"),
    ).collect()
    assert len(hub) == 8  # ceil(40/5)
    assert all(r.outdeg == 40 for r in hub)
    assert all(r.csz == 5 for r in hub)
    assert len({r.pid for r in hub}) > 1  # spread, not co-located
    lonely = chunked.where(F.col("id") == "lonely").collect()
    assert len(lonely) == 1
    assert lonely[0].outdeg == 0 and lonely[0].outlinks == []


def test_chunked_adjacency_non_string_vertex_ids(spark):
    """The empty-chunk literal derives its element type from the
    caller's outlinks column — a pre-built adjacency with LONG vertex
    ids must chunk without an AnalysisException, and dangling rows
    keep one empty chunk of the right type (ADVICE r8: the old
    hardcoded array<array<string>> raised a when/otherwise type
    mismatch here)."""
    import pyspark.sql.functions as F

    from pagerank_hadoop_spark.operators.pagerank import (
        _chunked_adjacency,
    )

    adj = spark.createDataFrame(
        [(1, [10, 11, 12, 13, 14, 15, 16]), (2, [])],
        "id long, outlinks array<long>",
    )
    chunked = _chunked_adjacency(adj, max_fanout=3, parts=4)
    hub = chunked.where(F.col("id") == 1).orderBy("__chunk").collect()
    assert [r.outlinks for r in hub] == [[10, 11, 12], [13, 14, 15], [16]]
    assert all(r.outdeg == 7 for r in hub)
    dangling = chunked.where(F.col("id") == 2).collect()
    assert len(dangling) == 1
    assert dangling[0].outdeg == 0 and dangling[0].outlinks == []


def _small_graph(spark):
    """2-cycle, 3-star (dangling spokes) and K3 as one edge list."""
    return spark.createDataFrame(CYCLE2 + STAR3 + K3, "src string, dst string")


def _weighted(edges):
    """Deterministic weights 1..3 per edge, so weighted ranks differ
    from the uniform ones."""
    from pyspark.sql import functions as F

    return edges.withColumn("weight", F.crc32(F.concat_ws(">", "src", "dst")) % 3 + 1)


def _variants(edges, source, n_iter=8):
    """The PageRank family on one edge list as lazy ``(id, rank)``
    frames keyed by variant (uniform in both modes, personalized from
    ``source``, weighted), and N."""
    from pagerank_hadoop_spark.operators.pagerank import (
        pagerank_with_n,
        personalized_pagerank,
        weighted_pagerank,
    )

    out = {}
    for parity in (True, False):
        out[parity], n = pagerank_with_n(edges, n_iter=n_iter, parity=parity)
    out["ppr"] = personalized_pagerank(edges, source, n_iter=n_iter)
    out["weighted"] = weighted_pagerank(_weighted(edges), n_iter=n_iter)
    return out, n


def test_pagerank_leaves_no_cached_state(spark):
    """Nothing a PageRank run builds stays in the CacheManager, also at
    production width (``parts >= shuffle.partitions``), where the loop
    scope is a no-op — for every variant of the family."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.catalog.clearCache()
    spark.conf.set(key, "1")
    try:
        variants, n = _variants(_small_graph(spark), "a")
        assert n == 9
        for variant, ranks in variants.items():
            # PPR from a reaches only a's 2-cycle
            assert len(ranks.collect()) == (2 if variant == "ppr" else n), variant
    finally:
        spark.conf.set(key, prev)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pagerank_build_and_rounds_run_few_jobs(spark):
    """Building the ranks runs one job (the adjacency layout, which also
    yields N); no round starts a job of its own, so build plus collect
    stays within a handful of jobs — uniform in both modes,
    personalized and weighted."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.pagerank import (
        pagerank_with_n,
        personalized_pagerank,
        weighted_pagerank,
    )

    # a range-derived graph carries plan statistics, like a file scan
    ids = spark.range(300)
    edges = ids.select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") * 7 + 1) % 400).cast("string").alias("dst"),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(variant, build):
        """Collect the ranks ``build()`` returns with N (or None),
        bounding the jobs of the build and of build plus collect."""
        group = f"pagerank-jobs-{variant}"
        sc.setJobGroup(group, group)
        try:
            ranks, n = build()
            built = len(tracker.getJobIdsForGroup(group))
            rows = ranks.collect()
            total = len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert built <= 2, (variant, built)
        assert total <= 6, (variant, total)
        return rows, n

    for parity in (True, False):
        rows, n = jobs(parity, lambda: pagerank_with_n(edges, n_iter=8, parity=parity))
        assert len(rows) == n
    rows, _ = jobs("ppr", lambda: (personalized_pagerank(edges, "1", n_iter=8), None))
    assert 0 < len(rows) < n
    weighted = _weighted(edges)
    rows, _ = jobs("weighted", lambda: (weighted_pagerank(weighted, n_iter=8), None))
    assert len(rows) == n


def _family_ranks(spark, edges, source):
    return {
        variant: {r.id: r.rank for r in ranks.collect()}
        for variant, ranks in _variants(edges, source)[0].items()
    }


def test_pagerank_family_invariant_to_width_and_aqe(spark, sf_dir):
    """Ranks of uniform (both modes), personalized and weighted
    PageRank agree to 1e-12 across shuffle partitions {1, 4, 32} x AQE on/off — on a
    small golden graph and on the sf0.001 part→supplier graph."""
    from pagerank_hadoop_spark.queries import _pagerank_edges

    graphs = [(_small_graph(spark), "a"), (_pagerank_edges(spark, sf_dir), "1")]
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = [spark.conf.get(k) for k in keys]
    runs = []
    try:
        for width in ("1", "4", "32"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], width)
                spark.conf.set(keys[1], aqe)
                runs.append(
                    ((width, aqe), [_family_ranks(spark, *g) for g in graphs])
                )
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    (_, base), *rest = runs
    for setting, got in rest:
        for want_g, got_g in zip(base, got):
            for variant, want in want_g.items():
                ranks = got_g[variant]
                assert ranks.keys() == want.keys(), (setting, variant)
                worst = max(abs(ranks[k] - want[k]) for k in want)
                assert worst <= 1e-12, (setting, variant, worst)


def _check_oracle_module():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_topk",
        "pagerank_iter1",
        "pagerank_corrected",
        "pagerank_resume",
        "wiki_pagerank",
        "ppr_from_part",
        "weighted_pagerank_topk",
    ],
)
def test_pagerank_family_matches_oracle(spark, name):
    """``scripts/check_oracle.py``'s comparison at sf0.01: row count,
    column names and the order-insensitive 9-dp value hash against the
    DuckDB oracle."""
    from pagerank_hadoop_spark import queries as Q

    co = _check_oracle_module()
    oracles = Q.oracle_sql()
    assert name in oracles
    ok, report = co.check(name, spark, co.connect(), Q.queries(), oracles)
    assert ok, report
