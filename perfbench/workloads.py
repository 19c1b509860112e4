"""The benchmark's workloads: inputs, pipelines and output checks.

Every pipeline drives the engine through its public functions only. The
untraced form is what a user runs; the traced form runs the same calls
one layer at a time, each under its own Spark job group, and pins each
layer's output with an eager ``localCheckpoint`` so the next layer's
time excludes it.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import Observation, functions as F

from pagerank_hadoop_spark import runtime_counters
from pagerank_hadoop_spark.functions.wikitext import extract_links, remove_red_links
from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n, top_ranks
from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages
from perfbench import gen, reference

N_ITER = 8
THRESHOLD_K = 5.0  # PageRank.java:336, rank > 5/N
TOP_LIMIT = 20

# Per-execution cost at these sizes is mostly the engine's per-job and
# JIT overhead, not data; larger inputs would leave room for fewer
# executions within one run's time budget on a 4-core machine.
SIZES = {
    "wiki_dump": {"pages": 5000},
    "link_graph": {"vertices": 20000, "edges": 150000},
}

LAYERS = (
    "wiki.read_parse",
    "wikitext.extract",
    "wikitext.redlink",
    "edges.scan",
    "pagerank.build",
    "pagerank.loop",
    "pagerank.topk",
)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def prepare(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the seeded input and its reference answer.
    Returns ``(input_path, meta)``."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    key = f"{workload}-{tag}-s{seed}-v{gen.GEN_VERSION}"

    def build_wiki(entry: str) -> dict:
        src, dst, ids = gen.write_wiki_dump(os.path.join(entry, "input"), seed, **size)
        nodes, rank = reference.pagerank_replay(src, dst, n_iter=N_ITER, parity=True)
        return {"answer": reference.threshold_answer(ids, nodes, rank, THRESHOLD_K)}

    def build_links(entry: str) -> dict:
        src, dst = gen.write_link_graph(os.path.join(entry, "input"), seed, **size)
        nodes, rank = reference.pagerank_replay(src, dst, n_iter=N_ITER, parity=False)
        return {"answer": reference.limit_answer(nodes, rank, TOP_LIMIT)}

    build = build_wiki if workload == "wiki_dump" else build_links
    entry, meta = gen.cached(cache_root, key, build)
    return os.path.join(entry, "input"), meta


def check(workload: str, n: int, rows: list, answer: dict) -> str | None:
    """None when an execution's output matches the reference answer."""
    if n != answer["n"]:
        return f"N = {n}, expected {answer['n']}"
    got = [(r["id"], r["rank"]) for r in rows]
    if workload == "wiki_dump":
        return reference.check_threshold(got, answer)
    return reference.check_limit(got, answer)


# --------------------------------------------------------------------------
# untraced pipelines: what a user runs
# --------------------------------------------------------------------------


def execute(workload: str, spark, path: str) -> tuple[int, list]:
    """One execution, through the collected result. Returns ``(N, rows)``."""
    if workload == "wiki_dump":
        pages = parse_pages(read_pages(spark, path))
        edges = remove_red_links(extract_links(pages), pages)
        ranks, n = pagerank_with_n(edges, n_iter=N_ITER, parity=True)
        return n, top_ranks(ranks, n, threshold=THRESHOLD_K / n).collect()
    edges = spark.read.parquet(path)
    ranks, n = pagerank_with_n(edges, n_iter=N_ITER, parity=False)
    return n, top_ranks(ranks, n, limit=TOP_LIMIT).collect()


# --------------------------------------------------------------------------
# traced pipelines: the same calls, one layer at a time
# --------------------------------------------------------------------------


class Trace:
    """Wall time and Spark job group per layer for one traced execution.
    Job groups are ``<layer>@<tag>`` so the event-log ledger can be
    split per execution."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.seconds: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def group(self, layer: str) -> str:
        return f"{layer}@{self.tag}"

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(self.group(name), name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def _pin(df):
    """Materialize ``df`` with an eager local checkpoint; the row count
    rides along as an observed metric, so counting costs no extra job."""
    obs = Observation("rows")
    pinned = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return pinned, obs.get["rows"]


def execute_traced(workload: str, spark, path: str, tr: Trace) -> tuple[int, list]:
    """One traced execution; fills ``tr``. Returns ``(N, rows)``."""
    if workload == "wiki_dump":
        with tr.layer("wiki.read_parse"):
            pages, n_pages = _pin(parse_pages(read_pages(spark, path)))
        with tr.layer("wikitext.extract"):
            links, n_links = _pin(extract_links(pages))
        with tr.layer("wikitext.redlink"):
            edges, n_kept = _pin(remove_red_links(links, pages))
        tr.counts["wiki.pages"] = n_pages
        tr.counts["wikitext.links"] = n_links
        tr.counts["wikitext.keep_ratio"] = n_kept / n_links if n_links else 0.0
    else:
        with tr.layer("edges.scan"):
            edges, _ = _pin(spark.read.parquet(path))
    runtime_counters.reset()
    with tr.layer("pagerank.build"):
        ranks, n = pagerank_with_n(edges, n_iter=N_ITER, parity=workload == "wiki_dump")
    rounds = runtime_counters.snapshot()["rounds"]
    with tr.layer("pagerank.loop"):
        ranks, _ = _pin(ranks)
    with tr.layer("pagerank.topk"):
        if workload == "wiki_dump":
            rows = top_ranks(ranks, n, threshold=THRESHOLD_K / n).collect()
        else:
            rows = top_ranks(ranks, n, limit=TOP_LIMIT).collect()
    tr.counts["pagerank.rounds"] = rounds
    tr.counts["pagerank.round_s"] = tr.seconds["pagerank.loop"] / rounds if rounds else 0.0
    return n, rows
