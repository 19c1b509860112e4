"""Independent reference answers: a numpy replay of PageRank.

The replay runs over the generator's intended edge list, so a defect in
the engine's parsing, link extraction or red-link join shows up as a
mismatch instead of being replayed. It follows the engine's documented
recurrence (``operators/pagerank.py``): vertices are every id that
appears as a source or target, every vertex starts at 1/N, and each of
``n_iter`` rounds computes ``0.15/N + 0.85 * sum(rank/outdeg)`` over
deduplicated edges. Parity mode loses the mass of dangling vertices, as
the reference does; corrected mode spreads it uniformly.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85

# floating-point summation order differs between Spark and numpy; ranks
# agree to ~1e-16 relative, so 1e-9 relative leaves a wide margin while
# still catching any change to the recurrence
REL_TOL = 1e-9


def pagerank_replay(
    src: np.ndarray, dst: np.ndarray, *, n_iter: int = 8, parity: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """Return ``(vertex_ids, ranks)`` for the integer edge list."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    nodes, inv = np.unique(pairs.ravel(order="F"), return_inverse=True)
    s, d = inv[: len(pairs)], inv[len(pairs) :]
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    teleport = (1.0 - DAMPING) / n
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        insum = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        new = teleport + DAMPING * insum
        if not parity:
            new += DAMPING * rank[dangling].sum() / n
        rank = new
    return nodes, rank


def threshold_answer(ids: list[str], nodes: np.ndarray, rank: np.ndarray, k: float = 5.0) -> dict:
    """Expected ``top_ranks(threshold=k/N)``: every vertex above the
    cut, plus the ranks just below it so a check can tell a genuine
    miss from a value that sits within tolerance of the cut."""
    n = len(nodes)
    cut = k / n
    near = rank > cut * (1 - 1e-6)
    order = np.lexsort((np.array([ids[i] for i in nodes[near]]), -rank[near]))
    rows = [[ids[int(nodes[near][j])], float(rank[near][j])] for j in order]
    return {"n": n, "cut": cut, "rows": rows, "mass": float(rank.sum())}


def limit_answer(nodes: np.ndarray, rank: np.ndarray, limit: int) -> dict:
    """Expected ``top_ranks(limit=limit)`` with string ids, plus the next
    ``limit`` rows so ties at the boundary can be judged."""
    ids = nodes.astype(str)
    order = np.lexsort((ids, -rank))[: 2 * limit]
    rows = [[str(ids[j]), float(rank[j])] for j in order]
    return {"n": len(nodes), "limit": limit, "rows": rows, "mass": float(rank.sum())}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b)) + 1e-15


def check_threshold(got: list[tuple[str, float]], want: dict) -> str | None:
    """None if ``got`` matches the threshold answer, else a reason."""
    exp = {i: r for i, r in want["rows"]}
    cut = want["cut"]
    for i, r in got:
        if i not in exp or not _close(r, exp[i]):
            return f"unexpected or wrong rank for {i!r}: {r!r} vs {exp.get(i)!r}"
        if r < cut * (1 - REL_TOL):
            return f"{i!r} returned below the cut: {r!r} <= {cut!r}"
    seen = {i for i, _ in got}
    for i, r in want["rows"]:
        if i not in seen and r > cut * (1 + REL_TOL):
            return f"missing {i!r} (rank {r!r} > cut {cut!r})"
    return _check_order(got)


def check_limit(got: list[tuple[str, float]], want: dict) -> str | None:
    """None if ``got`` is a valid top-``limit`` answer, else a reason."""
    limit = want["limit"]
    exp = {i: r for i, r in want["rows"]}
    if len(got) != min(limit, want["n"]):
        return f"{len(got)} rows, expected {min(limit, want['n'])}"
    for i, r in got:
        if i not in exp or not _close(r, exp[i]):
            return f"unexpected or wrong rank for {i!r}: {r!r} vs {exp.get(i)!r}"
    # every expected row strictly above the last returned rank must be there
    floor = got[-1][1]
    seen = {i for i, _ in got}
    for i, r in want["rows"][:limit]:
        if i not in seen and not _close(r, floor) and r > floor:
            return f"missing {i!r} (rank {r!r})"
    return _check_order(got)


def _check_order(got: list[tuple[str, float]]) -> str | None:
    for (_, a), (_, b) in zip(got, got[1:]):
        if b > a and not _close(a, b):
            return "rows not in descending rank order"
    return None
