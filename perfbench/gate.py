"""Correctness gate: the engine's answers against the float64 oracle.

The oracle is ``tests/oracle.py`` of the checkout, imported read-only by
path. Expected answers are computed once per (workload, seed) before the
timed passes; each check below returns ``None`` when the engine's answer
matches and a one-line reason when it does not.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np

RANK_ATOL = 1e-6  # the repository's PageRank parity bar (allclose 1e-6)
TIE_ATOL = 1e-9  # two oracle scores this close are the same rank in a top-k


def load_oracle(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # dataclasses resolve their module here
    spec.loader.exec_module(module)
    return module


def oracle_ranks(oracle, rows, filter_ratio=None) -> dict[str, float]:
    """Uniform PageRank (alpha 0.85, epsilon 1e-6) per url: the reference
    power method."""
    return oracle.pagerank_by_url(rows, filter_ratio=filter_ratio)


def expected_top(oracle, scores: dict[str, float], query: str, k: int = 10):
    """The oracle's top-k urls for ``query`` (score descending, url
    ascending: the engine's ``search`` order), and every matching url tied
    with the k-th score, which may take a place in the engine's top-k."""
    hits = sorted(
        (-s, u) for u, s in scores.items() if oracle.url_satisfies_query(u, query)
    )
    top = [u for _, u in hits[:k]]
    floor = -hits[k - 1][0] - TIE_ATOL if len(hits) >= k else float("-inf")
    tied = {u for s, u in hits[k:] if -s >= floor}
    return top, set(top) | tied


def check_ranks(engine: dict[str, float], expected: dict[str, float]) -> str | None:
    if engine.keys() != expected.keys():
        return f"url sets differ: {len(engine)} engine vs {len(expected)} oracle urls"
    urls = sorted(expected)
    e = np.array([engine[u] for u in urls], dtype=np.float64)
    o = np.array([expected[u] for u in urls], dtype=np.float64)
    if np.allclose(e, o, rtol=0.0, atol=RANK_ATOL):
        return None
    i = int(np.argmax(np.abs(e - o)))
    return f"rank of {urls[i]}: engine {e[i]!r} vs oracle {o[i]!r}"


def check_top(
    engine_urls: list[str], expected: tuple[list[str], set[str]], scores: dict[str, float]
) -> str | None:
    """Each position must hold the oracle's url, or a matching url with the
    same oracle score (an exact tie the two sides may order differently)."""
    top, allowed = expected
    if len(engine_urls) != len(top):
        return f"{len(engine_urls)} results vs {len(top)} expected"
    if len(set(engine_urls)) != len(engine_urls):
        return "duplicate url in results"
    for i, (got, want) in enumerate(zip(engine_urls, top)):
        if got != want and not (
            got in allowed and abs(scores[got] - scores[want]) <= TIE_ATOL
        ):
            return f"position {i}: {got!r} where the oracle has {want!r}"
    return None


def check_labels(engine: dict[str, str], expected: dict[str, str]) -> str | None:
    """Exact per-url labels (CC component or LPA community, as urls) over
    every url the oracle labels."""
    for url, label in expected.items():
        got = engine.get(url)
        if got != label:
            return f"label of {url}: engine {got!r} vs oracle {label!r}"
    return None


def check_count(name: str, engine: int, expected: int) -> str | None:
    return None if engine == expected else f"{name}: engine {engine} vs oracle {expected}"
