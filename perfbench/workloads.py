"""The two workloads: seeded inputs, staging, expected answers, one pass.

Every pass is a closed loop with one client: the benchmark calls one
public engine function, waits for its answer, checks it, then calls the
next. Inputs are a pure function of (seed, scale); the engine sees only the
staged tables.

  crawl_search    pages table -> edges_from_pages -> build_graph(
                  filter_ratio=0.2) -> pagerank -> 40 top-10 searches: the
                  reference CLI path. Many short PageRank rounds on a small
                  graph, so per-round driver and stage overhead dominate.
                  The only workload with HTML extraction and the
                  filter_ratio build.
  link_analytics  skewed edge table (power-law in-degree, 20 edges per vertex)
                  -> build_graph(keep_mult=True) -> pagerank ->
                  connected_components -> label_propagation ->
                  triangle_count, then the snapshot refresh: a 1% edge delta
                  (0.2% of its edges from new urls) -> update_graph -> warm
                  pagerank(x0=the pass's ranks) -> 40 top-10 searches. The
                  only workload with CC, LPA, triangles and incremental
                  maintenance.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

import gate
from ledger import Ops

ALPHA = 0.85
EPSILON = 1e-6
FILTER_RATIO = 0.2  # the reference README's --filter_ratio
TOP_K = 10
_EPOCH = datetime(2024, 1, 1)


def _fingerprint(rows: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for s, t in rows:
        h.update(f"{s}\t{t}\n".encode())
    return h.hexdigest()[:16]


# --- crawl_search inputs ------------------------------------------------

N_HUBS = 3  # sitewide nav targets; each page links to each with p=0.3, so
HUB_P = 0.3  # their in-degree (~0.3 n) crosses filter_ratio * n and the
# filter drops exactly those links. Every page also keeps >= 3 links to
# non-hub pages, so no page turns dangling after the filter (the reference
# power method's unnormalised iterate diverges once dangling mass exceeds
# about (1-alpha)/(alpha*(sqrt(n)-1)) of the total).


def page_url(i: int) -> str:
    return f"www.example{i % 97}.com/page-{i}"


def _html(title: str, paragraphs: list[str], outlinks: list[str]) -> str:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    links = "".join(f'<a href="{u}">link</a>' for u in outlinks)
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body>{body}<nav>{links}</nav></body></html>"
    )


def make_pages(seed: int, n: int, stale_frac: float = 0.05):
    """Common-Crawl-style captures plus the (src, dst) link rows of each
    url's latest capture. 5% of urls also have an older, link-less capture
    that the extraction's dedupe must drop."""
    rng = np.random.default_rng([seed, 1])
    captures, links = [], []
    for i in range(n):
        url = page_url(i)
        targets = [int(t) for t in rng.integers(N_HUBS, n, size=3 + rng.poisson(4))]
        targets += [h for h in range(N_HUBS) if rng.random() < HUB_P]
        outlinks = [page_url(t) for t in targets]
        title = f"Page {i} of example{i % 97}"
        words = rng.integers(0, 5000, size=(int(rng.integers(1, 4)), 12))
        paragraphs = [" ".join(f"w{w}" for w in row) for row in words]
        ts = _EPOCH + timedelta(seconds=int(rng.integers(0, 10_000_000)))
        text = "\n".join([title] + paragraphs)
        captures.append((url, ts, _html(title, paragraphs, outlinks).encode(), text, "en"))
        links.extend((url, u) for u in outlinks)
        if rng.random() < stale_frac:
            old = f"OLD {title}"
            captures.append(
                (url, ts - timedelta(days=400), _html(old, ["stale"], []).encode(), old, "en")
            )
    pages = pd.DataFrame(captures, columns=["url", "warc_ts", "html", "text", "lang"])
    return pages, links


def crawl_queries(seed: int, n: int, count: int) -> list[str]:
    """Bare terms and -veto terms over the host and path parts of urls."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for _ in range(count):
        h, p = int(rng.integers(0, 97)), int(rng.integers(1, min(n, 100)))
        form = int(rng.integers(0, 5))
        out.append(
            [
                f"example{h}",
                f"page-{p}",
                f"example{h} -page-{p}",
                f"page-{p} example{h}",
                f"-example{h}",
            ][form]
        )
    return out


# --- link_analytics inputs ---------------------------------------------

EDGES_PER_VERTEX = 20
SKEW = 2.0  # dst = floor(n * u**SKEW): in-degree density ~ id**-(1-1/SKEW),
# so low ids are hubs (vertex 0 alone gets 1/sqrt(n) of all links) but no
# single link pattern decides the spectrum. Every seed then needs the same
# PageRank round count (10 at n=10k) and LPA round count.


def node_url(i: int) -> str:
    return f"node{i}.example.com"


def _skewed(rng, n: int, size: int) -> np.ndarray:
    return np.minimum(np.floor(n * rng.random(size) ** SKEW).astype(np.int64), n - 1)


def make_edges(seed: int, n_vertices: int, n_edges: int) -> list[tuple[str, str]]:
    """Directed url graph: sources uniform, destinations power-law skewed."""
    rng = np.random.default_rng([seed, 5])
    src = rng.integers(0, n_vertices, size=n_edges)
    dst = _skewed(rng, n_vertices, n_edges)
    return [(node_url(int(s)), node_url(int(t))) for s, t in zip(src, dst)]


def make_delta(seed: int, n_vertices: int, n_edges: int) -> list[tuple[str, str]]:
    """The refresh delta: 1% of the base edge count drawn like the base
    edges; 0.2% of the delta's edges come from urls new to the graph."""
    rng = np.random.default_rng([seed, 3])
    m = max(1, round(0.01 * n_edges))
    src = rng.integers(0, n_vertices, size=m)
    dst = _skewed(rng, n_vertices, m)
    rows = [(node_url(int(s)), node_url(int(t))) for s, t in zip(src, dst)]
    for k in range(max(1, round(0.002 * m))):
        rows[k] = (f"fresh{k}.example.com", rows[k][1])
    return rows


def link_queries(seed: int, n_vertices: int, count: int) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(count):
        p = int(rng.integers(1, min(n_vertices, 100)))
        d = int(rng.integers(0, 10))
        form = int(rng.integers(0, 4))
        out.append([f"node{p}", f"node{p} -node{p}{d}", f"-node{d}", f"node{d} fresh"][form])
    return out


class Workload:
    """One workload's inputs for a (seed, scale) and its pass."""

    name = ""

    def input_info(self) -> dict:
        """Input sizes and a fingerprint of the generated rows."""
        raise NotImplementedError

    def stage(self, spark, workdir: str) -> None:
        raise NotImplementedError

    def expected(self, oracle) -> None:
        raise NotImplementedError

    def run_pass(self, spark, ops: Ops, extra: bool = False) -> None:
        """One closed-loop pass; ``extra`` adds the traced-only steps after
        the pass's clock stops."""
        raise NotImplementedError

    # shared steps -------------------------------------------------------

    def _ranks(self, graph, result) -> dict[str, float]:
        return {r["url"]: r["rank"] for r in result.by_url(graph).collect()}

    def _searches(self, ops: Ops, graph, result) -> None:
        from web_search_pagerank_project_spark import search

        for q in self.queries:
            with ops.span("search"):
                urls = [r["url"] for r in search(graph, result, q, max_results=TOP_K).collect()]
            ops.check(f"search {q!r}", gate.check_top(urls, self.want_top[q], self.want_ranks))

    def _build_facts(self, ops: Ops, graph, edges_in: int) -> None:
        edges_out = graph.edges.count()
        ops.fact("graph_build.edges_in", edges_in)
        ops.fact("graph_build.edges_out", edges_out)
        ops.fact("graph_build.vertices", graph.n)


class CrawlSearch(Workload):
    name = "crawl_search"
    n_queries = 40

    def __init__(self, seed: int, scale: float) -> None:
        self.n_pages = max(60, int(5000 * scale))
        self.pages, self.links = make_pages(seed, self.n_pages)
        self.queries = crawl_queries(seed, self.n_pages, self.n_queries)

    def input_info(self):
        return {
            "pages": self.n_pages,
            "captures": len(self.pages),
            "links": len(self.links),
            "queries": len(self.queries),
            "fingerprint": _fingerprint(self.links),
        }

    def stage(self, spark, workdir):
        from web_search_pagerank_project_spark.sources.pages import PAGES_SCHEMA, write_pages

        self.path = os.path.join(workdir, "pages")
        write_pages(spark.createDataFrame(self.pages, schema=PAGES_SCHEMA), self.path, mode="overwrite")

    def expected(self, oracle):
        self.want_ranks = gate.oracle_ranks(oracle, self.links, filter_ratio=FILTER_RATIO)
        self.want_top = {q: gate.expected_top(oracle, self.want_ranks, q) for q in self.queries}

    def run_pass(self, spark, ops, extra=False):
        from web_search_pagerank_project_spark import build_graph, pagerank
        from web_search_pagerank_project_spark.functions.html import edges_from_pages
        from web_search_pagerank_project_spark.sources.pages import read_pages

        with ops.span("sources"):
            pages = read_pages(spark, self.path).persist()
            rows = pages.count()
        ops.fact("sources.rows", rows)
        with ops.span("html"):
            edges = edges_from_pages(pages).persist()
            outlinks = edges.count()
        ops.fact("html.pages", self.n_pages)
        ops.fact("html.outlinks", outlinks)
        ops.check("html outlinks", gate.check_count("outlinks", outlinks, len(self.links)))
        with ops.span("graph_build"):
            graph = build_graph(edges, filter_ratio=FILTER_RATIO)
        edges.unpersist()
        pages.unpersist()
        self._build_facts(ops, graph, outlinks)
        with ops.span("pagerank"):
            result = pagerank(graph, alpha=ALPHA, epsilon=EPSILON)
            ranks = self._ranks(graph, result)
        ops.fact("pagerank.rounds", result.iterations)
        ops.check("pagerank", gate.check_ranks(ranks, self.want_ranks))
        self._searches(ops, graph, result)
        ops.stop_clock()
        graph.unpersist()


class LinkAnalytics(Workload):
    """Analytics over a snapshot, then the snapshot's refresh."""

    name = "link_analytics"
    n_queries = 40

    def __init__(self, seed: int, scale: float) -> None:
        self.n_vertices = max(200, int(5_000 * scale))
        self.n_edges = EDGES_PER_VERTEX * self.n_vertices
        self.rows = make_edges(seed, self.n_vertices, self.n_edges)
        self.delta = make_delta(seed, self.n_vertices, self.n_edges)
        self.queries = link_queries(seed, self.n_vertices, self.n_queries)

    def input_info(self):
        return {
            "vertices": self.n_vertices,
            "edges": self.n_edges,
            "skew": SKEW,
            "delta_edges": len(self.delta),
            "delta_new_url_edges": sum(1 for s, _ in self.delta if s.startswith("fresh")),
            "queries": len(self.queries),
            "fingerprint": _fingerprint(self.rows + self.delta),
        }

    def stage(self, spark, workdir):
        self.path = os.path.join(workdir, "edges")
        self.delta_path = os.path.join(workdir, "delta")
        for rows, path in ((self.rows, self.path), (self.delta, self.delta_path)):
            pdf = pd.DataFrame(rows, columns=["src", "dst"])
            spark.createDataFrame(pdf, "src string, dst string").write.mode(
                "overwrite"
            ).parquet(path)

    def expected(self, oracle):
        self.want_base_ranks = gate.oracle_ranks(oracle, self.rows)
        self.want_cc = oracle.connected_components_oracle(self.rows)
        self.want_lpa = oracle.label_propagation_oracle(self.rows)
        self.want_triangles = oracle.triangle_count_oracle(self.rows)
        self.want_ranks = gate.oracle_ranks(oracle, self.rows + self.delta)
        self.want_top = {q: gate.expected_top(oracle, self.want_ranks, q) for q in self.queries}

    def run_pass(self, spark, ops, extra=False):
        from web_search_pagerank_project_spark import (
            build_graph,
            connected_components,
            label_propagation,
            pagerank,
            triangle_count,
            update_graph,
        )
        from web_search_pagerank_project_spark.sources.edges import read_edge_parquet

        with ops.span("sources"):
            edges = read_edge_parquet(spark, self.path).persist()
            rows = edges.count()
        ops.fact("sources.rows", rows)
        with ops.span("graph_build"):
            graph = build_graph(edges, keep_mult=True)
        edges.unpersist()
        self._build_facts(ops, graph, rows)
        with ops.span("pagerank"):
            result = pagerank(graph, alpha=ALPHA, epsilon=EPSILON)
            ranks = self._ranks(graph, result)
        ops.fact("pagerank.rounds", result.iterations)
        ops.check("pagerank", gate.check_ranks(ranks, self.want_base_ranks))
        urls = {r["id"]: r["url"] for r in graph.vertices.collect()}
        with ops.span("cc"):
            cc_rows = connected_components(graph).collect()
        got = {urls[r["id"]]: urls[r["component"]] for r in cc_rows}
        ops.check("connected_components", gate.check_labels(got, self.want_cc))
        with ops.span("lpa"):
            lpa_rows = label_propagation(graph).collect()
        got = {urls[r["id"]]: urls[r["label"]] for r in lpa_rows}
        ops.check("label_propagation", gate.check_labels(got, self.want_lpa))
        with ops.span("triangles"):
            triangles = triangle_count(graph)
        ops.check("triangle_count", gate.check_count("triangles", triangles, self.want_triangles))

        # the refresh: a crawl delta patched into the snapshot, re-ranked warm
        with ops.span("sources"):
            delta = read_edge_parquet(spark, self.delta_path).persist()
            delta_rows = delta.count()
        with ops.span("update_graph"):
            fresh = update_graph(graph, delta)
        delta.unpersist()
        ops.fact("update_graph.delta_edges", delta_rows)
        ops.fact("update_graph.new_urls", fresh.n - graph.n)
        with ops.span("pagerank_warm"):
            warm = pagerank(fresh, alpha=ALPHA, epsilon=EPSILON, x0=result.ranks)
            ranks = self._ranks(fresh, warm)
        ops.fact("pagerank.warm_rounds", warm.iterations)
        ops.check("pagerank (warm)", gate.check_ranks(ranks, self.want_ranks))
        self._searches(ops, fresh, warm)
        ops.stop_clock()
        if extra:
            with ops.span("pagerank_cold"):
                cold = pagerank(fresh, alpha=ALPHA, epsilon=EPSILON)
            ops.fact("pagerank.cold_rounds", cold.iterations)
        fresh.unpersist()
        graph.unpersist()


WORKLOADS = {w.name: w for w in (CrawlSearch, LinkAnalytics)}
