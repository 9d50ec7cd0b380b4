#!/usr/bin/env python3
"""Link-graph engine benchmark.

    python3 perfbench/run.py --workload crawl_search --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) from the root of a checkout, through
the engine's public API on ``local[nproc]`` with 2 x nproc shuffle
partitions, checks every answer against the float64 oracle in
``tests/oracle.py`` and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: it first measures untraced passes, then restarts the
Spark session with the event log on and measures traced passes, so
``trace_overhead_s`` is the difference of their median walls. All files go
under ``.perfbench_work/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "web_search_pagerank_project_spark"
STAGINGS = 3  # set-up repeats per run; setup_s takes their median

sys.path.insert(0, HERE)

from gate import load_oracle  # noqa: E402
from hostprobe import RssSampler, cpu_count, load1, steal_pct, steal_sample  # noqa: E402
from ledger import Ops, PassAborted, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "query_s_p50": "s",
    "query_s_p75": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.read_s": "s",
    "sources.rows": "count",
    "html.extract_s": "s",
    "html.pages": "count",
    "html.outlinks": "count",
    "graph_build.wall_s": "s",
    "graph_build.edges_in": "count",
    "graph_build.edges_kept_frac": "frac",
    "graph_build.vertices": "count",
    "graph_build.tasks": "count",
    "graph_build.shuffle_write_mb": "MB",
    "graph_build.spill_mb": "MB",
    "pagerank.rounds": "count",
    "pagerank.round_s": "s",
    "pagerank.jobs_per_round": "count",
    "pagerank.driver_gap_s": "s",
    "pagerank.wall_s": "s",
    "pagerank.iters_per_hour": "1/h",
    "pagerank.edge_traversals_per_s": "1/s",
    "pagerank.tasks_per_round": "count",
    "pagerank.shuffle_mb_per_round": "MB",
    "cc.wall_s": "s",
    "cc.jobs": "count",
    "cc.shuffle_mb": "MB",
    "lpa.wall_s": "s",
    "lpa.jobs": "count",
    "lpa.shuffle_mb": "MB",
    "triangles.wall_s": "s",
    "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB",
    "update_graph.wall_s": "s",
    "update_graph.delta_edges": "count",
    "update_graph.new_url_frac": "frac",
    "update_graph.shuffle_mb": "MB",
    "pagerank.warm_rounds": "count",
    "pagerank_warm.wall_s": "s",
    "pagerank.cold_rounds": "count",
    "search.query_s": "s",
    "search.queries": "count",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_leaked": "count",
    "spark.storage_mb_leaked": "MB",
    "host.steal_pct": "%",
    "host.load1": "procs",
    "setup.session_s": "s",
    "setup.stage_s": "s",
    "setup.first_stage_s": "s",
    "drift.wall_ratio": "ratio",
    "passes": "count",
    "trace_overhead_s": "s",
    "failed_ops_frac": "frac",
}

MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


class Session:
    """One SparkSession on local[nproc]; ``event_log`` turns Spark's event
    log on into that directory."""

    def __init__(self, workdir: str, event_log: str | None = None) -> None:
        from web_search_pagerank_project_spark import get_spark

        n = cpu_count()
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, MB those RDDs hold in memory and on disk)."""
        n = self.sc._jsc.getPersistentRDDs().size()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return n, sum(i.memSize() + i.diskSize() for i in infos) / MB


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_passes(
    session: Session, wl, ops: Ops, seconds: float, min_passes: int = 1, extra: bool = False
) -> list[dict]:
    """Closed loop: start passes until ``seconds`` have gone and at least
    ``min_passes`` have run."""
    records = []
    t_end = time.perf_counter() + seconds
    while len(records) < min_passes or time.perf_counter() < t_end:
        rdds0, mb0 = session.storage()
        gc0, st0 = session.gc_s(), steal_sample()
        ops.begin_pass()
        try:
            wl.run_pass(session.spark, ops, extra=extra)
        except PassAborted:
            log(traceback.format_exc())
        ops.end_pass()
        rdds1, mb1 = session.storage()
        p = ops.passes[-1]
        p.update(
            gc_s=session.gc_s() - gc0,
            steal_pct=steal_pct(st0, steal_sample()),
            load1=load1(),
            rdds_leaked=rdds1 - rdds0,
            storage_mb_leaked=mb1 - mb0,
        )
        log(f"pass {ops.pass_no}: {p['wall_s']:.2f} s, spans {dict(p['spans'])}")
        records.append(p)
    return records


def end_to_end(setup_s: float, passes: list[dict], peak_mb: float) -> dict:
    queries = [q for p in passes for q in p["queries"]]
    return {
        "wall_s": median([p["wall_s"] for p in passes]),
        "setup_s": setup_s,
        "query_s_p50": percentile(queries, 50) if queries else 0.0,
        "query_s_p75": percentile(queries, 75) if queries else 0.0,
        "peak_rss_mb": peak_mb,
    }


def per_layer(passes: list[dict], groups: dict, untraced: list[dict], setup: dict) -> dict:
    """Median over traced passes of each per-layer figure."""

    def grp(layer: str, i: int) -> dict:
        return groups.get((layer, i), {})

    rows = []
    for i, p in enumerate(passes):
        s, f = p["spans"], p["facts"]
        pr, gb = grp("pagerank", i), grp("graph_build", i)
        rounds = f.get("pagerank.rounds", 0)
        edges = f.get("graph_build.edges_out", 0)
        search = grp("search", i)
        nq = len(p["queries"])
        r = {
            "sources.read_s": s.get("sources", 0.0),
            "sources.rows": f.get("sources.rows", 0),
            "html.extract_s": s.get("html", 0.0),
            "html.pages": f.get("html.pages", 0),
            "html.outlinks": f.get("html.outlinks", 0),
            "graph_build.wall_s": s.get("graph_build", 0.0),
            "graph_build.edges_in": f.get("graph_build.edges_in", 0),
            "graph_build.edges_kept_frac": (
                edges / f["graph_build.edges_in"] if f.get("graph_build.edges_in") else 0.0
            ),
            "graph_build.vertices": f.get("graph_build.vertices", 0),
            "graph_build.tasks": gb.get("tasks", 0),
            "graph_build.shuffle_write_mb": gb.get("shuffle_write_bytes", 0) / MB,
            "graph_build.spill_mb": gb.get("spill_bytes", 0) / MB,
            "pagerank.rounds": rounds,
            "pagerank.wall_s": s.get("pagerank", 0.0),
            "pagerank.driver_gap_s": (
                max(0.0, s.get("pagerank", 0.0) - pr.get("job_ms", 0) / 1000.0) if pr else 0.0
            ),
            "cc.wall_s": s.get("cc", 0.0),
            "cc.jobs": grp("cc", i).get("jobs", 0),
            "cc.shuffle_mb": grp("cc", i).get("shuffle_write_bytes", 0) / MB,
            "lpa.wall_s": s.get("lpa", 0.0),
            "lpa.jobs": grp("lpa", i).get("jobs", 0),
            "lpa.shuffle_mb": grp("lpa", i).get("shuffle_write_bytes", 0) / MB,
            "triangles.wall_s": s.get("triangles", 0.0),
            "triangles.shuffle_mb": grp("triangles", i).get("shuffle_write_bytes", 0) / MB,
            "triangles.spill_mb": grp("triangles", i).get("spill_bytes", 0) / MB,
            "update_graph.wall_s": s.get("update_graph", 0.0),
            "update_graph.delta_edges": f.get("update_graph.delta_edges", 0),
            "update_graph.new_url_frac": (
                f["update_graph.new_urls"] / f["update_graph.delta_edges"]
                if f.get("update_graph.delta_edges")
                else 0.0
            ),
            "update_graph.shuffle_mb": grp("update_graph", i).get("shuffle_write_bytes", 0) / MB,
            "pagerank.warm_rounds": f.get("pagerank.warm_rounds", 0),
            "pagerank_warm.wall_s": s.get("pagerank_warm", 0.0),
            "pagerank.cold_rounds": f.get("pagerank.cold_rounds", 0),
            "search.query_s": median(p["queries"]),
            "search.queries": nq,
            "search.jobs_per_query": search.get("jobs", 0) / nq if nq else 0.0,
            "search.tasks_per_query": search.get("tasks", 0) / nq if nq else 0.0,
            "spark.gc_s": p["gc_s"],
            "spark.failed_tasks": sum(g["failed_tasks"] for (_, n), g in groups.items() if n == i),
            "spark.persisted_rdds_leaked": p["rdds_leaked"],
            "spark.storage_mb_leaked": p["storage_mb_leaked"],
            "host.steal_pct": p["steal_pct"],
            "host.load1": p["load1"],
        }
        if rounds:
            wall = r["pagerank.wall_s"]
            r.update(
                {
                    "pagerank.round_s": wall / rounds,
                    "pagerank.jobs_per_round": pr.get("jobs", 0) / rounds,
                    "pagerank.iters_per_hour": rounds / wall * 3600.0,
                    "pagerank.edge_traversals_per_s": rounds * edges / wall,
                    "pagerank.tasks_per_round": pr.get("tasks", 0) / rounds,
                    "pagerank.shuffle_mb_per_round": pr.get("shuffle_write_bytes", 0) / MB / rounds,
                }
            )
        rows.append(r)
    out = {name: median([r.get(name, 0.0) for r in rows]) for name in PER_LAYER}
    # drift over the untraced series: passes that share one JVM, in order
    walls = [p["wall_s"] for p in untraced]
    third = max(1, len(walls) // 3)
    out.update(
        {
            "setup.session_s": setup["session_s"],
            "setup.stage_s": setup["stage_s"],
            "setup.first_stage_s": setup["first_stage_s"],
            "drift.wall_ratio": median(walls[-third:]) / median(walls[:third]),
            "passes": len(passes),
            # against the untraced passes after the first, which ran cold
            "trace_overhead_s": median([p["wall_s"] for p in passes]) - median(walls[1:]),
        }
    )
    return out


def run(args, workdir: str) -> dict:
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    oracle = load_oracle(ROOT)

    # Set-up: session start, then input staging repeated; the first staging
    # also warms the fresh session (first job, Arrow, parquet writer), the
    # median of the repeats is the staging cost.
    session = Session(workdir)
    stage_s = []
    for _ in range(STAGINGS):
        t0 = time.perf_counter()
        wl.stage(session.spark, os.path.join(workdir, "inputs"))
        stage_s.append(time.perf_counter() - t0)
    setup = {
        "session_s": session.start_s,
        "stage_s": median(stage_s),
        "first_stage_s": stage_s[0],
    }
    setup_s = setup["session_s"] + setup["stage_s"]
    log(f"setup {setup}")

    t0 = time.perf_counter()
    wl.expected(oracle)
    log(f"oracle {time.perf_counter() - t0:.2f} s; inputs {wl.input_info()}")

    ops = Ops(session.sc, traced=False, log=log)
    with RssSampler(session.jvm_pid) as rss:
        # the traced run needs a warm untraced pass to compare against
        passes = run_passes(session, wl, ops, args.seconds, min_passes=1 + args.trace)
    session.spark.stop()
    result = {
        "attempted": ops.attempted,
        "failed": ops.failed,
        "end_to_end": end_to_end(setup_s, passes, rss.peak_mb),
        "inputs": wl.input_info(),
    }
    if args.trace:
        # same JVM, new SparkContext with the event log on
        event_dir = os.path.join(workdir, "eventlog")
        session = Session(workdir, event_log=event_dir)
        tops = Ops(session.sc, traced=True, log=log)
        traced = run_passes(session, wl, tops, args.seconds, extra=True)
        session.spark.stop()
        groups = read_event_log(event_dir)
        layers = per_layer(traced, groups, passes, setup)
        result["ledger"] = {f"{layer}#{n}": g for (layer, n), g in sorted(groups.items())}
        result["attempted"] += tops.attempted
        result["failed"] += tops.failed
        layers["failed_ops_frac"] = result["failed"] / max(1, result["attempted"])
        result["per_layer"] = layers
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests)")
    ap.add_argument("--detail", help="also write the full result as JSON to this file")
    args = ap.parse_args()

    missing = [
        p for p in (PACKAGE, os.path.join("tests", "oracle.py")) if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        log(f"run from the root of a checkout; missing: {', '.join(missing)}")
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        result = run(args, workdir)
    finally:
        shutdown_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    names = PER_LAYER if args.trace else END_TO_END
    values = result["per_layer"] if args.trace else result["end_to_end"]
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": names[k]} for k in names},
    }
    if args.detail:
        with open(args.detail, "w") as f:
            json.dump(result, f, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
