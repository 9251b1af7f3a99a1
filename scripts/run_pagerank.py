"""spark-submit entry point for the link-graph algorithms (north rule:
"runs via spark-submit --py-files ... on a multi-executor cluster").

Package + submit:

    cd /root/repo && zip -qr /tmp/combblas_spark.zip combblas_spark
    spark-submit --master local[8] --py-files /tmp/combblas_spark.zip \
        scripts/run_pagerank.py --graph rmat:18:16 --algo pagerank \
        --iters 10 --checkpoint-dir /tmp/ck --output /tmp/out

On a real cluster only --master changes (yarn / k8s / spark://...);
the code paths are identical — partitioning and skew handling do not
assume local mode. Checkpointing needs --checkpoint-dir on a SHARED
POSIX filesystem (NFS/Lustre/fuse mount) visible to driver and
executors alike; SuperstepRunner validates this.

--graph accepts ``rmat:<scale>:<edgefactor>`` (seeded in-Spark
generator, reference RefGen21.h:246) or a Parquet path with
(src, dst[, val]) columns. Prints ONE JSON line with per-superstep
wall times and edges/sec throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_graph(spark, spec: str, shuffle_n: int):
    from combblas_spark.graph import build_graph
    from combblas_spark.sources.rmat import rmat_edges

    if spec.startswith("rmat:"):
        _, scale, ef = spec.split(":")
        raw = rmat_edges(spark, int(scale), int(ef))
        return build_graph(raw)
    if spec.startswith("pages:"):
        # full north-star ingestion: synthetic Common-Crawl-style pages
        # -> Arrow-UDF link extraction -> dense ids -> edge table
        from combblas_spark.sources.pages import generate_pages, pages_to_edges

        n_pages = int(spec.split(":")[1])
        edges, _ = pages_to_edges(generate_pages(spark, n_pages))
        return build_graph(edges)
    return build_graph(spark.read.parquet(spec))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--graph", required=True, help="rmat:<scale>:<ef> or parquet path")
    p.add_argument("--algo", default="pagerank",
               choices=["pagerank", "cc", "labelprop", "triangles"])
    p.add_argument("--iters", type=int, default=10)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-every", type=int, default=5)
    p.add_argument("--output", default=None, help="parquet dir for the result vector")
    p.add_argument(
        "--broadcast-max-vertices", type=int, default=None,
        help="default: the engine's regime threshold; 0 forces the "
             "shuffle regime — the code path a 10^12-vertex run would "
             "take (rank vector too big to broadcast)")
    p.add_argument(
        "--partition-stats", action="store_true",
        help="record the per-partition row histogram + load-imbalance "
             "metric in every durable manifest (one extra count job per "
             "checkpoint — the endurance-evidence mode)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the master/conf come from the submit command
    spark = (
        SparkSession.builder.appName(f"linkgraph-{args.algo}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    from combblas_spark.algorithms.components import connected_components
    from combblas_spark.algorithms.labelprop import label_propagation
    from combblas_spark.algorithms.pagerank import pagerank
    from combblas_spark.algorithms.triangles import triangles_per_vertex
    from combblas_spark.runtime import SuperstepRunner

    t0 = time.perf_counter()
    g = load_graph(spark, args.graph, shuffle_n).persist()
    nedges = g.count()
    t_build = time.perf_counter() - t0

    runner = None
    if args.checkpoint_dir:
        runner = SuperstepRunner(
            spark, args.checkpoint_dir, args.algo,
            config={"graph": args.graph, "alpha": args.alpha, "algo": args.algo},
            every=args.checkpoint_every,
            collect_partition_stats=args.partition_stats,
        )

    class _DuMetrics(list):
        """metrics list that snapshots spark.local.dir bytes at every
        append (i.e. once per superstep, from inside the loop) — the
        measured shuffle+spill footprint, for the BENCH.md byte-count
        evidence. Active only when spark.local.dir is set explicitly."""

        def __init__(self, path: str):
            super().__init__()
            self._path = path

        def append(self, item):
            total = 0
            for root, _dirs, files in os.walk(self._path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            if isinstance(item, dict):
                item["local_dir_bytes"] = total
            super().append(item)

    local_dir = spark.conf.get("spark.local.dir", None)
    metrics: list = _DuMetrics(local_dir) if local_dir else []
    t1 = time.perf_counter()
    if args.algo == "pagerank":
        res = pagerank(g, alpha=args.alpha, n_iter=args.iters, metrics=metrics,
                       runner=runner, broadcast_max_vertices=args.broadcast_max_vertices)
    elif args.algo == "cc":
        res = connected_components(g, max_iter=args.iters, metrics=metrics,
                                   runner=runner,
                                   broadcast_max_vertices=args.broadcast_max_vertices)
    elif args.algo == "labelprop":
        res = label_propagation(g, n_rounds=args.iters, metrics=metrics,
                                runner=runner,
                                broadcast_max_vertices=args.broadcast_max_vertices)
    else:  # triangles: one-shot (no supersteps) -- eps = edges / wall
        res = triangles_per_vertex(g)
    res = res.persist()
    nrows = res.count()
    t_loop = time.perf_counter() - t1

    if args.output:
        res.write.mode("overwrite").parquet(args.output)

    supersteps = (1 if args.algo == "triangles"
                  else len(metrics) if metrics else args.iters)
    eps = nedges * supersteps / t_loop if t_loop > 0 else 0.0
    # per-superstep walls from the metrics timestamps; the MEDIAN is the
    # steady-state number (robust against host steal-time bursts and
    # first-iteration JIT warmup, both of which inflate the mean)
    stamps = [m["t"] for m in metrics if "t" in m]
    walls = [round(b - a, 3) for a, b in zip(stamps, stamps[1:])]
    med = sorted(walls)[len(walls) // 2] if walls else None
    out = {
        "algo": args.algo,
        "graph": args.graph,
        "edges": nedges,
        "result_rows": nrows,
        "supersteps": supersteps,
        "build_s": round(t_build, 3),
        "loop_s": round(t_loop, 3),
        "eps_per_superstep": round(eps, 1),
        "superstep_walls": walls,
        "median_superstep_s": med,
        "eps_median": round(nedges / med, 1) if med else None,
        "parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": shuffle_n,
    }
    dir_bytes = [m["local_dir_bytes"] for m in metrics
                 if isinstance(m, dict) and "local_dir_bytes" in m]
    if dir_bytes:
        out["local_dir_bytes"] = dir_bytes
        out["bytes_per_superstep"] = [
            b - a for a, b in zip(dir_bytes, dir_bytes[1:])]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
