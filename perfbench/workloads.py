"""The benchmark's workloads.

Each workload has ``setup`` (input generation and persist, repeated on a
fresh session to take its median), ``warmup`` (each graph code path once
on the real inputs, with few supersteps: the first call of a kind in a
process runs up to half again as long as later ones, and that belongs in
``setup_s``, not in the timed calls), ``round`` (the timed calls into the
package, then untimed oracle checks) and, for the traced run, ``probe``
(extra per-layer measurements that are not part of a round). Inputs are
a pure function of the seed; the expected outputs are computed once by
``expect``, without Spark, and every round is checked against them.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

import oracles
from harness import Ledger, Samples, Tracer

ALPHA = 0.85
TOL = 1e-8
N_SITES = 10  # generate_pages' default: page p lives at https://site{p % 10}.example/p/{p}


def _add_supersteps(s: Samples, metrics: list[dict], edges: int, t_end: float) -> None:
    """pagerank_eps (edges over the median superstep interval) and the
    superstep records of one PageRank call that returned at ``t_end``.
    Superstep 0 has no interval of its own (it ends the call's set-up), so
    ``supersteps_s`` counts it at the median; ``finish_s`` is the rest of
    the call after the last superstep."""
    stamps = [m["t"] for m in metrics if "t" in m]
    steps = [b - a for a, b in zip(stamps, stamps[1:])]
    med = statistics.median(steps)
    s.add("pagerank_eps", edges / med)
    s.add("algorithms.pagerank.supersteps", len(metrics))
    s.add("algorithms.pagerank.supersteps_s", sum(steps) + med)
    s.add("algorithms.pagerank.finish_s", t_end - stamps[-1])
    s.extend("superstep_s", steps)


def _ranks(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas().sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf["rank"].to_numpy(np.float64)


def _comps(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas().sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf["comp"].to_numpy(np.int64)


def _same_ranks(got, want) -> bool:
    return np.array_equal(got[0], want[0]) and np.allclose(got[1], want[1], rtol=1e-6, atol=1e-12)


def _same_comps(got, want) -> bool:
    return np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])


def _probe_pagerank(tr: Tracer, s: Samples, g, **kwargs) -> None:
    """The set-up of a PageRank call, on its own: an ``n_iter=0`` call."""
    from combblas_spark.algorithms.pagerank import pagerank

    with tr.span("algorithms.pagerank") as t:
        pagerank(g, alpha=ALPHA, n_iter=0, **kwargs).count()
    s.add("algorithms.pagerank.setup_s", t.s)


def _numpy_pagerank(s: Samples, src, dst, n_iter):
    """The oracle ranks, timed once as the single-threaded COST baseline."""
    t0 = time.perf_counter()
    ids, ranks, steps = oracles.pagerank(src, dst, ALPHA, n_iter=n_iter, tol=TOL)
    s.add("baseline.numpy_pagerank_s", time.perf_counter() - t0)
    return (ids, ranks), steps


class Rmat:
    """RMAT scale 17, edge factor 4: PageRank to tolerance, then FastSV CC.

    About 509k edges over about 64k non-isolated vertices. The calls pass
    ``small_vector_threshold=0``, so PageRank and CC keep their vectors
    hash-partitioned at shuffle width and broadcast the rank vector: the
    plans a graph past the default threshold gets, at a size whose run
    stays near a minute on a four-core host.
    """

    name = "rmat"
    scale = 17
    edgefactor = 4
    vector_threshold = 0
    warmup_supersteps = 1
    builds = 3  # build_s is the median of this many builds per round

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.expected = None

    def setup(self, spark, tr: Tracer) -> None:
        from combblas_spark.sources.rmat import rmat_edges

        with tr.span("sources.rmat"):
            self.raw = rmat_edges(spark, self.scale, self.edgefactor, seed=self.seed).persist()
            self.raw.count()

    def warmup(self, spark, tr: Tracer) -> None:
        """Graph build and the PageRank superstep loop, on the real edges."""
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.graph import build_graph

        with tr.span("graph"):
            g = build_graph(self.raw).persist()
            g.count()
        with tr.span("algorithms.pagerank"):
            pagerank(g, alpha=ALPHA, tol=TOL, max_iter=self.warmup_supersteps,
                     small_vector_threshold=self.vector_threshold).count()
        g.unpersist()

    def expect(self, s: Samples) -> None:
        from combblas_spark.sources.rmat import rmat_pandas

        ids = np.arange(self.edgefactor << self.scale, dtype=np.int64)
        src, dst = oracles.dedup_edges(*rmat_pandas(ids, self.scale, self.seed))
        ranks, steps = _numpy_pagerank(s, src, dst, None)
        self.expected = {"edges": src.size, "ranks": ranks, "supersteps": steps,
                         "comps": oracles.components(src, dst)}

    def round(self, spark, tr: Tracer, s: Samples, ledger: Ledger) -> None:
        from combblas_spark.algorithms.components import connected_components
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.graph import build_graph

        ledger.attempted += 2 + self.builds
        builds = []
        for _ in range(self.builds):
            with tr.span("graph") as t_build:
                g = build_graph(self.raw).persist()
                m = g.count()
            builds.append(t_build.s)
            s.add("build_s", t_build.s)
            if len(builds) < self.builds:
                g.unpersist()
        pm: list = []
        with tr.span("algorithms.pagerank") as t_pr:
            ranks = pagerank(g, alpha=ALPHA, tol=TOL, metrics=pm,
                             small_vector_threshold=self.vector_threshold)
            ranks.count()
        pr_end = time.perf_counter()
        cm: list = []
        with tr.span("algorithms.components") as t_cc:
            comp = connected_components(g, metrics=cm,
                                        small_vector_threshold=self.vector_threshold)
            comp.select("comp").distinct().count()
        s.add("pagerank_s", t_pr.s)
        _add_supersteps(s, pm, m, pr_end)
        s.add("cc_s", t_cc.s)
        s.add("algorithms.components.supersteps", len(cm))
        s.add("round_s", statistics.median(builds) + t_pr.s + t_cc.s)

        # ---- untimed oracle checks
        got_ranks, got_comp = _ranks(ranks), _comps(comp)
        g.unpersist()
        want = self.expected
        ledger.check("edge_count", m == want["edges"], f"{m} vs {want['edges']}")
        ledger.check("pagerank", _same_ranks(got_ranks, want["ranks"])
                     and len(pm) == want["supersteps"],
                     f"supersteps {len(pm)} vs {want['supersteps']}")
        ledger.check("components", _same_comps(got_comp, want["comps"]))

    def probe(self, spark, tr: Tracer, s: Samples) -> None:
        from combblas_spark.graph import build_graph

        g = build_graph(self.raw).persist()
        g.count()
        _probe_pagerank(tr, s, g, small_vector_threshold=self.vector_threshold)
        g.unpersist()


class CrawlSuite:
    """Synthetic crawl: pages -> Arrow-UDF link extraction -> URL
    dictionary -> graph, PageRank with durable checkpoints and a resume,
    CC, then the short queries (triangles, label propagation, SpGEMM on
    the link graph; exact dedup on a document table; embedding top-k).
    The link graph (about 5k vertices) keeps PageRank and CC in the
    coalesce(1) small-vector regime, so fixed per-job cost dominates.
    """

    name = "crawl_suite"
    n_pages = 5_000
    links_per_page = 4
    n_docs = 5_000
    n_vecs = 2_000
    n_queries = 50
    dim = 64
    # durable PageRank supersteps; the runner checkpoints durably at
    # superstep ckpt_every and at the end, and the resume starts from the
    # first durable checkpoint. One durable superstep in the middle keeps
    # the median superstep interval (pagerank_eps) on the plain ones.
    supersteps = 6
    ckpt_every = 5
    warmup_supersteps = 2

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.rounds = 0
        rng = np.random.default_rng(seed)
        vocab = np.array("batch part spark line column order small sort fast value scan "
                         "hash slow group agg filter query big key window row table stream "
                         "merge data a".split())
        texts = [" ".join(rng.choice(vocab, n)) for n in rng.integers(10, 101, self.n_docs)]
        for i in range(0, self.n_docs, 97):  # planted exact duplicates
            texts[i] = texts[(i * 7919 + 1) % self.n_docs]
        self.texts = texts
        v = rng.standard_normal((self.n_vecs, self.dim)).astype(np.float32)
        self.vecs = v / np.linalg.norm(v, axis=1, keepdims=True)

    # ------------------------------------------------------------ set-up
    def setup(self, spark, tr: Tracer) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from combblas_spark.sources.pages import generate_pages

        # Parquet pages stand in for the crawl table
        pages_dir = self.work / "pages"
        with tr.span("sources.pages"):
            generate_pages(spark, self.n_pages, out_links_per_page=self.links_per_page,
                           seed=self.seed).write.mode("overwrite").parquet(str(pages_dir))
        self.pages = spark.read.parquet(str(pages_dir))
        self.doc_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(self.n_docs), "text": self.texts})).persist()
        self.doc_df.count()
        self.emb = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(self.n_vecs), "embedding": list(self.vecs)}),
            "vec_id long, embedding array<float>").persist()
        self.emb.count()
        self.queries = self.emb.filter(F.col("vec_id") < self.n_queries)

    def warmup(self, spark, tr: Tracer) -> None:
        """Ingest and the durable superstep loop, on the real pages."""
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.graph import build_graph
        from combblas_spark.sources.pages import pages_to_edges

        ckpt = self.work / "ckpt-warmup"
        with tr.span("sources.pages"):
            edges, _ = pages_to_edges(self.pages)
            edges = edges.persist()
            edges.count()
        with tr.span("graph"):
            g = build_graph(edges).persist()
            g.count()
        with tr.span("algorithms.pagerank"):
            n = self.warmup_supersteps
            pagerank(g, alpha=ALPHA, n_iter=n, runner=self._runner(spark, ckpt, n)).count()
        g.unpersist()
        edges.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)

    # ------------------------------------------------------------- timed
    def _runner(self, spark, ckpt: Path, n_iter: int):
        from combblas_spark.runtime.superstep import SuperstepRunner

        return SuperstepRunner(spark, str(ckpt), "pagerank",
                               config={"alpha": ALPHA, "n_iter": n_iter}, every=self.ckpt_every)

    def _calls(self, spark, ckpt: Path, span) -> dict:
        """Every timed call of a round, each in a span of its layer."""
        from combblas_spark.algorithms.components import connected_components
        from combblas_spark.algorithms.labelprop import label_propagation
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.algorithms.triangles import triangle_count
        from combblas_spark.functions.dedup import exact_duplicates
        from combblas_spark.functions.similarity import brute_force_topk
        from combblas_spark.graph import build_graph
        from combblas_spark.operators.spgemm import spgemm
        from combblas_spark.sources.pages import pages_to_edges

        n = self.supersteps
        walls: dict = {}
        out: dict = {"walls": walls}
        with span("sources.pages") as t:
            edges, out["url_dict"] = pages_to_edges(self.pages)
            out["edge_df"] = edges = edges.persist()
            edges.count()
        walls["extract_s"] = t.s
        with span("graph") as t:
            out["g"] = g = build_graph(edges).persist()
            out["edges"] = g.count()
        walls["build_graph_s"] = t.s

        out["pr_metrics"] = pm = []
        with span("algorithms.pagerank") as t:
            ranks = pagerank(g, alpha=ALPHA, n_iter=n, metrics=pm,
                             runner=self._runner(spark, ckpt, n))
            ranks.count()
        out["pr_end"] = time.perf_counter()
        walls["pagerank_s"] = t.s
        # read before the resume below overwrites the last checkpoint
        out["ranks"] = _ranks(ranks)
        manifests = sorted(glob.glob(str(ckpt / "iter_*" / "manifest.json")))
        out["checkpoint_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(ckpt) for f in files if "/state" in d)
        # a crash after the first durable checkpoint leaves latest.json at
        # its manifest: rewind to that state and resume on a new runner
        shutil.copyfile(manifests[0], ckpt / "latest.json")
        with span("runtime.superstep") as t:
            resumed = pagerank(g, alpha=ALPHA, n_iter=n, runner=self._runner(spark, ckpt, n))
            resumed.count()
        walls["resume_s"] = t.s
        out["resumed"] = _ranks(resumed)

        out["cc_metrics"] = cm = []
        with span("algorithms.components") as t:
            comp = connected_components(g, metrics=cm)
            comp.select("comp").distinct().count()
        walls["cc_s"] = t.s
        out["comp"] = _comps(comp)

        with span("algorithms.triangles") as t:
            out["triangles"] = triangle_count(g)
        walls["triangles_s"] = t.s
        with span("algorithms.labelprop") as t:
            label_propagation(g, n_rounds=1).count()
        walls["labelprop_s"] = t.s
        with span("operators.spgemm") as t:
            spgemm(g, g).count()
        walls["spgemm_s"] = t.s
        with span("functions.dedup") as t:
            out["dup_groups"] = exact_duplicates(self.doc_df).count()
        walls["dedup_s"] = t.s
        with span("functions.similarity") as t:
            brute_force_topk(self.queries, self.emb, k=10).count()
        walls["topk_s"] = t.s
        return out

    def round(self, spark, tr: Tracer, s: Samples, ledger: Ledger) -> None:
        ckpt = self.work / f"ckpt-{self.rounds}"
        self.rounds += 1
        out = self._calls(spark, ckpt, tr.span)
        w = out["walls"]
        ledger.attempted += len(w)
        build = w["extract_s"] + w["build_graph_s"]
        s.add("build_s", build)
        s.add("ingest_pages_per_s", self.n_pages / build)
        s.add("pagerank_s", w["pagerank_s"])
        s.add("checkpointed_pagerank_s", w["pagerank_s"])
        _add_supersteps(s, out["pr_metrics"], out["edges"], out["pr_end"])
        s.add("resume_s", w["resume_s"])
        s.add("cc_s", w["cc_s"])
        s.add("algorithms.components.supersteps", len(out["cc_metrics"]))
        s.add("suite_s", sum(w[k] for k in ("triangles_s", "labelprop_s", "spgemm_s",
                                            "dedup_s", "topk_s")))
        s.add("round_s", sum(w.values()))
        for k, v in w.items():
            s.add(f"call.{k}", v)
        s.add("runtime.superstep.checkpoint_bytes", out["checkpoint_bytes"])
        out["g"].unpersist()
        out["edge_df"].unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)
        self._check(out, ledger)

    # ------------------------------------------------------------ oracle
    def expect(self, s: Samples) -> None:
        """Everything a round should return, computed in numpy and
        networkx from the same seed. The link list is the one
        generate_pages encodes in its html: out-links of page i are RMAT
        edges i*L .. i*L+L-1 mapped into the page range, without self
        links (FIXTURES.md section 1)."""
        from combblas_spark.sources.rmat import rmat_pandas

        L = self.links_per_page
        eids = np.arange(self.n_pages * L, dtype=np.int64)
        _, dst = rmat_pandas(eids, max(1, (self.n_pages - 1).bit_length()), self.seed)
        src, dst = oracles.dedup_edges(eids // L, dst % self.n_pages)
        # the dictionary gives dense ids in sorted-URL order
        pages = np.unique(np.concatenate([src, dst]))
        by_url = sorted((f"https://site{p % N_SITES}.example/p/{p}", p) for p in pages)
        dense = np.empty(self.n_pages, dtype=np.int64)
        dense[[p for _, p in by_url]] = np.arange(len(by_url))
        dsrc, ddst = dense[src], dense[dst]
        ranks, _ = _numpy_pagerank(s, dsrc, ddst, self.supersteps)
        self.expected = {
            "edges": src.size,
            "urls": [u for u, _ in by_url],
            "ranks": ranks,
            "comps": oracles.components(dsrc, ddst),
            "triangles": oracles.triangle_count(dsrc, ddst),
            "dup_groups": len({" ".join(t.lower().split()) for t in self.texts}),
        }

    def _check(self, out: dict, ledger: Ledger) -> None:
        from pyspark.sql import functions as F

        from combblas_spark.sources.pages import extract_text_udf

        d = out["url_dict"].toPandas().sort_values("id")
        labels = d["label"].tolist()
        want = self.expected
        ledger.check("edge_count", out["edges"] == want["edges"],
                     f"{out['edges']} vs {want['edges']}")
        ledger.check("url_dictionary",
                     d["id"].tolist() == list(range(len(labels))) and labels == want["urls"])
        ledger.check("pagerank", _same_ranks(out["ranks"], want["ranks"])
                     and len(out["pr_metrics"]) == self.supersteps)
        ranks, resumed = out["ranks"], out["resumed"]
        ledger.check("resume_bit_identical",
                     np.array_equal(ranks[0], resumed[0]) and np.array_equal(ranks[1], resumed[1]))
        ledger.check("components", _same_comps(out["comp"], want["comps"]))
        ledger.check("triangles", out["triangles"] == want["triangles"],
                     f"{out['triangles']} vs {want['triangles']}")
        ledger.check("dedup_groups", out["dup_groups"] == want["dup_groups"],
                     f"{out['dup_groups']} vs {want['dup_groups']}")
        if self.rounds == 1:
            # the text column holds reference_extract_text(html), the
            # pure-Python reference, computed when the pages were generated
            bad = self.pages.filter(extract_text_udf(F.col("html")) != F.col("text")).count()
            ledger.check("text_extraction", bad == 0, f"{bad} rows differ")

    def probe(self, spark, tr: Tracer, s: Samples) -> None:
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.graph import build_graph
        from combblas_spark.sources.pages import pages_to_edges

        edges, _ = pages_to_edges(self.pages)
        g = build_graph(edges).persist()
        g.count()
        _probe_pagerank(tr, s, g)
        ckpt = self.work / "ckpt-probe"
        n = self.supersteps
        pagerank(g, alpha=ALPHA, n_iter=n, runner=self._runner(spark, ckpt, n)).count()
        with tr.span("runtime.superstep") as t:
            _, state = self._runner(spark, ckpt, n).resume()
            state.count()
        s.add("runtime.superstep.resume_read_s", t.s)
        g.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Rmat, CrawlSuite)}
