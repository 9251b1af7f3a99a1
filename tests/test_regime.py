"""Forced-shuffle parity: with both regime thresholds at 0, every
algorithm that asks ``runtime.plans.regime()`` for its placement takes
its shuffle branch (vector shuffled to the edges, state hash-partitioned
at shuffle width). Placement must never change results, so each output
must equal the default-regime (broadcast, single-partition) output on
the same graph: ids and ints exact, floats within 1e-9."""

import math

import pytest
from pyspark.sql import DataFrame

from combblas_spark.algorithms.anf import anf_sketches, effective_diameter, hyperball_harmonic
from combblas_spark.algorithms.components import connected_components
from combblas_spark.algorithms.densest import densest_subgraph
from combblas_spark.algorithms.embeddings import fastrp
from combblas_spark.algorithms.hits import eigencentrality, hits, katz, salsa
from combblas_spark.algorithms.kcore import core_numbers, k_core, s_core
from combblas_spark.algorithms.labelprop import label_propagation
from combblas_spark.algorithms.pagerank import pagerank, pagerank_batch
from combblas_spark.algorithms.sssp import delta_stepping_sssp, sssp
from combblas_spark.graph import build_graph
from combblas_spark.runtime import plans
from combblas_spark.sources.rmat import rmat_edges

CASES = {
    "pagerank": lambda g: pagerank(g, n_iter=8),
    "pagerank_batch": lambda g: pagerank_batch(g, seeds=[0, 1], n_iter=5),
    "hits": lambda g: hits(g, n_iter=3),
    "katz": lambda g: katz(g, n_iter=3),
    "salsa": lambda g: salsa(g, n_iter=3),
    "eigencentrality": lambda g: eigencentrality(g, n_iter=4),
    "fastrp": lambda g: fastrp(g, d=4, n_iter=2),
    "anf_sketches": lambda g: anf_sketches(g, hops=2),
    "effective_diameter": lambda g: effective_diameter(g, k=4, max_hops=8),
    "hyperball_harmonic": lambda g: hyperball_harmonic(g, hops=2),
    "k_core": lambda g: k_core(g, 3),
    "s_core": lambda g: s_core(g, 6),
    "core_numbers": lambda g: core_numbers(g),
    "densest_subgraph": lambda g: densest_subgraph(g),
    "connected_components": lambda g: connected_components(g),
    "label_propagation": lambda g: label_propagation(g, n_rounds=3),
    "sssp": lambda g: sssp(g, root=0),
    "delta_stepping_sssp": lambda g: delta_stepping_sssp(g, root=0, delta=2.0),
}


@pytest.fixture(scope="module")
def rmat_graph(spark):
    g = build_graph(rmat_edges(spark, scale=6, edgefactor=4, seed=3)).persist()
    g.count()
    yield g
    g.unpersist()


def _rows(out):
    if isinstance(out, DataFrame):
        return sorted(tuple(r) for r in out.collect())
    # effective_diameter's dict: scalars plus the per-hop summaries
    return [out["effective_diameter"], out["hops_run"]] + [
        tuple(sorted(s.items())) for s in out["nf"]]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


@pytest.mark.parametrize("name", sorted(CASES))
def test_shuffle_regime_matches_default(spark, rmat_graph, monkeypatch, name):
    run = CASES[name]
    default = _rows(run(rmat_graph))
    assert default, "empty output makes the parity check vacuous"
    monkeypatch.setattr(plans, "BROADCAST_MAX_VERTICES", 0)
    monkeypatch.setattr(plans, "SMALL_VECTOR_THRESHOLD", 0)
    rg = plans.regime(1)
    assert not rg.broadcast and not rg.small
    forced = _rows(run(rmat_graph))
    assert _same(default, forced), name
