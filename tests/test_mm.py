"""Matrix Market I/O + golden cross-checks against the reference's own
bundled test vectors (/root/reference is read-only input data here).

The strongest external correctness signal available to this project:
3DSpGEMM/matlab/C.mtx is the reference-bundled product of
bcsstk01.mtx with itself (multwrite.m: C = A * B via MATLAB sparse) —
our distributed SpGEMM must reproduce it entry-for-entry.
"""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import df_edges
from combblas_spark.sources.mm import read_mm, write_mm
from combblas_spark.operators.spgemm import spgemm

REF = "/root/reference"
BCSSTK = f"{REF}/3DSpGEMM/matlab/bcsstk01.mtx"
GOLDEN_C = f"{REF}/3DSpGEMM/matlab/C.mtx"
SEVEN = f"{REF}/ReleaseTests/sevenvertex.mtx"
SMALL_NONSYM = f"{REF}/ReleaseTests/small_nonsym.mtx"


@pytest.mark.skipif(not os.path.exists(BCSSTK), reason="reference data absent")
def test_mm_golden_spgemm_bcsstk01(spark):
    """spgemm(A, A) must match the reference-bundled golden product
    C.mtx: identical nonzero pattern, relative error < 1e-9."""
    A, m, n = read_mm(spark, BCSSTK)
    assert (m, n) == (48, 48)
    C, cm, cn = read_mm(spark, GOLDEN_C)
    assert (cm, cn) == (48, 48)

    P = spgemm(A, A)
    joined = (
        P.withColumnRenamed("val", "p")
        .join(C.withColumnRenamed("val", "c"), ["src", "dst"], "full_outer")
        .select("src", "dst", "p", "c")
    )
    missing = joined.filter(F.col("p").isNull() | F.col("c").isNull()).count()
    assert missing == 0  # identical nonzero pattern
    max_rel = joined.agg(F.max(
        F.abs(F.col("p") - F.col("c"))
        / F.greatest(F.abs(F.col("c")), F.lit(1.0))
    ).alias("e")).collect()[0]["e"]
    assert max_rel < 1e-9


@pytest.mark.skipif(not os.path.exists(SEVEN), reason="reference data absent")
def test_mm_read_sevenvertex(spark):
    e, m, n = read_mm(spark, SEVEN)
    assert (m, n) == (7, 7)
    rows = {(r["src"], r["dst"]): r["val"] for r in e.collect()}
    assert len(rows) == 12
    assert rows[(3, 5)] == pytest.approx(0.34)   # "4 6 0.34", 0-based
    assert rows[(0, 6)] == pytest.approx(2.15)


@pytest.mark.skipif(not os.path.exists(SMALL_NONSYM), reason="reference data absent")
def test_mm_read_headerless(spark):
    """ReleaseTests/small_nonsym.mtx has no %%MatrixMarket banner —
    first line is the size line."""
    e, m, n = read_mm(spark, SMALL_NONSYM)
    assert (m, n) == (9, 9)
    got = e.collect()
    assert len(got) == 19
    assert all(r["val"] == 1.0 for r in got)


def test_mm_symmetric_expansion(spark, tmp_path):
    p = tmp_path / "sym.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real symmetric\n"
        "% comment line\n"
        "3 3 3\n"
        "1 1 5.0\n"
        "2 1 1.5\n"
        "3 2 2.5\n"
    )
    e, m, n = read_mm(spark, str(p))
    rows = {(r["src"], r["dst"]): r["val"] for r in e.collect()}
    assert rows == {(0, 0): 5.0, (1, 0): 1.5, (0, 1): 1.5,
                    (2, 1): 2.5, (1, 2): 2.5}


def test_mm_pattern_field(spark, tmp_path):
    p = tmp_path / "pat.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate pattern general\n"
        "2 2 2\n1 2\n2 1\n"
    )
    e, m, n = read_mm(spark, str(p))
    rows = {(r["src"], r["dst"]): r["val"] for r in e.collect()}
    assert rows == {(0, 1): 1.0, (1, 0): 1.0}


def test_mm_roundtrip(spark, tmp_path):
    """write_mm -> read_mm is the identity on triples (ParallelWriteMM /
    ParallelReadMM round-trip, ReadWriteMtx.cpp analogue)."""
    from combblas_spark.graph import events_graph

    g = events_graph(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "g.mtx")
    write_mm(g, out, comment=" engine round-trip")
    back, m, n = read_mm(spark, out)
    a = {(r["src"], r["dst"], r["val"]) for r in g.collect()}
    b = {(r["src"], r["dst"], r["val"]) for r in back.collect()}
    assert a == b
    # file is globally (src, dst)-ordered after the header
    lines = open(out).read().splitlines()
    assert lines[0].startswith("%%MatrixMarket")
    data = [tuple(map(float, ln.split()[:2])) for ln in lines[3:]]
    assert data == sorted(data)


@pytest.mark.skipif(not os.path.exists(BCSSTK), reason="reference data absent")
def test_rcm_reduces_bandwidth_on_bcsstk01(spark):
    """RCM-style ordering must substantially reduce the bandwidth of the
    reference-bundled bcsstk01 stiffness matrix (the operator's whole
    purpose; RCM.cpp's own demo workload)."""
    from combblas_spark.algorithms.ordering import rcm_ordering
    from combblas_spark.operators.indexing import subsref
    from combblas_spark.operators.reduce import bandwidth

    A, m, n = read_mm(spark, BCSSTK)
    before = bandwidth(A)
    assert before == 35
    perm = rcm_ordering(A)
    assert perm.count() == 48          # connected: all vertices ordered
    relabeled = subsref(A, perm, perm)
    after = bandwidth(relabeled)
    # matches a sequential Cuthill-McKee oracle on this matrix (27)
    assert after < before
    assert after <= 28


def test_rcm_known_path(spark):
    """A path graph ordered from one end gets consecutive positions —
    bandwidth 1 (the optimal ordering)."""
    from combblas_spark.algorithms.ordering import rcm_ordering
    from combblas_spark.operators.indexing import subsref
    from combblas_spark.operators.reduce import bandwidth

    import pyspark.sql.functions as F
    # scrambled path: ids not contiguous
    ids = [0, 7, 3, 9, 4, 8, 2]
    tr = [(ids[i], ids[i+1], 1.0) for i in range(len(ids)-1)]
    g = spark.createDataFrame(tr, "src long, dst long, val double")
    perm = rcm_ordering(g, root=0)
    relabeled = subsref(g, perm, perm)
    assert bandwidth(relabeled) == 1


def test_vector_io_roundtrip(spark, tmp_path):
    """read_vec/write_vec: FullyDistVec ParallelRead/Write analogue
    (VectorIO.cpp) — round-trip identity + duplicate combining."""
    from combblas_spark.sources.mm import read_vec, write_vec

    v = spark.createDataFrame(
        [(i, float(i * i % 7)) for i in range(40)], "id long, val double")
    out = str(tmp_path / "v.txt")
    write_vec(v, out, base=1)
    back = read_vec(spark, out, base=1)
    assert {(r["id"], r["val"]) for r in back.collect()} == \
           {(r["id"], r["val"]) for r in v.collect()}
    # duplicate indices combined with max (reference keeps the larger)
    p = tmp_path / "dups.txt"
    p.write_text("1 5.0\n1 9.0\n2 3.0\n")
    got = {r["id"]: r["val"] for r in read_vec(spark, str(p), base=1).collect()}
    assert got == {0: 9.0, 1: 3.0}


# ------------------------------------------------- binary triples interchange

def test_bin_roundtrip(spark, tmp_path):
    """write_bin -> read_bin is lossless (HKDT header, 1-based indices,
    IEEE doubles) — ParallelBinaryWrite/binary-ReadDistribute analogue
    (SpParMat.cpp:620, SpParMat.cpp:4224)."""
    from combblas_spark.sources.bin import read_bin, write_bin

    e = df_edges(spark, [(0, 1, 2.5), (3, 0, -1.0), (7, 7, 0.125),
                         (2, 5, 1e-9), (5, 2, 3.0)])
    p = str(tmp_path / "t.bin")
    write_bin(e, p)
    back, m, n = read_bin(spark, p)
    assert (m, n) == (8, 8)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))


def test_bin_header_matches_reference_layout(spark, tmp_path):
    """Byte-level header check against FileHeader.h:52 (ParseHeader):
    'HKDT' + version=2, objsize=8, format=0, m, n, nnz as LE uint64."""
    import struct

    from combblas_spark.sources.bin import write_bin

    e = df_edges(spark, [(0, 1, 1.0), (1, 2, 2.0)])
    p = str(tmp_path / "h.bin")
    write_bin(e, p)
    with open(p, "rb") as fh:
        assert fh.read(4) == b"HKDT"
        version, objsize, fmt, m, n, nnz = struct.unpack("<6Q", fh.read(48))
    assert (version, objsize, fmt) == (2, 8, 0)
    assert (m, n, nnz) == (2, 3, 2)
    import os
    assert os.path.getsize(p) == 52 + nnz * 24


def test_bin_read_partition_invariant(spark, tmp_path):
    """Decoding in 1 vs 7 partitions yields the same triples (record
    ranges are contiguous per batch; no boundary effects)."""
    from combblas_spark.sources.bin import read_bin, write_bin

    e = df_edges(spark, [(i, (i * 3) % 11, float(i)) for i in range(50)])
    p = str(tmp_path / "p.bin")
    write_bin(e, p)
    a, _, _ = read_bin(spark, p, num_partitions=1)
    b, _, _ = read_bin(spark, p, num_partitions=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bin_mtx_cross_format(spark, tmp_path):
    """.mtx -> write_bin -> read_bin equals the original .mtx triples
    (binary interchange for existing CombBLAS datasets, Mtx2Bin.cpp)."""
    from combblas_spark.sources.bin import read_bin, write_bin

    triples = [(0, 1, 1.0), (0, 3, 2.5), (1, 4, -1.0), (1, 6, 0.5),
               (2, 5, 3.0), (3, 0, 1.0), (3, 2, 4.0), (4, 5, 0.25),
               (5, 2, 1.5), (6, 3, 2.0), (6, 6, 7.0)]
    mtx = str(tmp_path / "seven.mtx")
    write_mm(df_edges(spark, triples), mtx, nrows=7, ncols=7)
    e, m, n = read_mm(spark, mtx)
    assert (m, n) == (7, 7)
    assert sorted(map(tuple, e.collect())) == triples
    p = str(tmp_path / "x.bin")
    write_bin(e, p, nrows=m, ncols=n)
    back, bm, bn = read_bin(spark, p)
    assert (bm, bn) == (m, n)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))


@pytest.mark.skipif(not os.path.exists(BCSSTK), reason="reference data absent")
def test_min_degree_reduces_fill_on_bcsstk01(spark):
    """Minimum-degree ordering must reduce Cholesky symbolic fill on the
    reference-bundled bcsstk01 matrix (MD.cpp's purpose) vs the natural
    order. Fill counted by a sequential elimination oracle."""
    from combblas_spark.algorithms.ordering import min_degree_ordering

    A, m, n = read_mm(spark, BCSSTK)

    adj0 = {}
    for r in A.select("src", "dst").filter("src <> dst").distinct().collect():
        adj0.setdefault(r["src"], set()).add(r["dst"])
        adj0.setdefault(r["dst"], set()).add(r["src"])

    def fill_count(order):
        adj = {v: set(s) for v, s in adj0.items()}
        fill = 0
        for v in order:
            nbrs = adj.pop(v, set())
            for u in nbrs:
                adj[u].discard(v)
            nbrs = [u for u in nbrs if u in adj]
            for i, u in enumerate(nbrs):
                for w in nbrs[i + 1:]:
                    if w not in adj[u]:
                        adj[u].add(w)
                        adj[w].add(u)
                        fill += 1
        return fill

    perm = min_degree_ordering(A)
    md_order = [r["id"] for r in perm.orderBy("pos").collect()]
    assert sorted(md_order) == sorted(adj0)          # permutation of all vertices
    natural = sorted(adj0)
    md_fill, nat_fill = fill_count(md_order), fill_count(natural)
    assert md_fill < nat_fill                        # strictly fill-reducing
    assert md_fill <= 0.8 * nat_fill                 # and substantially so


def test_bin_sharded_write_read(spark, tmp_path):
    """Sharded writer: executors write part shards + header + manifest;
    concat reproduces the single-file bytes EXACTLY; read_bin on the
    directory returns the same triples (VERDICT r3 #7)."""
    from combblas_spark.sources.bin import (
        concat_shards, read_bin, write_bin, write_bin_sharded)

    E = [(i % 37, (i * 11) % 29, float(i) + 0.5) for i in range(500)]
    g = spark.createDataFrame(E, "src long, dst long, val double") \
        .repartition(6)
    single = str(tmp_path / "single.bin")
    write_bin(g, single)
    shard_dir = str(tmp_path / "sharded")
    man = write_bin_sharded(g, shard_dir)
    assert man["nnz"] == 500 and len(man["parts"]) >= 1
    # byte identity via concat
    cat = str(tmp_path / "cat.bin")
    concat_shards(shard_dir, cat)
    assert open(single, "rb").read() == open(cat, "rb").read()
    # direct sharded read, no concat
    df, m, n = read_bin(spark, shard_dir)
    got = {(r["src"], r["dst"], r["val"]) for r in df.collect()}
    assert got == set(E) and (m, n) == (37, 29)
    # driver-streamed single-file path (no shared FS needed): same bytes
    via = str(tmp_path / "via_driver.bin")
    write_bin(g, via, via_driver=True)
    assert open(single, "rb").read() == open(via, "rb").read()
