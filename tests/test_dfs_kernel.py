"""Parity of the C DFS-claiming kernel with its pure-Python twin.

The sweep is the engine's one sequential step (exact-order contract;
see crawler_spark/core/dfs_kernel.py) — these tests pin the compiled
kernel to the Python reference on randomized graphs so the fast path
can never drift. Dense-id contract: nodes are 0..n_nodes-1, dead
edges carry child id -1. The connected-components union-find in the
same library is pinned the same way, against its Python twin and an
independent reference. Only the memory-guard test starts Spark.
"""

from __future__ import annotations

import numpy as np
import pytest

from crawler_spark.core.dfs_kernel import sweep_c, sweep_py


def _random_skeleton(rng, n_nodes, n_edges, n_seeds, dead_frac=0.1):
    """Random (parent, link_index, child) skeleton in CSR form over
    dense ids 0..n_nodes-1; dead_frac of edges point outside the node
    table (child id -1)."""
    p = rng.integers(0, n_nodes, n_edges).astype(np.int32)
    c = rng.integers(0, n_nodes, n_edges).astype(np.int32)
    c[rng.random(n_edges) < dead_frac] = -1
    i = rng.integers(0, 50, n_edges).astype(np.int32)
    order = np.lexsort((i, p))
    p, i, c = p[order], i[order], c[order]
    uniq_p, starts = np.unique(p, return_index=True)
    bounds = np.append(starts, len(p)).astype(np.int64)
    seeds = rng.integers(0, n_nodes, n_seeds).astype(np.int32)
    return c, i, uniq_p, bounds, seeds, n_nodes


def _assert_same(res_a, res_b):
    na, ha, da, pa_, la = res_a
    nb, hb, db, pb, lb = res_b
    assert na == nb
    np.testing.assert_array_equal(ha, hb)
    np.testing.assert_array_equal(da, db)
    np.testing.assert_array_equal(pa_, pb)
    np.testing.assert_array_equal(la, lb)


@pytest.fixture(scope="module")
def c_available():
    c, i, up, b, s, nn = _random_skeleton(
        np.random.default_rng(0), 10, 20, 2)
    if sweep_c(c, i, up, b, s, nn, 3) is None:
        pytest.skip("no C toolchain in this environment")


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_c_matches_python_random(c_available, seed):
    rng = np.random.default_rng(seed)
    c, i, up, b, s, nn = _random_skeleton(
        rng, n_nodes=400, n_edges=3000, n_seeds=5)
    for maxd in (0, 1, 3, 8):
        _assert_same(sweep_c(c, i, up, b, s, nn, maxd),
                     sweep_py(c, i, up, b, s, nn, maxd))


def test_c_matches_python_dense(c_available):
    # dense graph: heavy already-claimed skipping + duplicate edges
    rng = np.random.default_rng(99)
    c, i, up, b, s, nn = _random_skeleton(
        rng, n_nodes=50, n_edges=5000, n_seeds=50)
    _assert_same(sweep_c(c, i, up, b, s, nn, 6),
                 sweep_py(c, i, up, b, s, nn, 6))


def test_python_semantics_tiny():
    # hand-checked DFS preorder with claim-at-pop: seed 1 visits
    # 1 → 2 (li 0) → 3 (li 0, via 2) → 4; 3 NOT re-claimed via
    # 1's li=1 edge; second seed 2 already claimed.
    #   1 -(0)-> 2, 1 -(1)-> 3, 2 -(0)-> 3, 3 -(0)-> 4
    p = np.array([1, 1, 2, 3], np.int32)
    i = np.array([0, 1, 0, 0], np.int32)
    c = np.array([2, 3, 3, 4], np.int32)
    order = np.lexsort((i, p))
    uniq_p, starts = np.unique(p[order], return_index=True)
    bounds = np.append(starts, len(p)).astype(np.int64)
    n, h, d, pr, li = sweep_py(c[order], i[order], uniq_p, bounds,
                               np.array([1, 2], np.int32), 5, 8)
    assert h.tolist() == [1, 2, 3, 4]
    assert d.tolist() == [0, 1, 2, 3]
    assert pr.tolist() == [-1, 0, 1, 2]
    assert li.tolist() == [-1, 0, 0, 0]


def test_depth_cap_claims_but_does_not_expand():
    # at max_depth the node is claimed but its children are not pushed
    p = np.array([1, 2], np.int32)
    i = np.array([0, 0], np.int32)
    c = np.array([2, 3], np.int32)
    uniq_p, starts = np.unique(p, return_index=True)
    bounds = np.append(starts, len(p)).astype(np.int64)
    n, h, d, pr, li = sweep_py(c, i, uniq_p, bounds,
                               np.array([1], np.int32), 4, 1)
    assert h.tolist() == [1, 2]  # 3 is beyond the depth cap


def test_kernel_allocation_failure_raises(monkeypatch):
    """A C kernel that cannot allocate raises MemoryError instead of
    falling back to the Python twin, which is ~50x slower and keeps a
    dict entry per node — the worst path to take when memory is
    short. None from sweep_c keeps meaning only "no C toolchain"."""
    import crawler_spark.core.dfs_kernel as dk

    class _FailingLib:
        @staticmethod
        def dfs_sweep_dense(*_args):
            return -1

    monkeypatch.setattr(dk, "_load_lib", lambda: _FailingLib)
    c, i, up, b, s, nn = _random_skeleton(
        np.random.default_rng(5), 40, 200, 3)
    with pytest.raises(MemoryError, match="allocation failure"):
        dk.sweep(c, i, up, b, s, nn, 3)


def test_dead_edges_skipped():
    # id -1 children (outside the node table) are never claimed
    p = np.array([0, 0], np.int32)
    i = np.array([0, 1], np.int32)
    c = np.array([-1, 1], np.int32)
    uniq_p = np.array([0], np.int32)
    bounds = np.array([0, 2], np.int64)
    n, h, d, pr, li = sweep_py(c, i, uniq_p, bounds,
                               np.array([0], np.int32), 2, 8)
    assert h.tolist() == [0, 1]
    assert li.tolist() == [-1, 1]


def test_csr_runlength_matches_numpy():
    import numpy as np

    from crawler_spark.core.dfs_kernel import _load_lib, csr_runlength

    rng = np.random.default_rng(7)
    # parent-contiguous column with variable run lengths, incl. runs
    # of 1 and a repeat of an earlier id later (distinct runs)
    p = np.repeat(rng.integers(0, 500, 200).astype(np.int32),
                  rng.integers(1, 9, 200))
    uniq, bounds = csr_runlength(p)
    brk = np.flatnonzero(p[1:] != p[:-1]) + 1
    starts = np.concatenate(([0], brk))
    assert (uniq == p[starts]).all()
    assert (bounds == np.append(starts, len(p))).all()
    assert bounds.dtype == np.int64 and uniq.dtype == np.int32
    # reconstruction: every run spans a constant id
    for j in range(len(uniq)):
        assert (p[bounds[j]:bounds[j + 1]] == uniq[j]).all()
    # empty input
    u0, b0 = csr_runlength(np.empty(0, np.int32))
    assert len(u0) == 0 and list(b0) == [0]
    # the C path must actually be exercised in this environment
    assert _load_lib() is not None


@pytest.mark.parametrize("seed", [3, 4, 5])
def test_emit_prios_c_matches_numpy_twin(seed):
    """The C one-pass prio emitter and the vectorized numpy twin build
    byte-identical (offsets, data) blobs on random claim forests, and
    both reproduce the direct per-row reference build."""
    import crawler_spark.core.dfs_kernel as dk

    rng = np.random.default_rng(seed)
    n = 5000
    depth = rng.choice(np.arange(7), n,
                       p=[.05, .1, .2, .25, .2, .12, .08]).astype(np.int32)
    depth.sort()
    depth[0] = 0
    by_d = {d: np.flatnonzero(depth == d) for d in range(7)}
    parent_rank = np.full(n, -1, np.int64)
    for d in range(1, 7):
        rows, parents = by_d[d], by_d[d - 1]
        if not len(rows) or not len(parents):
            continue
        parent_rank[rows] = parents[
            (rng.random(len(rows)) * len(parents)).astype(np.int64)]
    li = rng.integers(0, 40, n).astype(np.int32)
    srows = np.flatnonzero(parent_rank < 0)
    seed_prio = rng.integers(97, 103, 4 * len(srows)).astype(np.uint8)
    seed_ord = np.zeros(n, np.int32)
    seed_ord[srows] = np.arange(len(srows), dtype=np.int32)

    assert dk._load_lib() is not None  # the C path must exist here
    off_c, data_c = dk.emit_prios(depth, parent_rank, li, seed_prio,
                                  seed_ord)
    # force the numpy twin
    saved, saved_tried = dk._lib, dk._lib_tried
    dk._lib, dk._lib_tried = None, True
    try:
        off_np, data_np = dk.emit_prios(depth, parent_rank, li, seed_prio,
                                        seed_ord)
        # a parent that is not an earlier row fails loud in the twin
        bad = parent_rank.copy()
        bad[n - 2] = n - 1
        with pytest.raises(ValueError, match=f"claim row {n - 2}"):
            dk.emit_prios(depth, bad, li, seed_prio, seed_ord)
    finally:
        dk._lib, dk._lib_tried = saved, saved_tried
    assert np.array_equal(off_c, off_np)
    assert np.array_equal(data_c, data_np)
    with pytest.raises(ValueError, match=f"claim row {n - 2}"):
        dk.emit_prios(depth, bad, li, seed_prio, seed_ord)

    # per-row reference: prio = prio(parent) ++ hex4(li), seeds copy
    # their 4-byte seed prio
    prios = [None] * n
    for r in range(n):
        if parent_rank[r] < 0:
            prios[r] = bytes(seed_prio[4 * seed_ord[r]:
                                       4 * seed_ord[r] + 4])
        else:
            p = int(parent_rank[r])
            prios[r] = prios[p] + f"{int(li[r]):04x}".encode()
        got = bytes(data_c[off_c[r]:off_c[r + 1]])
        assert got == prios[r], r

    # empty batch
    off0, data0 = dk.emit_prios(np.empty(0, np.int32),
                                np.empty(0, np.int64),
                                np.empty(0, np.int32),
                                np.zeros(4, np.uint8),
                                np.empty(0, np.int32))
    assert list(off0) == [0] and len(data0) == 0


def _uf_reference(pairs, nodes):
    """Dict union-find labelling every node with its component min."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {x: find(x) for x in nodes}


def _random_pairs(rng, n_nodes, n_pairs):
    """Random undirected pairs over the lower half of the id space, so
    the upper half are singletons; includes self-pairs and repeats."""
    a = rng.integers(0, n_nodes // 2, n_pairs).astype(np.int32)
    b = rng.integers(0, n_nodes // 2, n_pairs).astype(np.int32)
    return a, b


def _shuffled_chain(rng, n_nodes):
    """One path through all ids in random order: the shape that makes
    min-label propagation take thousands of rounds."""
    order = rng.permutation(n_nodes).astype(np.int32)
    return order[:-1], order[1:]


@pytest.mark.parametrize("shape,n_nodes,n_pairs", [
    ("random", 50, 30), ("random", 2000, 1500), ("random", 2000, 6000),
    ("chain", 100_000, None)])
def test_union_find_matches_twin_and_reference(shape, n_nodes, n_pairs):
    from crawler_spark.core.dfs_kernel import (_load_lib, components_c,
                                               components_py)

    assert _load_lib() is not None  # the C path must exist here
    rng = np.random.default_rng(n_nodes + (n_pairs or 0))
    if shape == "chain":
        a, b = _shuffled_chain(rng, n_nodes)
    else:
        a, b = _random_pairs(rng, n_nodes, n_pairs)
    got_c = components_c(a, b, n_nodes)
    got_py = components_py(a, b, n_nodes)
    exp = _uf_reference(zip(a.tolist(), b.tolist()), range(n_nodes))
    assert got_c.dtype == np.int32
    np.testing.assert_array_equal(got_c, got_py)
    assert got_c.tolist() == [exp[i] for i in range(n_nodes)]
    if shape == "chain":
        assert (got_c == 0).all()
    else:
        assert (got_c[n_nodes // 2:] == np.arange(n_nodes // 2, n_nodes)).all()


def test_min_labels_string_ids():
    """The driver encode keeps the order of string ids, so every label
    is the component's smallest string, as Spark's min compares it."""
    from crawler_spark.operators.cluster import _min_labels

    rng = np.random.default_rng(21)
    words = np.array([f"{int(v):x}" for v in
                      rng.integers(0, 1 << 40, 600)], dtype=object)
    a = words[rng.integers(0, 300, 400)]
    b = words[rng.integers(0, 300, 400)]
    uniq, canon = _min_labels(a, b)
    exp = _uf_reference(zip(a.tolist(), b.tolist()),
                        set(a.tolist()) | set(b.tolist()))
    assert dict(zip(uniq.tolist(), canon.tolist())) == exp
    assert len(set(exp.values())) < len(exp)  # some real merging


def test_union_find_allocation_failure_raises(monkeypatch):
    """As for the sweep: a union-find that cannot allocate raises
    MemoryError instead of running the Python twin."""
    import crawler_spark.core.dfs_kernel as dk

    class _FailingLib:
        @staticmethod
        def uf_components(*_args):
            return -1

    monkeypatch.setattr(dk, "_load_lib", lambda: _FailingLib)
    a, b = _random_pairs(np.random.default_rng(6), 40, 30)
    with pytest.raises(MemoryError, match="allocation failure"):
        dk.components(a, b, 40)


def test_cc_memory_guard_fails_before_read(spark, monkeypatch):
    """connected_components checks the pair count from the parquet
    footers against the driver's available memory and raises
    SkeletonMemoryError before any pair is read."""
    from crawler_spark.core import skeleton
    from crawler_spark.operators.cluster import connected_components

    reads = []
    monkeypatch.setattr(skeleton, "_mem_available", lambda: 1024)
    monkeypatch.setattr(skeleton, "_read_parquet_dir",
                        lambda *a: reads.append(a))
    ids = spark.createDataFrame([(i,) for i in range(40)], "node long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "id_a long, id_b long")
    with pytest.raises(skeleton.SkeletonMemoryError,
                       match="connected components of 30 pairs"):
        connected_components(ids, pairs, "node")
    assert reads == []
