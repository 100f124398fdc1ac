"""Sequential exact-DFS claiming kernel (dense-id variant).

The reference's crawl order is sequential DFS preorder with the
URL-seen set claimed at schedule time
(/root/reference/lib/crawler/crawler-engine.ts:556,673-695) —
lexicographic-first claiming is P-complete, so this one step of the
engine is inherently a sequential sweep (everything expensive —
fetch, parse, canonicalize, admission — is distributed upstream; see
crawler_spark/engine/frontier.py).

Because it is the engine's only sequential constant, it must be as
small as possible: a scaling-efficiency measurement divides by it.
Nodes are DENSE int32 ids (the engine dictionary-encodes url-hashes
against a node table with distributed Spark joins before the sweep;
see engine/frontier.py:_resolve_skeleton). Dense ids turn the sweep's
two hash tables into direct-indexed arrays: the random-access working
set for N nodes is ~4.125N bytes (a 4 B/node CSR index + a 1-bit/node
claimed bitmap, mostly L3-resident) instead of the ~64N-byte
open-addressing walk of the round-1 kernel, which was memory-bound at
3-25 s per 10M edges. Ids are int32, so the kernel addresses fewer
than 2^31 nodes; the engine checks the node count against that
ceiling before it encodes or sweeps anything (engine/frontier.py:_node_offsets).

Two interchangeable implementations of the same sweep:

  * ``sweep_c`` — dependency-free C99, compiled on first use with the
    system C compiler into a content-addressed cache and loaded via
    ctypes. ~20 ns/edge.
  * ``sweep_py`` — pure-Python explicit-stack DFS, same contract.
    ~1 µs/edge. Always available; the unit tests pin the two equal.

``sweep()`` picks the C kernel when a compiler is present and falls
back silently otherwise. A C kernel that cannot allocate its state
raises MemoryError: falling back to the ~50x slower, dict-per-node
Python twin exactly when memory is short would only fail later.

The same kernel library holds the union-find that labels connected
components for near-duplicate clustering (operators/cluster.py):
``components_c`` in C and ``components_py`` in Python, pinned equal in
the unit tests; its C side also raises MemoryError when it cannot
allocate.

Sweep inputs (all numpy, C-contiguous):
  c_sorted  int32[n_edges]  child node-id, grouped by parent with each
                            parent's children in link order; -1 marks
                            a child outside the node table (dead edge
                            beyond the BFS depth cap — never claimable,
                            see frontier._resolve_skeleton)
  i_sorted  int32[n_edges]  link index, same order
  uniq_p    int32[m]        distinct parent ids (any order, no dups)
  starts    int64[m+1]      CSR bounds: children of uniq_p[j] are
                            rows starts[j]..starts[j+1]
  seeds     int32[s]        seed node-ids in seed-rank order
  n_nodes   int             id-space size
  max_depth int

Returns (n_claims, id, depth, parent_rank, li): parallel arrays in
exact visit order; parent_rank is the claiming parent's visit rank
(-1 for seeds).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

typedef struct { int32_t id; int32_t depth; int64_t parent_rank; int32_t li; } frame;

#define CLAIM_GET(b, i) ((b[(int64_t)(i) >> 3] >> ((i) & 7)) & 1)
#define CLAIM_SET(b, i) (b[(int64_t)(i) >> 3] |= (uint8_t)(1u << ((i) & 7)))

/* Exact DFS-preorder claim sweep. The claim state is a BITMAP of
   ceil(n_nodes/8) bytes: the sweep only ever needs claim MEMBERSHIP
   (ranks come from the running counter and parent ranks always point
   into the output), so 1 bit/node replaces a 4 B/node rank
   array — 32x less driver state, and denser = more cache-resident for
   the random probes. Returns the number of claims, -1 on allocation
   failure. */
int64_t dfs_sweep_dense(
    int64_t n_edges, const int32_t *c, const int32_t *li,
    int64_t m, const int32_t *uniq_p, const int64_t *starts,
    int64_t n_seeds, const int32_t *seeds, int32_t maxd,
    int64_t n_nodes,
    int32_t *out_id, int32_t *out_depth, int64_t *out_parent_rank,
    int32_t *out_li)
{
    /* csr_of[id] = row into uniq_p/starts or -1 */
    int32_t *csr_of = (int32_t *)malloc((size_t)n_nodes * 4);
    uint8_t *claimed = (uint8_t *)calloc((size_t)((n_nodes + 7) >> 3), 1);
    frame *st = (frame *)malloc((size_t)(n_edges + n_seeds + 1) * sizeof(frame));
    if (!csr_of || !claimed || !st) {
        free(csr_of); free(claimed); free(st);
        return -1;
    }
    memset(csr_of, 0xff, (size_t)n_nodes * 4);
    for (int64_t j = 0; j < m; j++) csr_of[uniq_p[j]] = (int32_t)j;

    int64_t sp = 0, n_out = 0;
    for (int64_t sidx = 0; sidx < n_seeds; sidx++) {
        frame f0 = {seeds[sidx], 0, -1, -1};
        st[sp++] = f0;
        while (sp > 0) {
            frame f = st[--sp];
            if (CLAIM_GET(claimed, f.id)) continue;    /* already claimed */
            CLAIM_SET(claimed, f.id);
            out_id[n_out] = f.id; out_depth[n_out] = f.depth;
            out_parent_rank[n_out] = f.parent_rank; out_li[n_out] = f.li;
            int64_t my_rank = n_out++;
            if (f.depth >= maxd) continue;
            int32_t pj = csr_of[f.id];
            if (pj < 0) continue;                      /* leaf */
            for (int64_t k = starts[pj + 1] - 1; k >= starts[pj]; k--) {
                int32_t ch = c[k];
                if (ch < 0) continue;                  /* dead edge */
                if (CLAIM_GET(claimed, ch)) continue;  /* already claimed */
                frame nf = {ch, f.depth + 1, my_rank, li[k]};
                st[sp++] = nf;
            }
        }
    }
    free(csr_of); free(claimed); free(st);
    return n_out;
}

/* Connected components of a dense-id pair list by union-find:
   union toward the smaller root, path halving. Every root is the
   smallest id of its set, so out_root[i] is the minimum id of i's
   component (i itself for a node in no pair). Returns 0, or -1 on
   allocation failure. */
static int32_t uf_find(int32_t *up, int32_t x)
{
    while (up[x] != x) {
        up[x] = up[up[x]];
        x = up[x];
    }
    return x;
}

int64_t uf_components(int64_t n_pairs, const int32_t *a, const int32_t *b,
                      int64_t n_nodes, int32_t *out_root)
{
    int32_t *up = (int32_t *)malloc((size_t)n_nodes * 4 + 4);
    if (!up) return -1;
    for (int64_t i = 0; i < n_nodes; i++) up[i] = (int32_t)i;
    for (int64_t k = 0; k < n_pairs; k++) {
        int32_t ra = uf_find(up, a[k]), rb = uf_find(up, b[k]);
        if (ra < rb) up[rb] = ra;
        else if (rb < ra) up[ra] = rb;
    }
    for (int64_t i = 0; i < n_nodes; i++)
        out_root[i] = uf_find(up, (int32_t)i);
    free(up);
    return 0;
}

/* CSR run-length boundaries over a parent-contiguous id column: one
   linear branch-predictable pass. Writes run-start offsets into
   starts[0..m-1], the run's parent id into uniq[0..m-1], returns m.
   (The numpy flatnonzero/fancy-index formulation of the same pass
   cost 4-17 s at 58M edges; this is ~0.1 s.) */
int64_t csr_bounds(int64_t n, const int32_t *p,
                   int32_t *uniq, int64_t *starts)
{
    int64_t m = 0;
    int32_t prev = 0;
    for (int64_t k = 0; k < n; k++) {
        int32_t v = p[k];
        if (k == 0 || v != prev) {
            uniq[m] = v;
            starts[m++] = k;
            prev = v;
        }
    }
    return m;
}

/* Emit the priority-vector hex strings for the sweep's claims in ONE
   forward pass: prio(claim) = prio(parent) ++ hex4(link_index).
   Rows arrive in visit order and a claim's parent is always an
   earlier row (DFS parents lie on the path from the seeds), so the
   parent's bytes are complete before its children copy them — and
   recently-claimed parents are cache-warm.
   Seed rows (parent_rank < 0) take their 4-byte prio from seed_prio
   via seed_ord[row]. offsets[n+1] = cumsum of 4*(depth+1); data is
   caller-allocated at offsets[n] bytes. Replaces a numpy build whose
   padded (n x maxw) staging matrix and per-depth gathers touched
   ~6x the payload in fresh pages.

   Returns 0 on success, or 1 + the first row whose parent rank is
   not an earlier row (0 <= pr < r is the invariant the sweep
   guarantees; a violated invariant — corrupted claims — must fail
   loud, not read or write out of bounds). The compare is
   always-false on valid claims, so the hot path stays
   branch-predictable. */
int64_t emit_prios(int64_t n, const int64_t *parent_rank, const int32_t *li,
                   const uint8_t *seed_prio, const int32_t *seed_ord,
                   const int64_t *offsets, uint8_t *data)
{
    static const char hexd[] = "0123456789abcdef";
    for (int64_t r = 0; r < n; r++) {
        uint8_t *dst = data + offsets[r];
        int64_t p = parent_rank[r];
        if (p < 0) {
            memcpy(dst, seed_prio + (int64_t)seed_ord[r] * 4, 4);
        } else {
            if (p >= r) return r + 1;
            int64_t plen = offsets[p + 1] - offsets[p];
            memcpy(dst, data + offsets[p], (size_t)plen);
            uint32_t v = (uint32_t)li[r];
            dst += plen;
            dst[0] = hexd[(v >> 12) & 0xF];
            dst[1] = hexd[(v >> 8) & 0xF];
            dst[2] = hexd[(v >> 4) & 0xF];
            dst[3] = hexd[v & 0xF];
        }
    }
    return 0;
}
"""

_lib = None
_lib_tried = False


def _cache_dir() -> str:
    d = os.environ.get("SPARK_GRAFT_KERNEL_CACHE",
                       os.path.join(tempfile.gettempdir(),
                                    "crawler_spark_kernels"))
    os.makedirs(d, exist_ok=True)
    return d


def _load_lib():
    """Compile (once, content-addressed cache) and dlopen the kernel.
    Returns None when no working C toolchain exists."""
    global _lib, _lib_tried
    if _lib is not None or _lib_tried:
        return _lib
    _lib_tried = True
    digest = hashlib.sha1(_C_SRC.encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_dir(), f"dfs_kernel_{digest}.so")
    try:
        if not os.path.exists(so_path):
            with tempfile.NamedTemporaryFile(
                    "w", suffix=".c", delete=False) as f:
                f.write(_C_SRC)
                c_path = f.name
            try:
                subprocess.run(
                    ["cc", "-O2", "-shared", "-fPIC", "-o",
                     so_path + ".tmp", c_path],
                    check=True, capture_output=True, timeout=120)
                os.replace(so_path + ".tmp", so_path)
            finally:
                os.unlink(c_path)
        lib = ctypes.CDLL(so_path)
        i64p = ctypes.POINTER(ctypes.c_int64)
        i32p = ctypes.POINTER(ctypes.c_int32)
        lib.dfs_sweep_dense.restype = ctypes.c_int64
        lib.dfs_sweep_dense.argtypes = [
            ctypes.c_int64, i32p, i32p,
            ctypes.c_int64, i32p, i64p,
            ctypes.c_int64, i32p, ctypes.c_int32,
            ctypes.c_int64,
            i32p, i32p, i64p, i32p]
        lib.csr_bounds.restype = ctypes.c_int64
        lib.csr_bounds.argtypes = [ctypes.c_int64, i32p, i32p, i64p]
        u8p = ctypes.POINTER(ctypes.c_uint8)
        lib.emit_prios.restype = ctypes.c_int64
        lib.emit_prios.argtypes = [ctypes.c_int64, i64p, i32p,
                                   u8p, i32p, i64p, u8p]
        lib.uf_components.restype = ctypes.c_int64
        lib.uf_components.argtypes = [ctypes.c_int64, i32p, i32p,
                                      ctypes.c_int64, i32p]
        _lib = lib
    except Exception:  # noqa: BLE001 — no cc / sandboxed: fall back
        _lib = None
    return _lib


def sweep_c(c_sorted, i_sorted, uniq_p, starts, seeds, n_nodes, max_depth):
    """The C sweep. None only when no C toolchain exists; raises
    MemoryError when the kernel cannot allocate its state."""
    lib = _load_lib()
    if lib is None:
        return None
    n_edges = len(c_sorted)
    n_seeds = len(seeds)
    out_n = int(n_nodes)  # claims ≤ nodes by construction
    out_id = np.empty(out_n, np.int32)
    out_depth = np.empty(out_n, np.int32)
    out_parent = np.empty(out_n, np.int64)
    out_li = np.empty(out_n, np.int32)

    def p64(a):
        return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))

    def p32(a):
        return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int32))

    c_sorted = np.ascontiguousarray(c_sorted, np.int32)
    i_sorted = np.ascontiguousarray(i_sorted, np.int32)
    uniq_p = np.ascontiguousarray(uniq_p, np.int32)
    starts = np.ascontiguousarray(starts, np.int64)
    seeds = np.ascontiguousarray(seeds, np.int32)
    n = lib.dfs_sweep_dense(n_edges, p32(c_sorted), p32(i_sorted),
                            len(uniq_p), p32(uniq_p), p64(starts),
                            n_seeds, p32(seeds), max_depth,
                            int(n_nodes),
                            p32(out_id), p32(out_depth), p64(out_parent),
                            p32(out_li))
    if n < 0:
        raise MemoryError(
            f"dfs_sweep_dense: allocation failure sweeping {n_edges} "
            f"edges over {int(n_nodes)} nodes")
    return (int(n), out_id[:n], out_depth[:n], out_parent[:n], out_li[:n])


def sweep_py(c_sorted, i_sorted, uniq_p, starts, seeds, n_nodes, max_depth):
    """Pure-Python twin of sweep_c — identical contract, used as the
    fallback and as the oracle for the kernel-parity unit test."""
    c_l = np.asarray(c_sorted, np.int64).tolist()
    i_l = np.asarray(i_sorted, np.int64).tolist()
    bounds = np.asarray(starts, np.int64)
    child_idx = dict(zip(np.asarray(uniq_p, np.int64).tolist(),
                         zip(bounds[:-1].tolist(), bounds[1:].tolist())))
    claimed: dict[int, int] = {}
    out_id: list[int] = []
    out_depth: list[int] = []
    out_parent: list[int] = []
    out_li: list[int] = []
    stack: list[tuple] = []
    push = stack.append
    pop = stack.pop
    for sh in np.asarray(seeds, np.int64).tolist():
        push((sh, 0, -1, -1))
        while stack:
            nid, depth, parent_rank, li = pop()
            if nid in claimed:
                continue
            rank = len(out_id)
            claimed[nid] = rank
            out_id.append(nid)
            out_depth.append(depth)
            out_parent.append(parent_rank)
            out_li.append(li)
            if depth < max_depth:
                ci = child_idx.get(nid)
                if ci is not None:
                    lo, hi = ci
                    d1 = depth + 1
                    for k in range(hi - 1, lo - 1, -1):
                        ch = c_l[k]
                        if ch >= 0 and ch not in claimed:
                            push((ch, d1, rank, i_l[k]))
    n = len(out_id)
    return (n, np.array(out_id, np.int32), np.array(out_depth, np.int32),
            np.array(out_parent, np.int64), np.array(out_li, np.int32))


def components_c(a, b, n_nodes):
    """The C union-find: int32[n_nodes], each id's component minimum.
    None only when no C toolchain exists; raises MemoryError when the
    kernel cannot allocate its parent array."""
    lib = _load_lib()
    if lib is None:
        return None
    i32p = ctypes.POINTER(ctypes.c_int32)
    a = np.ascontiguousarray(a, np.int32)
    b = np.ascontiguousarray(b, np.int32)
    if len(a) != len(b) or len(a) and (
            min(a.min(), b.min()) < 0 or max(a.max(), b.max()) >= n_nodes):
        raise ValueError("uf_components: pair ids must be two equal-length "
                         "arrays of ids in 0..n_nodes-1")
    out = np.empty(int(n_nodes), np.int32)
    if lib.uf_components(len(a), a.ctypes.data_as(i32p),
                         b.ctypes.data_as(i32p), int(n_nodes),
                         out.ctypes.data_as(i32p)) < 0:
        raise MemoryError(
            f"uf_components: allocation failure labelling {len(a)} "
            f"pairs over {int(n_nodes)} nodes")
    return out


def components_py(a, b, n_nodes):
    """Pure-Python twin of components_c — identical contract, used as
    the fallback and as the oracle for the kernel-parity unit test."""
    up = list(range(int(n_nodes)))

    def find(x):
        while up[x] != x:
            up[x] = up[up[x]]
            x = up[x]
        return x

    for x, y in zip(np.asarray(a).tolist(), np.asarray(b).tolist()):
        rx, ry = find(x), find(y)
        if rx < ry:
            up[ry] = rx
        elif ry < rx:
            up[rx] = ry
    return np.array([find(i) for i in range(int(n_nodes))], np.int32)


def components(a, b, n_nodes):
    """Component minimum of every dense id 0..n_nodes-1 under the
    undirected pairs (a[k], b[k]): C when a toolchain exists, Python
    otherwise."""
    res = components_c(a, b, n_nodes)
    return res if res is not None else components_py(a, b, n_nodes)


def csr_runlength(p):
    """Run-length CSR boundaries over a parent-contiguous int32 id
    column: (uniq_p int32[m], bounds int64[m+1]) with bounds[j]..
    bounds[j+1] spanning parent uniq_p[j]'s rows. C single-pass when a
    toolchain exists (the numpy formulation cost 4-17 s at 58M edges),
    vectorized numpy fallback otherwise; both pinned equal in tests."""
    p = np.ascontiguousarray(p, np.int32)
    n = len(p)
    if n == 0:
        return np.empty(0, np.int32), np.zeros(1, np.int64)
    lib = _load_lib()
    if lib is None:
        brk = np.flatnonzero(p[1:] != p[:-1]) + 1
        starts = np.concatenate(([0], brk))
        return (np.ascontiguousarray(p[starts], np.int32),
                np.append(starts, n).astype(np.int64))
    uniq = np.empty(n, np.int32)
    starts = np.empty(n + 1, np.int64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    i32p = ctypes.POINTER(ctypes.c_int32)
    m = lib.csr_bounds(n, p.ctypes.data_as(i32p),
                       uniq.ctypes.data_as(i32p),
                       starts.ctypes.data_as(i64p))
    starts[m] = n
    return uniq[:m].copy(), starts[:m + 1].copy()


_HEX_W = 4  # hex digits per priority-vector level (file format)


def _not_earlier(parent_rank, r: int) -> ValueError:
    return ValueError(f"emit_prios: claim row {r} has parent rank "
                      f"{int(parent_rank[r])}, not an earlier row — "
                      "corrupted claims")


def emit_prios(depth, parent_rank, li, seed_prio, seed_ord):
    """Build the claims' priority-vector byte blob in visit order:
    (offsets int64[n+1], data uint8[total]) where row r's prio is
    data[offsets[r]:offsets[r+1]] — prio(parent) ++ hex4(li), and
    seed rows (parent_rank < 0) copy seed_prio[seed_ord[r]*4:][:4].
    A parent rank that is not an earlier row raises ValueError.

    One forward C pass when a toolchain exists (parents precede
    children in visit order, so the prefix copy reads
    just-written, cache-warm bytes); a per-depth vectorized numpy
    twin otherwise — the twin stages rows in a padded (n x maxw)
    matrix, which at millions of claims touches ~6x the payload in
    fresh pages and measured 20-50 s next to a full JVM heap, which
    is why the C pass exists. Both pinned equal in tests."""
    n = len(depth)
    depth64 = np.asarray(depth, np.int64)
    parent_rank = np.ascontiguousarray(parent_rank, np.int64)
    li32 = np.ascontiguousarray(li, np.int32)
    seed_ord = np.ascontiguousarray(seed_ord, np.int32)
    seed_prio = np.ascontiguousarray(seed_prio, np.uint8)
    lens = _HEX_W * (depth64 + 1)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.empty(int(offsets[-1]), np.uint8)
    if n == 0:
        return offsets, data
    lib = _load_lib()
    if lib is not None:
        i64p = ctypes.POINTER(ctypes.c_int64)
        i32p = ctypes.POINTER(ctypes.c_int32)
        u8p = ctypes.POINTER(ctypes.c_uint8)
        rc = lib.emit_prios(n, parent_rank.ctypes.data_as(i64p),
                            li32.ctypes.data_as(i32p),
                            seed_prio.ctypes.data_as(u8p),
                            seed_ord.ctypes.data_as(i32p),
                            offsets.ctypes.data_as(i64p),
                            data.ctypes.data_as(u8p))
        if rc:
            raise _not_earlier(parent_rank, rc - 1)
        return offsets, data
    # numpy twin: same guard (the clamp below would otherwise turn a
    # violated earlier-parent invariant into silently wrong prios)
    bad = np.flatnonzero(parent_rank >= np.arange(n, dtype=np.int64))
    if len(bad):
        raise _not_earlier(parent_rank, int(bad[0]))
    local_pr = np.maximum(parent_rank, 0)
    max_d = int(depth64.max())
    W = _HEX_W * (max_d + 1)
    buf = np.zeros((n, W), np.uint8)
    hexd = np.frombuffer(b"0123456789abcdef", np.uint8)
    li64 = li32.astype(np.int64)
    comp = np.empty((n, _HEX_W), np.uint8)
    for k in range(_HEX_W):
        comp[:, k] = hexd[(li64 >> (4 * (_HEX_W - 1 - k))) & 0xF]
    srows = np.flatnonzero(parent_rank < 0)
    buf[srows, :_HEX_W] = seed_prio.reshape(-1, _HEX_W)[seed_ord[srows]]
    for d in range(1, max_d + 1):
        rows = np.flatnonzero(depth64 == d)
        if not len(rows):
            continue
        w_par = _HEX_W * d
        buf[rows, :w_par] = buf[local_pr[rows], :w_par]
        buf[rows, w_par:w_par + _HEX_W] = comp[rows]
    for d in range(0, max_d + 1):
        rows = np.flatnonzero(depth64 == d)
        if not len(rows):
            continue
        w = _HEX_W * (d + 1)
        data[offsets[rows][:, None] + np.arange(w)[None, :]] = buf[rows, :w]
    return offsets, data


def sweep(c_sorted, i_sorted, uniq_p, starts, seeds, n_nodes, max_depth):
    """C kernel when available, Python otherwise. Also returns which
    implementation ran (for timings/diagnostics)."""
    res = sweep_c(c_sorted, i_sorted, uniq_p, starts, seeds, n_nodes,
                  max_depth)
    if res is not None:
        return res + ("c",)
    return sweep_py(c_sorted, i_sorted, uniq_p, starts, seeds, n_nodes,
                    max_depth) + ("py",)

