"""Near-duplicate CLUSTER ASSIGNMENT — the step after candidate pairs.

The pair generators (`dedup.minhash_lsh_pairs`, `dedup.simhash_pairs`,
`similarity.cosine_pairs`, `images.phash_candidate_pairs`) emit the
near-dup graph's edges; an actual dedup pass must pick one canonical
representative per connected component and drop the rest. The
reference's only dedup is the keyed screenshot window
(`/root/reference/lib/recorder/browser-session.ts:2444-2473` — one
"canonical" capture per (component, reason, selector) per window);
this generalizes it to content-based duplicate graphs of any size.

Algorithm: the expensive pair join stays distributed upstream; the
pair list is a compact skeleton (two ids per pair, far fewer pairs
than items), so it is labelled in ONE driver pass, the way the engine
resolves its crawl skeleton (core/skeleton.py): Spark writes the
pairs as parquet, the driver dense-encodes the ids in sorted order
and runs a union-find (core/dfs_kernel.py, C with a Python twin) that
labels every id with its component's minimum, and the labels return
to Spark through one parquet file. Union-find finishes in one pass
over the pairs whatever the component diameters, so there are no
rounds to bound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver bytes per pair of the label pass for 8-byte ids, summed over
# its allocations: the Arrow read (16), the two numpy copies (16) and
# their concatenation (16); np.unique's flattened copy, argsort
# permutation, sorted copy, mask, cumsum and inverse (16 + 16 + 16 +
# 2 + 16 + 16); the int32 dense pairs (8); the kernel's parent array
# and output over at most two ids per pair (8 + 8); the labels and
# their Arrow copies (32 + 32). A string id also holds one Python str
# object per value (to_numpy) — counted at 80 bytes, an id of up to
# 31 ASCII characters.
_CC_PAIR_BYTES = 16 + 16 + 16 + (16 + 16 + 16 + 2 + 16 + 16) + 8 + 16 + 64
_CC_STR_PAIR_BYTES = 2 * 80


def _min_labels(a, b):
    """(ids, canonical ids) over the ids of the undirected pairs
    (a[k], b[k]), two numpy arrays of one id type (numbers or str):
    each id labelled with its component's minimum. The order-preserving
    unique maps ids to dense int32 ranks, so the smallest dense id of
    a component is its smallest original id — Spark's min, for numbers
    and for strings (code-point order equals UTF-8 byte order)."""
    import numpy as np

    from ..core.dfs_kernel import components

    uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    if len(uniq) >= 1 << 31:
        raise ValueError(f"connected_components: {len(uniq)} ids exceed "
                         f"the union-find's int32 ids")
    inv = inv.astype(np.int32)
    root = components(inv[:len(a)], inv[len(a):], len(uniq))
    return uniq, uniq[root]


def connected_components(ids: DataFrame, pairs: DataFrame,
                         id_col: str,
                         src: str = "id_a", dst: str = "id_b",
                         work_dir: str | None = None) -> DataFrame:
    """Label every id with its component's minimum id.

    ids:   one row per node (singletons allowed — they label
           themselves), column `id_col`;
    pairs: undirected edges (src, dst) — any extra columns ignored.

    Returns (id_col, canonical_id). Deterministic under any
    partitioning: the labels depend only on the pair set.

    The pairs are written under `work_dir` (a fresh temp dir inside
    it; the system temp dir by default), read on the driver after the
    footer row count passes the SkeletonMemoryError guard, labelled by
    _min_labels and written back as one parquet file. The labels are
    left-joined onto `ids` (an id in no pair labels itself) and the
    result is detached with localCheckpoint before the temp dir is
    removed. On a multi-executor cluster `work_dir` must be shared
    storage the driver can also read as a local path — the same
    requirement as the engine's checkpoint dir."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from ..core.skeleton import _footer_rows, _read_parquet_dir, check_fits

    spark = ids.sparkSession
    id_type = ids.schema[id_col].dataType
    if work_dir:
        os.makedirs(work_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="crawler_spark_cc_", dir=work_dir)
    try:
        pairs_path = os.path.join(tmp, "pairs")
        (pairs.select(F.col(src).cast(id_type).alias("a"),
                      F.col(dst).cast(id_type).alias("b"))
         .write.parquet(pairs_path))
        n_pairs = sum(_footer_rows(pairs_path).values())
        per_pair = _CC_PAIR_BYTES + (
            _CC_STR_PAIR_BYTES if isinstance(id_type, T.StringType) else 0)
        check_fits(per_pair * n_pairs,
                   f"connected components of {n_pairs} pairs")
        at = to_arrow_type(id_type)
        tbl = _read_parquet_dir(pairs_path, {"a": pa.array([], at),
                                             "b": pa.array([], at)})
        uniq, canon = _min_labels(tbl["a"].to_numpy(zero_copy_only=False),
                                  tbl["b"].to_numpy(zero_copy_only=False))
        del tbl
        labels_path = os.path.join(tmp, "labels.parquet")
        pq.write_table(pa.table({id_col: pa.array(uniq, at),
                                 "label": pa.array(canon, at)}),
                       labels_path)
        result = (ids.select(id_col)
                  .join(spark.read.parquet(labels_path), id_col, "left")
                  .select(id_col, F.coalesce("label", F.col(id_col))
                          .alias("canonical_id"))
                  .localCheckpoint())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


def assign_canonical(items: DataFrame, pairs: DataFrame,
                     id_col: str) -> DataFrame:
    """items + (canonical_id, is_canonical) from the pair graph —
    keep `is_canonical` rows for a deduplicated corpus."""
    comp = connected_components(items.select(id_col), pairs, id_col)
    return (items.join(comp, id_col)
            .withColumn("is_canonical",
                        F.col(id_col) == F.col("canonical_id")))


def minhash_dedup(docs: DataFrame, threshold: float = 0.5,
                  num_hashes: int = 64, bands: int = 16, n: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Document near-dup dedup end-to-end: shingle → MinHash → banded
    LSH candidates (est. Jaccard ≥ threshold) → connected components →
    canonical doc per cluster. One banded self-join + one driver
    union-find pass; no all-pairs anywhere."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold, num_hashes, bands, n,
                              id_col, text_col)
    return assign_canonical(docs, pairs, id_col)


def embedding_dedup(emb: DataFrame, threshold: float = 0.95,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup dedup: pairs with cosine ≥ threshold
    (exact block-partitioned BLAS) → connected components → canonical
    vector per cluster."""
    from .similarity import cosine_pairs

    pairs = cosine_pairs(emb, threshold, id_col, vec_col)
    return assign_canonical(emb, pairs, id_col)
