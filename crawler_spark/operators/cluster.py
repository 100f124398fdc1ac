"""Near-duplicate CLUSTER ASSIGNMENT — the step after candidate pairs.

The pair generators (`dedup.minhash_lsh_pairs`, `dedup.simhash_pairs`,
`similarity.cosine_pairs`, `images.phash_candidate_pairs`) emit the
near-dup graph's edges; an actual dedup pass must pick one canonical
representative per connected component and drop the rest. The
reference's only dedup is the keyed screenshot window
(`/root/reference/lib/recorder/browser-session.ts:2444-2473` — one
"canonical" capture per (component, reason, selector) per window);
this generalizes it to content-based duplicate graphs of any size.

Algorithm: iterative min-label propagation (each node repeatedly takes
the smallest label among itself and its neighbours) — the standard
large-scale connected-components formulation. Convergence is bounded
by the largest component DIAMETER, not size; near-dup components are
dense and shallow (a hub duplicate links most members directly), so a
handful of rounds converge even at 10^10 docs. Each round is one
shuffle-join + one aggregate over the edge list; `localCheckpoint`
truncates the lineage so round N's plan doesn't embed rounds 1..N-1.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _footer_rows(local_dir: str) -> int:
    """Total row count of a local parquet dir from file footers only
    (zero Spark jobs). A missing dir is an empty partition (0 rows) —
    partitionBy skips partitions with no rows."""
    import glob

    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(local_dir, "*.parquet")))


def connected_components(ids: DataFrame, pairs: DataFrame,
                         id_col: str,
                         src: str = "id_a", dst: str = "id_b",
                         max_iters: int = 16,
                         work_dir: str | None = None) -> DataFrame:
    """Label every id with its component's minimum id.

    ids:   one row per node (singletons allowed — they label
           themselves), column `id_col`;
    pairs: undirected edges (src, dst) — any extra columns ignored.

    Returns (id_col, canonical_id). Deterministic under any
    partitioning: min is order-independent.

    Each round is edge-relax (take the min label over direct
    neighbours) + POINTER JUMP (label ← label(label), valid because a
    label is always an existing node id): the jump compresses label
    chains, cutting rounds ~4× on chain-shaped components (measured:
    a 226-node snake converges in 36 rounds vs ~150 for plain
    propagation, which silently returned NON-converged labels past
    max_iters — caught by tests/test_property_random.py). At a fixed
    point, edge-relax unchanged ⇒ adjacent nodes agree ⇒ labels are
    uniform per component and equal to its min id; past max_iters
    this RAISES rather than returning wrong labels.

    Each round's labels cross a parquet write/read barrier (same
    per-round pattern as the engine's frontier loop), NOT
    localCheckpoint: Spark 4.1 self-joins chained through
    local/reliable checkpoints leak driver-side work that DOUBLES per
    generation (measured 0.3 s/round flat with the barrier vs 0.16 →
    36 s by round 19 with checkpoints — repro in the test module's
    history), while the barrier keeps every round constant-cost."""
    import shutil
    import tempfile

    spark = ids.sparkSession
    # work_dir: where the per-round label tables land. The local
    # tempdir default is correct for local[k]; on a multi-executor
    # cluster pass a SHARED path (HDFS/S3/NFS) — the same requirement
    # as the engine's checkpoint dir.
    # edges are hash-partitioned on dst ONCE before the checkpoint
    # (LogicalRDD keeps the output partitioning), so every round's
    # probe join re-exchanges only the label side, never the edge
    # list — the larger relation at scale. Edges are static (no
    # chained self-join), so localCheckpoint is safe here.
    edges = (pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .unionByName(pairs.select(F.col(dst).alias("src"),
                                       F.col(src).alias("dst")))
             .repartition("dst")
             .localCheckpoint())
    labels = ids.select(F.col(id_col).alias("src"),
                        F.col(id_col).alias("label"))
    # local-mode default rides tmpfs when present (the round tables
    # are written and re-read immediately; same choice as the bench
    # checkpoint) — cluster callers pass shared storage instead
    tmp = work_dir or tempfile.mkdtemp(
        prefix="crawler_spark_cc_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    os.makedirs(tmp, exist_ok=True)
    def _relax(lbl: DataFrame) -> DataFrame:
        neigh = (edges.join(lbl.select(F.col("src").alias("dst"), "label"),
                            "dst")
                 .groupBy("src").agg(F.min("label").alias("nlabel")))
        return (lbl.join(neigh, "src", "left")
                .select("src", F.least(
                    F.col("label"),
                    F.coalesce("nlabel", F.col("label"))).alias("label"),
                    "old"))

    try:
        converged = False
        for it in range(max_iters):
            # TWO relax passes per barrier round: both reuse the same
            # pre-partitioned edge list inside ONE job, so the second
            # pass costs an extra join but no extra barrier/round —
            # and it squares the per-round propagation radius.
            # Measured on the bench phash graph (1053 nodes, dense
            # near-dup clusters): 5 rounds/6.2 s single-relax → 3
            # rounds/4.6 s double-relax; a third pass stopped paying
            # (still 3 rounds, deeper plan, 5.4 s).
            relaxed = _relax(_relax(
                labels.withColumn("old", F.col("label"))))
            # pointer jump: label ← label(label). label(label) ≤ label
            # by construction (a node's label only decreases and
            # starts at itself), so the jump never regresses. The
            # self-join is WITHIN one round; the barrier below stops
            # it compounding across rounds.
            lmap = relaxed.select(F.col("src").alias("lbl_node"),
                                  F.col("label").alias("jump"))
            out = (relaxed.join(lmap,
                                F.col("label") == F.col("lbl_node"))
                   .select("src", F.col("jump").alias("label"),
                           (F.col("jump") != F.col("old")).alias("chg")))
            path = os.path.join(tmp, f"r{it}")
            # partition the round table by `chg`: the convergence
            # check then reads parquet FOOTER row counts (no Spark
            # job) — same footer-lineage trick as the engine's
            # frontier loop. Non-local work dirs (shared HDFS/S3 on a
            # real cluster) fall back to a count job.
            out.write.mode("overwrite").partitionBy("chg").parquet(path)
            cur = spark.read.parquet(path)
            if os.path.isdir(path):
                changed = _footer_rows(os.path.join(path, "chg=true"))
            else:
                changed = cur.filter(F.col("chg")).count()
            labels = cur.select("src", "label")
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components: not converged after "
                f"{max_iters} rounds — raise max_iters for graphs "
                f"with very long chain components")
        # detach the result from the tmp dir before deleting it
        result = (labels.select(F.col("src").alias(id_col),
                                F.col("label").alias("canonical_id"))
                  .localCheckpoint())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


def assign_canonical(items: DataFrame, pairs: DataFrame,
                     id_col: str, max_iters: int = 16) -> DataFrame:
    """items + (canonical_id, is_canonical) from the pair graph —
    keep `is_canonical` rows for a deduplicated corpus."""
    comp = connected_components(items.select(id_col), pairs, id_col,
                                max_iters=max_iters)
    return (items.join(comp, id_col)
            .withColumn("is_canonical",
                        F.col(id_col) == F.col("canonical_id")))


def minhash_dedup(docs: DataFrame, threshold: float = 0.5,
                  num_hashes: int = 64, bands: int = 16, n: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Document near-dup dedup end-to-end: shingle → MinHash → banded
    LSH candidates (est. Jaccard ≥ threshold) → connected components →
    canonical doc per cluster. One banded self-join + a few CC rounds;
    no all-pairs anywhere."""
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
