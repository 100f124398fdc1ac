"""spark-submit entrypoint for the training-corpus pipeline: the
post-crawl half of the engine — text/image/embedding dedup down to a
canonical corpus with quality features attached.

Stages (all distributed, no driver-side data):
  1. text features: lang-ID, quality score, token/subword counts,
     content fingerprint — native columns, one codegen pass;
  2. exact dedup: fingerprint groupBy keeps the smallest doc_id;
  3. near-dup dedup: MinHash->banded LSH candidates -> connected
     components -> one canonical doc per cluster;
  4. embedding near-dups (when --embeddings): exact block-BLAS cosine
     pairs -> CC -> canonical vectors;
  5. image near-dups (when --images): decode -> phash bands -> CC.

Cluster usage (same packaging as jobs/crawl_job.py):

    cd /root/repo && zip -qr /tmp/crawler_spark.zip crawler_spark
    spark-submit --py-files /tmp/crawler_spark.zip jobs/corpus_job.py \
        --docs /data/documents --out /data/corpus \
        --embeddings /data/embeddings --images /data/images \
        --minhash-threshold 0.5 --cosine-threshold 0.95

Local (this sandbox):

    python jobs/corpus_job.py --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/corpus --cores 8

Outputs under --out: docs/ (canonical rows only, features attached),
doc_clusters/ (doc_id -> canonical_id for lineage), plus vec_clusters/
and image_clusters/ when those inputs are given; a one-line JSON stats
summary on stdout."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_corpus(spark, docs_path: str, out: str,
               embeddings: str | None = None, images: str | None = None,
               minhash_threshold: float = 0.5,
               cosine_threshold: float = 0.95, max_hamming: int = 10,
               min_quality: int = 0) -> dict:
    """The pipeline body, importable so a caller (perfbench's
    corpus_dedup workload, tests/test_corpus_job.py) can run it in its
    own session — stats dict identical to the CLI's stdout line."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.cluster import (embedding_dedup,
                                                 minhash_dedup)
    from crawler_spark.operators.textstats import (doc_fingerprint, lang_id,
                                                   quality_score,
                                                   subword_count, token_count)

    stats: dict[str, int] = {}
    def _spread(df):
        """Parquet scan parallelism is bounded by ROW GROUPS, not
        maxPartitionBytes — a corpus written as one giant row group
        (the sandbox testdata, single-file exports generally) makes
        every scan-rooted stage a single task at any core count
        (measured: identical corpus walls at 8 and 32 cores). One
        up-front round-robin repartition restores parallelism for the
        whole chain; a scan with fewer splits than cores (e.g. 2
        uneven row groups on 4 cores) gets it too, while multi-file
        corpora skip it."""
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            return df.repartition(par)
        return df

    docs = _spread(spark.read.parquet(docs_path))
    stats["docs_in"] = docs.count()

    # 1. features (one projection), 2. exact dedup on the fingerprint.
    # localCheckpoint: three consumers follow (the MinHash dedup, the
    # canonical write, the stats count) — without it each one re-runs
    # the full feature projection + exact-dedup shuffle, so the
    # feature pass executed ~4x per job (measured in the round-5
    # scaling pair; the recompute was also most of the job's
    # core-count-independent latency floor).
    feat = (docs
            .withColumn("lang", lang_id("text"))
            .withColumn("quality", quality_score("text"))
            .withColumn("tokens", token_count("text"))
            .withColumn("subwords", subword_count("text"))
            .withColumn("fingerprint", doc_fingerprint("text")))
    if min_quality:
        feat = feat.filter(F.col("quality") >= min_quality)
    exact_keep = (feat.groupBy("fingerprint")
                  .agg(F.min("doc_id").alias("doc_id")))
    feat = feat.join(exact_keep, ["fingerprint", "doc_id"]).localCheckpoint()
    stats["docs_after_exact"] = feat.count()

    # 3. near-dup clusters -> canonical corpus (checkpointed once;
    # consumed by two writes + the canonical count)
    deduped = minhash_dedup(feat, threshold=minhash_threshold) \
        .localCheckpoint()
    (deduped.select("doc_id", "canonical_id")
     .write.mode("overwrite").parquet(os.path.join(out, "doc_clusters")))
    canon = deduped.filter("is_canonical").drop("canonical_id",
                                                "is_canonical")
    canon.write.mode("overwrite").parquet(os.path.join(out, "docs"))
    stats["docs_canonical"] = canon.count()

    if embeddings:
        emb = _spread(spark.read.parquet(embeddings))
        ve = embedding_dedup(emb, threshold=cosine_threshold) \
            .localCheckpoint()
        (ve.select("vec_id", "canonical_id", "is_canonical")
         .write.mode("overwrite")
         .parquet(os.path.join(out, "vec_clusters")))
        stats["vecs_in"] = emb.count()
        stats["vecs_canonical"] = ve.filter("is_canonical").count()

    if images:
        from crawler_spark.operators.images import (decode_and_phash,
                                                    phash_dedup)
        imgs = spark.read.parquet(images)
        if "phash" not in imgs.columns:
            # raw bytes table — decode and hash in Arrow batches first
            # (checkpointed: the dedup + count below must not re-run
            # the Arrow decode pass)
            imgs = (decode_and_phash(imgs).filter("dec_ok")
                    .withColumnRenamed("phash_dec", "phash")
                    .localCheckpoint())
        ie = phash_dedup(imgs, max_hamming=max_hamming).localCheckpoint()
        (ie.select("image_id", "canonical_id", "is_canonical")
         .write.mode("overwrite")
         .parquet(os.path.join(out, "image_clusters")))
        stats["images_in"] = imgs.count()
        stats["images_canonical"] = ie.filter("is_canonical").count()
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--embeddings")
    ap.add_argument("--images")
    ap.add_argument("--minhash-threshold", type=float, default=0.5)
    ap.add_argument("--cosine-threshold", type=float, default=0.95)
    ap.add_argument("--max-hamming", type=int, default=10)
    ap.add_argument("--min-quality", type=int, default=0,
                    help="drop docs scoring below this (0 keeps all)")
    ap.add_argument("--cores", type=int, default=0,
                    help="local-mode cores; 0 = use spark-submit's master")
    args = ap.parse_args()

    if args.cores:
        from crawler_spark.plans.session import get_spark
        spark = get_spark("corpus", cores=args.cores,
                          shuffle_partitions=args.cores)
    else:
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.appName("corpus").getOrCreate()

    stats = run_corpus(spark, args.docs, args.out,
                       embeddings=args.embeddings, images=args.images,
                       minhash_threshold=args.minhash_threshold,
                       cosine_threshold=args.cosine_threshold,
                       max_hamming=args.max_hamming,
                       min_quality=args.min_quality)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
