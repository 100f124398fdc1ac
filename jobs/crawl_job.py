"""spark-submit entrypoint for the frontier crawl.

Cluster usage (the production path — north rule):

    cd /root/repo && zip -qr /tmp/crawler_spark.zip crawler_spark
    spark-submit --py-files /tmp/crawler_spark.zip jobs/crawl_job.py \
        --web /data/synthetic_web --ckpt /data/ckpt/run1 --out /data/out \
        --max-depth 8 --rate-limit 100 --politeness

Local (this sandbox):

    python jobs/crawl_job.py --web fixtures/t-smoke \
        --ckpt /tmp/crawl_ckpt --out /tmp/crawl_out --cores 32

Resumable: re-running with the same --ckpt continues from the last
completed round (kill it mid-crawl and re-submit; the remaining
schedule is identical — tests/test_crawl_golden.py::test_resume).
Outputs: visits/, errors/, image_refs/ parquet under --out, per-round
metrics + per-partition lineage in <ckpt>/metrics.jsonl."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--web", required=True,
                    help="dir with web_pages/robots/seeds parquet")
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--rate-limit", type=int, default=10)
    ap.add_argument("--sample-mode", action="store_true")
    ap.add_argument("--restrict-domains", action="store_true")
    def _header(h: str) -> tuple[str, str]:
        # validate at the CLI boundary: a value without ':' would
        # otherwise surface far later as a malformed manifest entry
        # and a ValueError inside fetch_headers()
        if ":" not in h:
            raise argparse.ArgumentTypeError(
                f"expected K:V, got {h!r}")
        k, v = h.split(":", 1)
        return k.strip(), v.strip()

    ap.add_argument("--header", action="append", default=[],
                    metavar="K:V", type=_header,
                    help="extra HTTP header applied to every fetch "
                    "(repeatable; reference customHeaders, "
                    "crawler-engine.ts:565-566)")
    ap.add_argument("--politeness", action="store_true",
                    help="enforce per-host caps per explore round")
    ap.add_argument("--screenshots", action="store_true",
                    help="commit the S6 per-page screenshot table "
                         "(idempotent, first-write-wins on image_id)")
    ap.add_argument("--ingest-images", action="store_true",
                    help="decode/validate/phash image bytes inside the "
                         "explore loop (per-round snapshot commits + "
                         "fetch/dedup metrics); emits the final "
                         "claims-narrowed images/ + image_captions/ "
                         "tables under --out")
    ap.add_argument("--compact", action="store_true",
                    help="post-crawl table maintenance: compact the "
                         "per-round fast-append crawl/frontier tables "
                         "(Iceberg rewrite_data_files shape) and expire "
                         "pre-compaction snapshots")
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N]; 0 = let spark-submit decide")
    args = ap.parse_args()

    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.engine.frontier import FrontierEngine

    if args.cores:
        from crawler_spark.plans.session import get_spark

        spark = get_spark("crawl_job", cores=args.cores,
                          shuffle_partitions=args.cores)
    else:  # under spark-submit: master/memory come from the cluster
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.appName("crawl_job")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.sql.adaptive.skewJoin.enabled", "true")
                 .config("spark.sql.session.timeZone", "UTC")
                 .getOrCreate())

    cfg = CrawlConfig(max_depth=args.max_depth, rate_limit=args.rate_limit,
                      sample_mode=args.sample_mode,
                      restrict_domains=args.restrict_domains,
                      custom_headers=tuple(args.header))
    eng = FrontierEngine(spark, cfg, args.web, args.ckpt,
                         enforce_politeness=args.politeness,
                         ingest_images=args.ingest_images)
    t0 = time.time()
    visits = eng.run()
    visits.write.mode("overwrite").parquet(os.path.join(args.out, "visits"))
    visits = spark.read.parquet(os.path.join(args.out, "visits"))
    eng.errors(visits).write.mode("overwrite").parquet(
        os.path.join(args.out, "errors"))
    eng.image_refs(visits).write.mode("overwrite").parquet(
        os.path.join(args.out, "image_refs"))
    if args.screenshots:
        eng.write_screenshots(visits)
    if args.ingest_images:
        eng.images(visits).write.mode("overwrite").parquet(
            os.path.join(args.out, "images"))
        eng.image_captions(visits).write.mode("overwrite").parquet(
            os.path.join(args.out, "image_captions"))
    maintenance = {}
    if args.compact:
        # a depth-8 crawl fast-appended ~9 round dirs × 32 task files
        # per table; at 10^10 URLs that census is what every later
        # scan pays — rewrite once, then drop the superseded snapshots
        tables = [("crawl", eng.crawl_table),
                  ("frontier", eng.frontier_table)]
        if args.ingest_images:
            tables.append(("images", eng.images_table))
        for name, tbl in tables:
            stats = tbl.compact()
            tbl.expire(keep_last=1)
            maintenance[name] = stats
    n = visits.count()
    dt = time.time() - t0
    out = {"visited_urls": n, "sec": round(dt, 2),
           "urls_per_sec": round(n / dt, 1), "out": args.out}
    if maintenance:
        out["compacted"] = maintenance
    print(json.dumps(out))


if __name__ == "__main__":
    main()
