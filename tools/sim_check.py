"""Engine-vs-simulator crawl parity at BENCH scale (default 1M pages).

The golden tests (tests/test_crawl_golden.py) pin the Spark engine
row-for-row against the sequential oracle simulator at fixture scale
(~10^2..10^3 pages).  This tool runs the SAME comparison on the bench
synthetic web at 10^6 pages — the largest size the pure-Python
simulator can replay in minutes — using the bench configuration
(max_depth=8, politeness ON), a full-order correctness check one
decade past the test fixtures:

  * visit order, url, url_hash, host, depth, parent_url, link_index,
    priority vector, status_code and politeness batch_id must match
    the simulator tuple-for-tuple (the golden-test comparison, not a
    count check);
  * above 10^6 the simulator is impractical (pure-Python DFS) — there
    tools/reach_check.py provides the independent closed-form BFS
    upper bound on the visit count instead.

Usage: python tools/sim_check.py [--pages 1000000] [--seeds 1024]
       [--depth 8] [--cores 16]

Prints one JSON line:
  {"pages": N, "engine_visits": n, "oracle_visits": n,
   "rows_equal": true, "first_mismatch": null,
   "engine_sec": ..., "oracle_sec": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.sources.synth_web import generate_bench_web  # noqa: E402


def ensure_bench_web(pages: int, seeds: int) -> str:
    """Generate (once, cached under /tmp) the synthetic bench web:
    1000 hosts, one mega-host with ~30% of the pages."""
    web_dir = f"/tmp/crawler_spark_bench/web-{pages}-s{seeds}"
    if not all(os.path.exists(os.path.join(web_dir, f))
               for f in ("web_pages.parquet", "images.parquet")):
        print(f"# generating bench web ({pages} pages)…", file=sys.stderr)
        print(f"# {generate_bench_web(web_dir, pages, n_seeds=seeds)}",
              file=sys.stderr)
    return web_dir


def engine_visits(pages: int, seeds: int, depth: int, cores: int,
                  ingest: bool = False):
    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.engine.frontier import FrontierEngine, fresh_ckpt
    from crawler_spark.plans.session import get_spark

    web = ensure_bench_web(pages, seeds)
    cfg = CrawlConfig(max_depth=depth,
                      rate_limit=max(50_000, pages // 20),
                      batch_window_ms=1000)
    spark = get_spark("sim-check", cores=cores, shuffle_partitions=cores)
    ck_base = ("/dev/shm/crawler_spark_bench"
               if os.path.isdir("/dev/shm") else "/tmp/crawler_spark_bench")
    eng = FrontierEngine(spark, cfg, web,
                         fresh_ckpt(os.path.join(ck_base, "ckpt_simcheck")),
                         enforce_politeness=True,
                         ingest_images=ingest)
    visits = eng.run()
    rows = visits.orderBy("visit_rank").collect()
    got = [(r["visit_rank"], r["url"], r["url_hash"], r["host"], r["depth"],
            r["parent_url"], r["link_index"], r["prio"], r["status_code"],
            r["batch_id"]) for r in rows]
    img_stats, caps = None, None
    if ingest:
        # image-axis parity at bench scale: the claims-narrowed final
        # images table vs the byte dim (bytes verbatim, validation
        # green, phash recomputed from fetched bytes — exact for png,
        # bounded Hamming drift for the lossy round trip), plus the
        # first-DFS-visitor caption attribution, all compared against
        # the sequential simulator's download set below
        from pyspark.sql import functions as F
        imgs = eng.images(visits)
        dim = (spark.read.parquet(f"{web}/images.parquet")
               .select("src", F.col("phash").alias("dim_phash"),
                       F.xxhash64("bytes").alias("dim_bh")))
        j = (imgs.withColumn("bh", F.xxhash64("bytes"))
             .join(dim, "src", "left")
             .select("src", "valid", "fmt",
                     (F.col("bh") == F.col("dim_bh")).alias("beq"),
                     F.bit_count(F.col("phash").bitwiseXOR(
                         F.col("dim_phash"))).alias("ham")))
        agg = j.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("valid"), 0).otherwise(1)).alias("n_invalid"),
            F.sum(F.when(F.col("beq"), 0).otherwise(1)).alias("n_bytes_neq"),
            F.max(F.when(F.col("fmt") == "png", F.col("ham"))
                  .otherwise(0)).alias("png_ham_max"),
            F.max(F.when(F.col("fmt") != "png", F.col("ham"))
                  .otherwise(0)).alias("lossy_ham_max")).collect()[0]
        img_stats = {k: int(agg[k]) for k in
                     ("n", "n_invalid", "n_bytes_neq",
                      "png_ham_max", "lossy_ham_max")}
        caps = {r["src"]: (r["caption"], r["page_url"],
                           r["first_visit_rank"])
                for r in eng.image_captions(visits).collect()}
    spark.stop()
    return web, got, img_stats, caps


def oracle_visits(web: str, pages: int, depth: int):
    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.oracle.simulator import run_oracle

    cfg = CrawlConfig(max_depth=depth,
                      rate_limit=max(50_000, pages // 20),
                      batch_window_ms=1000)
    res = run_oracle(web, cfg)
    visits = [(v.rank, v.url, v.url_hash, v.host, v.depth, v.parent_url,
               v.link_index, v.prio, v.status_code, v.batch_id)
              for v in res.visits]
    rank_of = {v.url: v.rank for v in res.visits}
    caps = {}
    for im in res.images:          # appended in DFS visit order
        if im["src"] not in caps:
            caps[im["src"]] = (im["caption"], im["page_url"],
                               rank_of[im["page_url"]])
    return visits, caps


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--seeds", type=int, default=1024)
    ap.add_argument("--depth", type=int, default=8)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--ingest-images", action="store_true",
                    help="also run the in-loop image ingest and check "
                         "the final images + caption-attribution "
                         "tables against the simulator's download set "
                         "and the byte dim")
    args = ap.parse_args()

    t0 = time.time()
    web, got, img_stats, eng_caps = engine_visits(
        args.pages, args.seeds, args.depth, args.cores,
        args.ingest_images)
    t_eng = time.time() - t0
    print(f"# engine: {len(got)} visits in {t_eng:.1f}s", file=sys.stderr)

    t1 = time.time()
    exp, orc_caps = oracle_visits(web, args.pages, args.depth)
    t_orc = time.time() - t1
    print(f"# oracle: {len(exp)} visits in {t_orc:.1f}s", file=sys.stderr)

    first_mismatch = None
    for i, (g, e) in enumerate(zip(got, exp)):
        if g != e:
            first_mismatch = {"rank": i, "engine": list(map(str, g)),
                              "oracle": list(map(str, e))}
            break
    rows_equal = first_mismatch is None and len(got) == len(exp)
    out = {
        "pages": args.pages, "engine_visits": len(got),
        "oracle_visits": len(exp), "rows_equal": rows_equal,
        "first_mismatch": first_mismatch,
        "engine_sec": round(t_eng, 1), "oracle_sec": round(t_orc, 1),
    }
    ok = rows_equal
    if args.ingest_images:
        # set parity on srcs AND identical (caption, page, first-rank)
        # attribution; bytes verbatim vs the dim; validation green;
        # phash exact for png, bounded drift for the lossy round trip
        images_ok = (
            set(eng_caps) == set(orc_caps)
            and eng_caps == orc_caps
            and img_stats["n"] == len(orc_caps)
            and img_stats["n_invalid"] == 0
            and img_stats["n_bytes_neq"] == 0
            and img_stats["png_ham_max"] == 0
            # lossy drift is informational: bytes are verbatim vs the
            # dim (n_bytes_neq == 0 above), so the decoded pixels ARE
            # the dim's decode (PSNR = inf); the dim's own pre-encode
            # vs post-encode PSNR >= 40 dB is pinned by
            # tests/test_images.py. The recomputed phash may flip
            # low-confidence DCT-sign bits on tiny bench images —
            # bounded, not exact.
            and img_stats["lossy_ham_max"] <= 16)
        out["images"] = dict(img_stats, oracle_srcs=len(orc_caps),
                             captions_equal=eng_caps == orc_caps,
                             images_equal=images_ok)
        ok = ok and images_ok
    print(json.dumps(out))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
