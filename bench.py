"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the frontier
crawl itself on a generated synthetic web. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ...,
 "frontier": {urls, sec, urls_per_sec}}.

Scaling-efficiency evidence (north rule, two cluster sizes) lives in
tools/bench_scaling.py, which runs the same frontier job at two local
parallelism levels in separate JVMs and reports
eff = T_large/(ratio × T_small); results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline subset: the shuffle/join/window/UDF-heavy representatives
HEADLINE = [
    "url_canonicalize", "seen_anti_join", "politeness_budget",
    "asof_attribution", "modal_scoring", "dedup_window", "region_rollup",
    "dedup_exact", "trigram_jaccard", "minhash_lsh",
    "simhash_pairs", "doc_stats", "cosine_pairs", "ann_topk",
    "lsh_ann", "image_phash_dedup", "image_thumbnail",
    # perf-tracked since r5: the forward-fill frame window and the
    # P2+P3 pacing lane chains are plans that can silently degrade
    "session_pacing", "frame_serve",
]
# each headline query is timed REPEATS times and the MEDIAN committed,
# with per-query spread alongside — BASELINE.md documents identical-code
# epochs swinging individual queries 2x in both directions, so a
# single-run artifact cannot distinguish noise from regression
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# token_jaccard (unigram, t=0.9) is in the correctness battery but not
# the headline: on this corpus its TRUE result set grows ~quadratically
# with sf (most word-salad docs exceed 0.9 unigram overlap), so its
# runtime measures output volume, not engine efficiency.

# 300k keeps the per-round bench under ~5 min wall; scaling evidence
# (tools/bench_scaling.py) uses 1M+ via SPARK_GRAFT_BENCH_PAGES
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "300000"))
# 1024 seeds: early BFS rounds carry real work instead of being pure
# per-round overhead (64 seeds left rounds 0-4 trivially small)
BENCH_SEEDS = int(os.environ.get("SPARK_GRAFT_BENCH_SEEDS", "1024"))
BENCH_WEB_DIR = os.environ.get(
    "SPARK_GRAFT_BENCH_WEB",
    f"/tmp/crawler_spark_bench/web-{BENCH_PAGES}-s{BENCH_SEEDS}")


def ensure_bench_web(pages: int | None = None,
                     seeds: int | None = None) -> str:
    """Generate (once, cached) the bench synthetic web: BENCH_PAGES
    URLs, 1000 hosts, one mega-host with ~30% of pages (vectorized
    generator — see crawler_spark/sources/synth_web.py)."""
    if pages is None and seeds is None:
        web_dir = BENCH_WEB_DIR
    else:
        pages = pages or BENCH_PAGES
        seeds = seeds or BENCH_SEEDS
        web_dir = f"/tmp/crawler_spark_bench/web-{pages}-s{seeds}"
    pages = pages or BENCH_PAGES
    seeds = seeds or BENCH_SEEDS
    marker = os.path.join(web_dir, "web_pages.parquet")
    # images.parquet doubles as a generator-version marker: webs cached
    # by the pre-image generator lack it, and their pages carry no
    # image refs — regenerate (and drop the bucketed cache, whose page
    # rows embed the old empty images column)
    if (not os.path.exists(marker)
            or not os.path.exists(os.path.join(web_dir, "images.parquet"))):
        import shutil

        from crawler_spark.sources.synth_web import generate_bench_web

        shutil.rmtree(web_dir.rstrip("/") + "-bucketed64",
                      ignore_errors=True)
        print(f"# generating bench web ({pages} pages)…", file=sys.stderr)
        print(f"# {generate_bench_web(web_dir, pages, n_seeds=seeds)}",
              file=sys.stderr)
    return web_dir


def run_frontier_bench(spark, max_depth: int = 8,
                       pages: int | None = None,
                       seeds: int | None = None,
                       ingest_images: bool = False) -> dict:
    """The engine's own metric: URLs scheduled+fetched per second on
    the synthetic frontier. Reported in two parts:
      * explore — the distributed schedule+fetch+extract+admit loop
        (the machinery the scaling criterion measures),
      * resolve — the exact-DFS ordering pass, which is DELIBERATELY
        a compact sequential sweep (lex-first search is P-complete;
        see engine/frontier.py) and therefore a constant, not a
        scaling term."""
    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.engine.frontier import FrontierEngine, fresh_ckpt

    web = ensure_bench_web(pages, seeds)
    # politeness ON: the north star names a politeness-aware fetch
    # scheduler, so the headline number includes per-host budgeted
    # batch selection. rate_limit is the bench crawler's per-host
    # capacity (the reference's rateLimit is a config knob,
    # crawler-engine.ts:81); it scales with the web so the mega-host
    # (~30% of pages) drains in a handful of extra politeness windows
    # at any benchmark size instead of serializing the whole bench on
    # one host's queue — the deferral/budget machinery is exercised
    # identically, just not degenerate.
    pg = pages or BENCH_PAGES
    cfg = CrawlConfig(max_depth=max_depth,
                      rate_limit=max(50_000, pg // 20),
                      batch_window_ms=1000)
    # checkpoint on tmpfs: round outputs are re-read every round; the
    # sandbox's /tmp disk throttles that at high core counts
    ck_base = ("/dev/shm/crawler_spark_bench"
               if os.path.isdir("/dev/shm") else "/tmp/crawler_spark_bench")
    ck = fresh_ckpt(os.path.join(ck_base, "ckpt"))
    t0 = time.time()
    # bucketed-web cache sits NEXT TO the generated web (persistent
    # across runs and shared by both scaling-bench children); the
    # one-time bucketing cost is inside the first run's timing
    eng = FrontierEngine(spark, cfg, web, ck,
                         enforce_politeness=True,
                         bucketed_web_dir=web.rstrip("/") + "-bucketed64",
                         web_buckets=64,
                         ingest_images=ingest_images,
                         bucketed_images_dir=(
                             web.rstrip("/") + "-imgbucketed64"
                             if ingest_images else None))
    eng.explore()
    t_explore = time.time() - t0
    t1 = time.time()
    visits = eng.resolve()
    t2 = time.time()
    n = visits.count()
    t_resolve = time.time() - t1
    dt = time.time() - t0
    steps = dict(getattr(eng, "timings", {}))
    # the final visits assembly job (fetched-status join + host
    # politeness window) executes at this count — a distributed job,
    # timed separately so the resolve breakdown has no silent gap
    steps["visits_job"] = round(time.time() - t2, 2)
    out = {"urls": n, "sec": round(dt, 2),
           "urls_per_sec": round(n / dt, 1),
           "explore_sec": round(t_explore, 2),
           "explore_urls_per_sec": round(n / t_explore, 1),
           "resolve_sec": round(t_resolve, 2),
           "resolve_steps": steps}
    if ingest_images:
        with open(os.path.join(ck, "metrics.jsonl")) as f:
            ms = [json.loads(line) for line in f]
        new = sum(m.get("images_new", 0) for m in ms)
        out["images_new"] = new
        out["images_invalid"] = sum(m.get("images_invalid", 0)
                                    for m in ms)
        out["images_per_sec"] = round(new / t_explore, 1)
        # the image path's own wall time (per-round `images` step =
        # src distinct + seen anti-join + byte fetch + Arrow
        # decode/validate/phash + snapshot commit) — the direct
        # image-axis rate, not diluted by the link-frontier work
        t_ing = sum(m.get("steps", {}).get("images", 0.0) for m in ms)
        if t_ing > 0:
            out["ingest_sec"] = round(t_ing, 2)
            out["ingest_images_per_sec"] = round(new / t_ing, 1)
    return out


def main() -> None:
    from crawler_spark.plans.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    # untimed JVM/codegen prewarm (same methodology the scaling bench
    # documents): a neutral parquet-read + shuffle + codegen pass over
    # the two tiny dims, so the first timed query measures the query,
    # not executor startup and whole-stage compilation
    from pyspark.sql import functions as F
    t0 = time.time()
    (spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
     .join(spark.read.parquet(os.path.join(SF_DIR, "nation.parquet")),
           F.expr("r_regionkey = n_regionkey"))
     .groupBy("r_name").agg(F.count("*")).collect())
    spark.range(1_000_000).select(
        F.max(F.xxhash64("id"))).collect()

    qs = entry.queries()
    # per-query steady-state prewarm: run every headline query ONCE at
    # the smallest SF before timing it at the target SF. The dedup /
    # similarity queries build large expression trees (64 minhash
    # lanes, 16-band digests, zip_with verification) whose one-time
    # Catalyst analysis + whole-stage compilation costs 1-3 s — pure
    # constant, independent of data size. Measured warm-vs-cold at
    # sf0.1: minhash signature pipeline 4.5 s cold vs 0.3 s warm on
    # identical data. At the 100 TB design point that constant is
    # noise, so steady-state timing is the representative number; the
    # same plan SHAPE at sf0.001 hits Spark's generated-class cache.
    # Disable with SPARK_GRAFT_PREWARM=0 to measure cold-start.
    warm_dir = os.environ.get("SPARK_GRAFT_PREWARM_SF",
                              "/root/testdata/sf0.001")
    if (os.environ.get("SPARK_GRAFT_PREWARM", "1") == "1"
            and os.path.isdir(warm_dir)):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).count()
            except Exception as exc:  # prewarm must never fail the bench
                print(f"# prewarm {name} skipped: {exc}", file=sys.stderr)
    print(f"# prewarm: {time.time() - t0:.2f}s", file=sys.stderr)
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = qs[name]
        samples = []
        n = 0
        for _ in range(max(1, REPEATS)):
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            samples.append(time.time() - t0)
        samples.sort()
        med = samples[len(samples) // 2]
        times[name] = round(med, 3)
        # relative spread (max-min)/median over the repeats: the
        # artifact's own noise control for round-over-round diffs
        spread[name] = round((samples[-1] - samples[0]) / med, 2) \
            if med > 0 else 0.0
        total += med
        print(f"# {name}: {med:.2f}s (spread {spread[name]:.0%} "
              f"over {len(samples)} runs) rows={n}", file=sys.stderr)

    corpus = {}
    if os.environ.get("SPARK_GRAFT_SKIP_CORPUS", "") != "1":
        # the composed end-to-end LLM-corpus pipeline (features →
        # exact dedup → MinHash CC → canonical docs + embedding
        # clusters, jobs/corpus_job.py) — tracked so regressions in
        # the one composed artifact show up in BENCH_rNN diffs
        import shutil

        from jobs.corpus_job import run_corpus
        corpus_out = "/tmp/crawler_spark_bench/corpus"
        shutil.rmtree(corpus_out, ignore_errors=True)
        t0 = time.time()
        # threshold 0.4 measured against the synthetic embeddings'
        # cosine distribution: 920 edges → 1087 canonical of 2000 at
        # sf0.1 — real near-dup merging. 0.3 sat below the noise floor
        # (14,922 edges chain ALL 2000 vectors into one component) and
        # 0.5 finds almost nothing (14 edges) — both degenerate for a
        # dedup benchmark.
        cstats = run_corpus(
            spark, os.path.join(SF_DIR, "documents.parquet"), corpus_out,
            embeddings=os.path.join(SF_DIR, "embeddings.parquet"),
            cosine_threshold=0.4)
        corpus = {"sec": round(time.time() - t0, 2), **cstats}
        print(f"# corpus: {corpus}", file=sys.stderr)

    frontier = {}
    if os.environ.get("SPARK_GRAFT_SKIP_FRONTIER", "") != "1":
        # image ingest ON by default: the in-loop decode/dedup/commit
        # path is a first-class part of the engine's per-round work
        # (disable with SPARK_GRAFT_INGEST_IMAGES=0 to time the pure
        # link frontier)
        frontier = run_frontier_bench(
            spark,
            ingest_images=os.environ.get(
                "SPARK_GRAFT_INGEST_IMAGES", "1") == "1")
        print(f"# frontier: {frontier}", file=sys.stderr)

    out = {
        "metric": "headline query suite + frontier crawl wall time",
        # value keeps its r01-r04 definition (queries + frontier) so
        # round-over-round comparisons stay apples-to-apples; the
        # corpus pipeline is tracked as its own key. Since r5 each
        # query's committed time is the MEDIAN of `repeats` runs.
        "value": round(total + float(frontier.get("sec", 0.0)), 3),
        "unit": "sec",
        "queries": times,
        "query_spread": spread,
        "repeats": max(1, REPEATS),
        "sf": SF_DIR,
        "frontier": frontier,
        "corpus": corpus,
        "cpus": CPUS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    import argparse

    # configured through SPARK_GRAFT_* environment variables only;
    # the parser gives --help a usage text instead of a bench run
    argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter).parse_args()
    main()
