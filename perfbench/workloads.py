"""Workload shapes and output checks.

``crawl_polite_resume``: a 20k-page synthetic web (200 hosts, one
mega-host with 30 % of the pages, ~5 links and 0-3 image refs per page,
256 seeds) crawled to depth 2 with the per-host politeness budget on:
200 fetches per host per window, below the ~500 mega-host pages the
crawl reaches, so the mega-host keeps draining for a few windows
after the breadth-first rounds (6 rounds in all). The crawl is
interrupted after ``INTERRUPT_AFTER`` rounds and finished by a fresh
engine on the same checkpoint.

``corpus_dedup``: ``jobs.corpus_job.run_corpus`` over a seeded corpus
with a planted near-duplicate structure (see inputs.corpus_dir).

Sizes are set by the run-time budget: at local[4] a crawl round costs
1.5-4 s whatever its size, a run must stay near a minute, and a traced
run (two workers) must end within 180 s.
"""

from __future__ import annotations

import itertools
import json
import os

import inputs
from crawler_spark.engine.config import CrawlConfig

CRAWL_WEB = dict(pages=20_000, hosts=200, seeds=256, mega_pct=30)
CRAWL_CFG = CrawlConfig(max_depth=2, rate_limit=200)
INTERRUPT_AFTER = 3

CORPUS = dict(bases=500, variants=3, exact=1, salad=2_000, groups=400,
              members=5)
# cross-group cosines of the planted 64-dim vectors stay far below 0.9
CORPUS_ARGS = dict(minhash_threshold=0.5, cosine_threshold=0.9)


def prepare(workload: str, work: str, seed: int) -> str:
    """Generate (or reuse) the inputs for ``seed`` and, for the crawl,
    the oracle golden. Runs outside every timing."""
    if workload == "corpus_dedup":
        return inputs.corpus_dir(work, CORPUS, seed)
    web = inputs.web_dir(work, CRAWL_WEB, seed)
    inputs.crawl_golden(web, CRAWL_CFG)
    return web


def load_golden(web: str) -> dict:
    return inputs.crawl_golden(web, CRAWL_CFG)


def keep_cc_in(cluster, work_dir: str) -> None:
    """Route connected_components' per-round label tables into
    ``work_dir`` (its public ``work_dir`` argument) instead of the
    system temp dir."""
    cc, calls = cluster.connected_components, itertools.count()

    def in_work_dir(*args, **kwargs):
        kwargs.setdefault("work_dir",
                          os.path.join(work_dir, f"cc{next(calls)}"))
        return cc(*args, **kwargs)
    cluster.connected_components = in_work_dir


def verify_corpus(out: str, stats: dict, corpus: str) -> list[str]:
    """Differences between run_corpus' stats and cluster tables and
    the planted structure."""
    import pyarrow.parquet as pq

    with open(os.path.join(corpus, "expected.json")) as f:
        expected = json.load(f)
    errors = []
    if stats != expected["stats"]:
        errors.append(f"corpus stats {stats} != {expected['stats']}")
    for table, key, want in (("doc_clusters", "doc_id", "doc_canonical"),
                             ("vec_clusters", "vec_id", "vec_canonical")):
        t = pq.read_table(os.path.join(out, table),
                          columns=[key, "canonical_id"])
        got = dict(zip(map(str, t[key].to_pylist()),
                       t["canonical_id"].to_pylist()))
        if got != expected[want]:
            errors.append(f"{table} differ from the planted clusters")
    return errors
