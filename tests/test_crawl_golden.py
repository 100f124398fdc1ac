"""Golden crawl parity: the Spark engine (parallel explore + DFS-claim
resolve) must reproduce the sequential oracle simulator row-for-row —
visit order, priorities, depths, parents, statuses, politeness batch
schedule, URL-seen set, error rows, and image+caption refs
(FIXTURES.md invariants 1-3; reference semantics cited in
crawler_spark/oracle/simulator.py)."""

from __future__ import annotations

import os

import pytest

from crawler_spark.engine.config import CrawlConfig
from crawler_spark.engine.frontier import FrontierEngine, fresh_ckpt
from crawler_spark.oracle.simulator import run_oracle

FIXDIR = "fixtures/t-smoke"

CONFIGS = {
    "default_d3": CrawlConfig(max_depth=3),
    "restricted_d5": CrawlConfig(max_depth=5, restrict_domains=True),
    "sample_anchors_d4": CrawlConfig(max_depth=4, sample_mode=True,
                                     follow_link_tags=("a",)),
}


def _visit_tuple_engine(r):
    return (r["visit_rank"], r["url"], r["url_hash"], r["host"], r["depth"],
            r["parent_url"], r["link_index"], r["prio"], r["status_code"],
            r["batch_id"])


def _visit_tuple_oracle(v):
    return (v.rank, v.url, v.url_hash, v.host, v.depth, v.parent_url,
            v.link_index, v.prio, v.status_code, v.batch_id)


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_engine_matches_oracle(spark, tmp_path, name):
    cfg = CONFIGS[name]
    eng = FrontierEngine(spark, cfg, FIXDIR, fresh_ckpt(str(tmp_path / name)))
    visits = eng.run().cache()

    got = [_visit_tuple_engine(r) for r in visits.orderBy("visit_rank").collect()]
    oracle = run_oracle(FIXDIR, cfg)
    exp = [_visit_tuple_oracle(v) for v in oracle.visits]
    assert got == exp  # full row-wise crawl-order + attribution match

    # URL-seen set (invariant 2)
    seen = {r["url"] for r in visits.select("url").collect()}
    assert seen == oracle.seen

    # error rows (E9 categorization + P5 CrawlError shape)
    err_rows = eng.errors(visits).collect()
    errs = {(r["url"], r["error_type"]) for r in err_rows}
    assert errs == {(e["url"], e["error_type"]) for e in oracle.errors}
    # P5: reference records retry_attempts: 0 on every failure
    # (crawler-engine.ts:710) and a non-empty message
    assert all(r["retry_attempts"] == 0 and r["error_message"]
               for r in err_rows)

    # image+caption refs of visited pages (E3)
    refs = {(r["page_url"], r["src"], r["caption"])
            for r in eng.image_refs(visits).collect()}
    assert refs == {(i["page_url"], i["src"], i["caption"])
                    for i in oracle.images}
    visits.unpersist()


def test_html_mode_matches_oracle(spark, tmp_path):
    """Raw-HTML fetch mode: a web table carrying an `html` payload
    instead of pre-parsed structs flips the engine to run the E1
    HTML-parse stage inside its fetch path — and the crawl still
    reproduces the sequential oracle row-for-row, closing the gap
    between the contract's parse queries and the engine loop."""
    from crawler_spark.sources.fixtures import write_html_web
    hdir = str(tmp_path / "html-fix")
    os.makedirs(hdir)
    write_html_web(spark, FIXDIR, os.path.join(hdir, "web_pages.parquet"))
    for f in ("seeds.parquet", "robots.parquet"):
        os.symlink(os.path.abspath(os.path.join(FIXDIR, f)),
                   os.path.join(hdir, f))
    cfg = CrawlConfig(max_depth=3)
    eng = FrontierEngine(spark, cfg, hdir, fresh_ckpt(str(tmp_path / "hck")))
    assert eng.parse_from_html
    visits = eng.run().cache()
    got = [_visit_tuple_engine(r)
           for r in visits.orderBy("visit_rank").collect()]
    oracle = run_oracle(FIXDIR, cfg)
    assert got == [_visit_tuple_oracle(v) for v in oracle.visits]
    # image+caption refs derive from PARSED <img> tags in this mode
    refs = {(r["page_url"], r["src"], r["caption"])
            for r in eng.image_refs(visits).collect()}
    assert refs == {(i["page_url"], i["src"], i["caption"])
                    for i in oracle.images}
    visits.unpersist()


def _write_disjoint_trees_fixture(path: str, n_trees: int = 4) -> int:
    """One complete binary tree of depth 3 per host, no cross-host
    links, one seed per tree root: seed branches whose subgraphs are
    disjoint. Returns the page count per tree."""
    def link(i, href):
        return dict(href=href, label=f"l{i}", selector=f"a.l{i}",
                    element_type="a", pos_x=0, pos_y=0, link_index=i)

    def page(url, hrefs):
        host = url.split("/")[2]
        return dict(url=url, host=host, status_code=200,
                    title=f"T {url}", meta_description="", text_content="",
                    headings=[], links=[link(i, h)
                                        for i, h in enumerate(hrefs)],
                    images=[], forms=[], load_time_ms=10)

    os.makedirs(path, exist_ok=True)
    pages, seed_urls = [], []
    n_tree = 2 ** 4 - 1
    for h in range(n_trees):
        base_u = f"http://h{h}.test"
        seed_urls.append(f"{base_u}/n0")
        for i in range(n_tree):
            kids = [f"{base_u}/n{c}" for c in (2 * i + 1, 2 * i + 2)
                    if c < n_tree]
            pages.append(page(f"{base_u}/n{i}", kids))
    _write_web_tables(path, pages, seed_urls)
    return n_tree


def test_disjoint_trees_match_oracle(spark, tmp_path):
    """Disjoint per-host trees — seed branches that share no page, so
    every seed claims its whole branch — reproduce the sequential
    oracle ROW-FOR-ROW including visit_rank, prio and batch_id."""
    web = str(tmp_path / "disjoint-web")
    n_tree = _write_disjoint_trees_fixture(web)
    cfg = CrawlConfig(max_depth=4, rate_limit=10_000)
    eng = FrontierEngine(spark, cfg, web,
                         fresh_ckpt(str(tmp_path / "disjoint")))
    got = [_visit_tuple_engine(r) for r in
           eng.run().orderBy("visit_rank").collect()]
    exp = [_visit_tuple_oracle(v) for v in run_oracle(web, cfg).visits]
    assert got == exp
    assert len(got) == 4 * n_tree


def test_resume_mid_crawl(spark, tmp_path):
    """Kill after 2 explore rounds, resume in a new engine instance →
    outputs identical to an uninterrupted run (FIXTURES.md inv. 6)."""
    cfg = CrawlConfig(max_depth=3)
    ck = fresh_ckpt(str(tmp_path / "resume"))
    eng1 = FrontierEngine(spark, cfg, FIXDIR, ck)
    eng1.explore(max_rounds=2)
    assert not eng1._state()["done"]

    eng2 = FrontierEngine(spark, cfg, FIXDIR, ck)  # fresh instance
    visits = eng2.run()
    got = [_visit_tuple_engine(r) for r in visits.orderBy("visit_rank").collect()]
    exp = [_visit_tuple_oracle(v) for v in run_oracle(FIXDIR, cfg).visits]
    assert got == exp


def _write_depth_trap_fixture(path: str) -> None:
    """Minimal web where politeness deferral admits a URL at a
    NON-minimal depth: the hot.test queue (cap 1/round) defers `zz`
    (the depth-1 parent of `c`) for three rounds while the side.test
    chain p1→p2→p3 reaches `c` at depth 4 first. Without the
    depth-correcting admit, `c` is frozen at depth 4 == max_depth, its
    child `d` is rejected by the depth cap and never fetched, and the
    DFS resolve then claims `d` via zz→c→d at depth 3 with a bogus 404
    and loses `e` (depth 4) entirely."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)

    def link(i, href):
        return dict(href=href, label=f"l{i}", selector=f"a.l{i}",
                    element_type="a", pos_x=0, pos_y=0, link_index=i)

    def page(url, hrefs):
        host = url.split("/")[2]
        return dict(url=url, host=host, status_code=200,
                    title=f"T {url}", meta_description="", text_content="",
                    headings=[], links=[link(i, h)
                                        for i, h in enumerate(hrefs)],
                    images=[], forms=[], load_time_ms=10)

    pages = [
        page("http://seed.test/s0",
             ["http://hot.test/a1", "http://hot.test/a2",
              "http://hot.test/a3", "http://hot.test/zz",
              "http://side.test/p1"]),
        page("http://hot.test/a1", []),
        page("http://hot.test/a2", []),
        page("http://hot.test/a3", []),
        page("http://hot.test/zz", ["http://x.test/c"]),
        page("http://side.test/p1", ["http://side.test/p2"]),
        page("http://side.test/p2", ["http://side.test/p3"]),
        page("http://side.test/p3", ["http://x.test/c"]),
        page("http://x.test/c", ["http://y.test/d"]),
        page("http://y.test/d", ["http://z.test/e"]),
        page("http://z.test/e", []),
    ]
    _write_web_tables(path, pages, ["http://seed.test/s0"])


def _write_web_tables(path: str, pages: list[dict],
                      seed_urls: list[str]) -> None:
    """Write a hand-built page list (the `page()` dict shape above) as
    a complete web fixture dir: web_pages + zero-delay robots + seeds
    in list order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    link_t = pa.list_(pa.struct([
        ("href", pa.string()), ("label", pa.string()),
        ("selector", pa.string()), ("element_type", pa.string()),
        ("pos_x", pa.int32()), ("pos_y", pa.int32()),
        ("link_index", pa.int32())]))
    img_t = pa.list_(pa.struct([("src", pa.string()),
                                ("alt", pa.string())]))
    form_t = pa.list_(pa.struct([
        ("action", pa.string()), ("method", pa.string()),
        ("fields", pa.list_(pa.string()))]))
    cols = {k: [p[k] for p in pages] for k in pages[0]}
    tbl = pa.table({
        "url": cols["url"], "host": cols["host"],
        "status_code": pa.array(cols["status_code"], pa.int32()),
        "title": cols["title"],
        "meta_description": cols["meta_description"],
        "text_content": cols["text_content"],
        "headings": pa.array(cols["headings"], pa.list_(pa.string())),
        "links": pa.array(cols["links"], link_t),
        "images": pa.array(cols["images"], img_t),
        "forms": pa.array(cols["forms"], form_t),
        "load_time_ms": pa.array(cols["load_time_ms"], pa.int32()),
    })
    pq.write_table(tbl, os.path.join(path, "web_pages.parquet"))
    hosts = sorted({p["host"] for p in pages})
    pq.write_table(pa.table({
        "host": hosts,
        "disallow_prefixes": pa.array([[]] * len(hosts),
                                      pa.list_(pa.string())),
        "crawl_delay_ms": pa.array([0] * len(hosts), pa.int64()),
    }), os.path.join(path, "robots.parquet"))
    pq.write_table(pa.table({
        "url": seed_urls,
        "seed_rank": pa.array(range(len(seed_urls)), pa.int32()),
    }), os.path.join(path, "seeds.parquet"))


def test_politeness_depth_correction(spark, tmp_path):
    """Regression: deferred shallow parents must not freeze a URL at an
    inflated depth (subtree truncation at the max_depth cap). The
    engine with politeness ON must still match the oracle exactly."""
    fix = str(tmp_path / "trap-fixture")
    _write_depth_trap_fixture(fix)
    cfg = CrawlConfig(max_depth=4, rate_limit=1)
    eng = FrontierEngine(spark, cfg, fix,
                         fresh_ckpt(str(tmp_path / "trap-ck")),
                         enforce_politeness=True)
    visits = eng.run()
    got = [_visit_tuple_engine(r)
           for r in visits.orderBy("visit_rank").collect()]
    exp = [_visit_tuple_oracle(v) for v in run_oracle(fix, cfg).visits]
    # the deepest chain (…→zz→c→d→e) must be present with real statuses
    assert "http://z.test/e" in {t[1] for t in got}
    assert got == exp


def test_politeness_enforcement(spark, tmp_path):
    """With enforce_politeness=True every explore round starts at most
    host_cap(host) fetches per host (W5/P1 upgraded per-host), and the
    final outputs still match the oracle exactly."""
    import json
    import os

    from pyspark.sql import functions as F

    cfg = CrawlConfig(max_depth=2, rate_limit=6)
    ck = fresh_ckpt(str(tmp_path / "polite"))
    eng = FrontierEngine(spark, cfg, FIXDIR, ck, enforce_politeness=True)
    visits = eng.run()

    robots = {r["host"]: r["crawl_delay_ms"]
              for r in eng.robots.select("host", "crawl_delay_ms").collect()}
    fetched = (spark.read.parquet(os.path.join(ck, "crawl"))
               .filter(F.col("kind") == "page"))
    per_round = (fetched.groupBy("round", "host").agg(F.count("*").alias("n"))
                 .collect())
    for r in per_round:
        cap = cfg.host_cap(robots.get(r["host"], 0))
        assert r["n"] <= cap, (r["host"], r["round"], r["n"], cap)

    got = [_visit_tuple_engine(x) for x in visits.orderBy("visit_rank").collect()]
    exp = [_visit_tuple_oracle(v) for v in run_oracle(FIXDIR, cfg).visits]
    assert got == exp

    # per-round metrics + per-partition lineage were checkpointed
    with open(os.path.join(ck, "metrics.jsonl")) as f:
        rounds = [json.loads(line) for line in f]
    assert len(rounds) >= 2
    assert all({"round", "scheduled", "edges", "partitions"} <= set(m)
               for m in rounds)


def test_freeze_store_write_once_and_resume(spark, tmp_path):
    """Freeze-and-cursor deferral store (the Q²/2c write-amplification
    fix, frontier.py:_write_frontier): under politeness, pending rows
    that can never be overtaken are written ONCE to the append-only
    sel=f store and popped by cursor range — never re-ranked or
    rewritten. Checks: (a) freezing actually triggers at this cap,
    (b) write-once — every frozen row hits disk exactly once over the
    whole drain, (c) the cursor fully consumes the store by crawl
    end and pops exactly the frozen rows, (d) every freeze dir is
    retired from the live-dirs registry once drained, (e) a mid-drain
    resume in a FRESH engine instance restores the cursor from its
    per-round parquet and still matches the oracle row-for-row."""
    import glob
    import json

    import pandas as pd

    cfg = CrawlConfig(max_depth=3, rate_limit=6)
    ck = fresh_ckpt(str(tmp_path / "fz"))
    eng1 = FrontierEngine(spark, cfg, FIXDIR, ck, enforce_politeness=True)
    eng1.explore(max_rounds=8)            # interrupt mid-drain
    assert not eng1._state()["done"]

    eng2 = FrontierEngine(spark, cfg, FIXDIR, ck,
                          enforce_politeness=True)  # fresh instance
    visits = eng2.run()
    got = [_visit_tuple_engine(r)
           for r in visits.orderBy("visit_rank").collect()]
    exp = [_visit_tuple_oracle(v) for v in run_oracle(FIXDIR, cfg).visits]
    assert got == exp

    # (a) + (b): the store saw rows, and no frozen row was ever
    # rewritten — total sel=f rows across all rounds == distinct urls
    ffiles = glob.glob(os.path.join(ck, "frontier", "round=*", "sel=f",
                                    "*.parquet"))
    assert ffiles, "freezing never triggered — test config is vacuous"
    fz = spark.read.parquet(*ffiles)
    n_rows = fz.count()
    assert n_rows > 0
    assert n_rows == fz.select("url").distinct().count()

    # (c): drained — the final cursor shows every frozen row popped
    last = sorted(glob.glob(os.path.join(ck, "cursor",
                                         "round=*.parquet")))[-1]
    cur = pd.read_parquet(last)
    assert int(cur["frozen_total"].sum()) == n_rows
    assert (cur["consumed"] == cur["frozen_total"]).all()

    # metrics carry the freeze telemetry, and every frozen row was
    # popped exactly once
    with open(os.path.join(ck, "metrics.jsonl")) as f:
        ms = [json.loads(line) for line in f]
    assert sum(m.get("frozen", 0) for m in ms) == n_rows
    assert sum(m.get("popped", 0) for m in ms) == n_rows

    # (d): drained dirs leave the live list, so the pop scan's dir set
    # is bounded by drain depth, not crawl length
    assert len(eng2._fdirs) == 0
    last_dirs = sorted(glob.glob(os.path.join(ck, "cursor",
                                              "dirs=*.parquet")))[-1]
    assert len(pd.read_parquet(last_dirs)) == 0


def test_resolve_timings_disjoint_per_call(spark, tmp_path):
    """Two consecutive resolve() calls on one engine must each report
    their OWN step breakdown — the same steps, and no accumulated
    seconds (the timing double-count bug class ADVICE flagged in
    round 4). Each call's numeric steps must sum to no more than that
    call's wall time."""
    import time as _time

    cfg = CrawlConfig(max_depth=3)
    eng = FrontierEngine(spark, cfg, FIXDIR,
                         fresh_ckpt(str(tmp_path / "tmg")))
    eng.explore()

    runs = []
    for _ in range(2):
        t0 = _time.time()
        n = eng.resolve().count()
        runs.append((n, _time.time() - t0, dict(eng.timings)))

    (n1, _, s1), (n2, _, s2) = runs
    assert n1 == n2
    assert s1.keys() == s2.keys()
    for _, wall, steps in runs:
        tot = sum(v for k, v in steps.items()
                  if k != "sweep_impl"
                  and isinstance(v, (int, float))
                  and not isinstance(v, bool))
        assert tot <= wall + 1.0, (tot, wall, steps)


def test_node_ceiling_fails_before_skeleton(spark, tmp_path, monkeypatch):
    """The sweep addresses nodes with int32 ids, so a node table of
    2^31 or more nodes must fail loudly — with NodeCeilingError naming
    the ceiling — before any skeleton is written. The node table's
    parquet footers are made to report 2^31 extra rows each, so no
    such table has to exist."""
    import pyarrow.parquet as pq

    from crawler_spark.engine.frontier import MAX_NODES, NodeCeilingError

    cfg = CrawlConfig(max_depth=3)
    ck = fresh_ckpt(str(tmp_path / "ceiling"))
    eng = FrontierEngine(spark, cfg, FIXDIR, ck)
    eng.explore()

    real_file = pq.ParquetFile

    class _InflatedMeta:
        def __init__(self, md):
            self._md = md

        @property
        def num_rows(self):
            n = self._md.num_rows
            return n + MAX_NODES if n else 0

        def __getattr__(self, name):
            return getattr(self._md, name)

    class _InflatedFile:
        def __init__(self, *args, **kwargs):
            self._pf = real_file(*args, **kwargs)

        @property
        def metadata(self):
            return _InflatedMeta(self._pf.metadata)

        def __getattr__(self, name):
            return getattr(self._pf, name)

    monkeypatch.setattr(pq, "ParquetFile", _InflatedFile)
    with pytest.raises(NodeCeilingError, match=r"2\^31"):
        eng.resolve()
    assert not os.path.exists(os.path.join(ck, "skeleton"))


def test_skeleton_memory_guard_fails_before_sweep(spark, tmp_path,
                                                  monkeypatch):
    """A skeleton whose sweep needs more driver memory than the host
    has available fails loudly — SkeletonMemoryError naming both byte
    counts — after the skeleton is written and before it is read, so
    no sweep runs and no claims are written."""
    from crawler_spark.engine import frontier as fr

    cfg = CrawlConfig(max_depth=3)
    ck = fresh_ckpt(str(tmp_path / "memguard"))
    eng = FrontierEngine(spark, cfg, FIXDIR, ck)
    eng.explore()

    monkeypatch.setattr(fr, "_mem_available", lambda: 1024)
    with pytest.raises(fr.SkeletonMemoryError) as ei:
        eng.resolve()
    n_edges = sum(eng._footer_rows(os.path.join(ck, "skeleton")).values())
    _, n_nodes = fr._node_offsets(os.path.join(ck, "nodes"))
    need = fr._SWEEP_EDGE_BYTES * n_edges + fr._SWEEP_NODE_BYTES * n_nodes
    assert n_edges > 0 and need > 1024
    assert f"{need} bytes" in str(ei.value)
    assert "1024 bytes" in str(ei.value)
    assert not os.path.exists(os.path.join(ck, "claims"))


def test_inloop_image_ingest_matches_oracle(spark, tmp_path):
    """In-loop image ingest (north-star core loop: fetched image bytes
    decoded/validated via Arrow UDFs with dedup INSIDE the micro-batch
    rounds, frontier.py:_ingest_images). Interrupts after 2 rounds and
    resumes in a fresh engine (the src-seen anti-join must only see
    strictly-prior rounds). Checks, against the sequential oracle and
    the byte dim: exact src-set parity, write-once across rounds,
    byte-for-byte + decoded-pixel equality, phash recomputed from the
    fetched bytes equals the dim's, validation all-green, per-round
    ingest metrics, and first-DFS-visit caption attribution."""
    import json

    from crawler_spark.core.imaging import decode_image, phash64, psnr

    cfg = CrawlConfig(max_depth=3)
    ck = fresh_ckpt(str(tmp_path / "ingest"))
    eng1 = FrontierEngine(spark, cfg, FIXDIR, ck, ingest_images=True)
    eng1.explore(max_rounds=2)
    eng = FrontierEngine(spark, cfg, FIXDIR, ck, ingest_images=True)
    visits = eng.run()
    o = run_oracle(FIXDIR, cfg)

    ingested = (eng.images_table.read(with_partition_columns=True)
                .select("src").collect())
    exp_srcs = {im["src"] for im in o.images}
    # explore ingests speculatively: a superset (a page can be fetched
    # by BFS yet DFS-claimed at a depth whose children are rejected),
    # written once per src across rounds
    assert {r["src"] for r in ingested} >= exp_srcs
    assert len(ingested) == len({r["src"] for r in ingested})

    # the FINAL table (claims-join narrowing) is the reference's
    # downloaded set exactly
    got = eng.images(visits).collect()
    assert {r["src"] for r in got} == exp_srcs
    assert len(got) == len(exp_srcs)

    dim = {r["src"]: r for r in
           spark.read.parquet(f"{FIXDIR}/images.parquet").collect()}
    for r in got:
        d = dim[r["src"]]
        assert r["valid"]
        assert bytes(r["bytes"]) == bytes(d["bytes"])
        # recomputed phash: exact for png; the dim's phash was taken
        # PRE-encode, so lossy formats may flip a few low-confidence
        # bits after the encode/decode round trip (PSNR >= 40 dB)
        ham = bin((r["phash"] ^ d["phash"]) & ((1 << 64) - 1)).count("1")
        assert ham == 0 if r["fmt"] == "png" else ham <= 6, \
            (r["src"], r["fmt"], ham)
        px = decode_image(bytes(r["bytes"]), r["fmt"])
        gold = decode_image(bytes(d["bytes"]), d["fmt"])
        assert psnr(px, gold) == float("inf")
        assert phash64(px) == r["phash"]

    # per-round fetch/dedup metrics from footers
    with open(os.path.join(ck, "metrics.jsonl")) as f:
        ms = [json.loads(line) for line in f]
    assert sum(m.get("images_new", 0) for m in ms) == len(ingested)
    assert sum(m.get("images_invalid", 0) for m in ms) == 0

    # caption attribution: first page in DFS order wins per src
    caps = {r["src"]: (r["caption"], r["first_visit_rank"])
            for r in eng.image_captions(visits).collect()}
    rank_of = {v.url: v.rank for v in o.visits}
    first = {}
    for im in o.images:            # appended in DFS visit order
        if im["src"] not in first:
            first[im["src"]] = (im["caption"], rank_of[im["page_url"]])
    assert caps == first


def test_image_ingest_resume_identity(spark, tmp_path):
    """Image-ingest resume: kill after 2 rounds, resume in a fresh
    engine → the images table (which src was ingested in which round,
    its bytes, phash and validity) equals an uninterrupted run's row
    for row, so the src-seen anti-join stays write-once per src
    across the restart."""
    cfg = CrawlConfig(max_depth=3)
    ck = fresh_ckpt(str(tmp_path / "ingest-resume"))
    eng1 = FrontierEngine(spark, cfg, FIXDIR, ck, ingest_images=True)
    eng1.explore(max_rounds=2)
    assert not eng1._state()["done"]

    eng2 = FrontierEngine(spark, cfg, FIXDIR, ck, ingest_images=True)
    eng2.run()
    # uninterrupted reference run
    ck3 = fresh_ckpt(str(tmp_path / "ingest-plain"))
    eng3 = FrontierEngine(spark, cfg, FIXDIR, ck3, ingest_images=True)
    eng3.run()
    outs = []
    for eng in (eng2, eng3):
        rows = (eng.images_table.read(with_partition_columns=True)
                .selectExpr("src", "round", "phash", "valid",
                            "xxhash64(bytes) as bh")
                .collect())
        outs.append(sorted((r["src"], r["round"], r["phash"],
                            r["valid"], r["bh"]) for r in rows))
    assert outs[0] == outs[1]
    assert len(outs[0]) > 0


def test_image_ingest_flags_corrupt_bytes(spark, tmp_path):
    """Validation path of the in-loop ingest: undecodable bytes and
    metadata/pixel dimension mismatches land in the valid=false
    partition (counted per round from footers as images_invalid),
    never poison the valid set, and never crash the Arrow decode
    batch."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_spark.core.imaging import phash64, png_encode, render_image

    fix = str(tmp_path / "corrupt-fixture")
    os.makedirs(fix, exist_ok=True)

    def img(src, alt):
        return dict(src=src, alt=alt)

    pages = [dict(
        url="http://a.test/root", host="a.test", status_code=200,
        title="root", meta_description="", text_content="", headings=[],
        links=[],
        images=[img("http://a.test/ok.png", "fine"),
                img("http://a.test/broken.png", "garbage bytes"),
                img("http://a.test/wrongdims.png", "lying metadata")],
        forms=[], load_time_ms=10)]
    link_t = pa.list_(pa.struct([
        ("href", pa.string()), ("label", pa.string()),
        ("selector", pa.string()), ("element_type", pa.string()),
        ("pos_x", pa.int32()), ("pos_y", pa.int32()),
        ("link_index", pa.int32())]))
    img_t = pa.list_(pa.struct([("src", pa.string()),
                                ("alt", pa.string())]))
    form_t = pa.list_(pa.struct([
        ("action", pa.string()), ("method", pa.string()),
        ("fields", pa.list_(pa.string()))]))
    cols = {k: [p[k] for p in pages] for k in pages[0]}
    pq.write_table(pa.table({
        "url": cols["url"], "host": cols["host"],
        "status_code": pa.array(cols["status_code"], pa.int32()),
        "title": cols["title"],
        "meta_description": cols["meta_description"],
        "text_content": cols["text_content"],
        "headings": pa.array(cols["headings"], pa.list_(pa.string())),
        "links": pa.array(cols["links"], link_t),
        "images": pa.array(cols["images"], img_t),
        "forms": pa.array(cols["forms"], form_t),
        "load_time_ms": pa.array(cols["load_time_ms"], pa.int32()),
    }), os.path.join(fix, "web_pages.parquet"))
    pq.write_table(pa.table({
        "host": ["a.test"],
        "disallow_prefixes": pa.array([[]], pa.list_(pa.string())),
        "crawl_delay_ms": pa.array([0], pa.int64()),
    }), os.path.join(fix, "robots.parquet"))
    pq.write_table(pa.table({
        "url": ["http://a.test/root"],
        "seed_rank": pa.array([0], pa.int32()),
    }), os.path.join(fix, "seeds.parquet"))

    ok_px = render_image("ok", 20, 12)
    pq.write_table(pa.table({
        "src": ["http://a.test/ok.png", "http://a.test/broken.png",
                "http://a.test/wrongdims.png"],
        "image_id": ["id-ok", "id-broken", "id-wrongdims"],
        "bytes": pa.array([png_encode(ok_px), b"not a png at all",
                           png_encode(render_image("small", 4, 4))],
                          pa.binary()),
        "w": pa.array([20, 20, 20], pa.int32()),
        "h": pa.array([12, 12, 12], pa.int32()),
        "fmt": ["png", "png", "png"],
        "caption": ["fine", "garbage bytes", "lying metadata"],
        "phash": pa.array([phash64(ok_px), 0, 0], pa.int64()),
    }), os.path.join(fix, "images.parquet"))

    cfg = CrawlConfig(max_depth=1)
    ck = fresh_ckpt(str(tmp_path / "corrupt-ck"))
    eng = FrontierEngine(spark, cfg, fix, ck, ingest_images=True)
    visits = eng.run()

    # typed read: `valid` is a hive partition dir, so an inference
    # read would surface it as string — the engine's schema types it
    rows = {r["image_id"]: r for r in
            eng.images_table.read(with_partition_columns=True,
                                  schema=eng._IMG_INGEST_SCHEMA).collect()}
    assert rows["id-ok"]["valid"] is True
    assert rows["id-ok"]["phash"] == phash64(ok_px)
    assert rows["id-broken"]["valid"] is False
    assert rows["id-wrongdims"]["valid"] is False

    with open(os.path.join(ck, "metrics.jsonl")) as f:
        ms = [json.loads(line) for line in f]
    assert sum(m.get("images_new", 0) for m in ms) == 3
    assert sum(m.get("images_invalid", 0) for m in ms) == 2
    # the final (claims-narrowed) table still carries the invalid rows
    # tagged, so downstream can quarantine rather than silently drop
    assert {r["image_id"]: r["valid"] for r in
            eng.images(visits).collect()} == {
        "id-ok": True, "id-broken": False, "id-wrongdims": False}
