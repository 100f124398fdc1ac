"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline extensions (dedup,
similarity search, text analysis, multimodal), each re-expressed over
the driver's deterministic parquet tables; `oracle_sql()` gives the
DuckDB-equivalent SQL for every SQL-expressible one. Crawl-specific
semantics that have no SQL oracle (exact DFS ordering, politeness
scheduling, checkpoint/resume, image decode) are verified instead by
the golden-oracle pytest suite (tests/test_crawl_golden.py,
tests/test_images.py) against the sequential reference simulator.

Column names are aliased identically on both sides; integer outputs
are BIGINT/long on both sides; doubles are produced by identical
expression trees (single divisions / identical fold order) and
rounded, so cross-engine value hashes match.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.functions.text import (breadcrumb_trail, categorize_error,
                                          css_selector, top_headings,
                                          truncate_text)
from crawler_spark.functions.urls import canonicalize_url, url_slug
from crawler_spark.operators.dedup import (exact_dedup, jaccard_pairs,
                                           minhash_lsh_pairs, simhash_pairs,
                                           tokens_col)
from crawler_spark.operators.images import decode_and_phash, phash_dedup
from crawler_spark.operators.multimodal import (audio_features, caption_stats,
                                                frame_sample, thumbnail)
from crawler_spark.operators.similarity import (ann_topk, cosine_pairs,
                                                ivf_topk,
                                                lsh_bucketed_neighbors)
from crawler_spark.operators.textstats import (doc_fingerprint,
                                               text_features,
                                               winnow_fingerprints)

_REPO = os.path.dirname(os.path.abspath(__file__))
_IMG_FIXTURES = os.path.join(_REPO, "fixtures", "t-smoke", "images.parquet")
_WEB_FIXTURES = os.path.join(_REPO, "fixtures", "t-smoke",
                             "web_pages.parquet")


def _GOLDEN(name: str) -> str:
    """Committed golden-parquet oracle (tools/gen_golden_oracles.py —
    pure-Python generators, no Spark) for queries whose semantics
    DuckDB SQL cannot express."""
    return os.path.join(_REPO, "fixtures", "oracle", f"{name}.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# crawl-core operator analogs over the driver tables
# ---------------------------------------------------------------------------

def _raw_url() -> Column:
    """Synthetic messy URL per customer (uppercase host, default port,
    unsorted query, fragment) — canonicalization test input (F2)."""
    return F.concat(
        F.lit("HTTP://WWW.Example.COM:80/seg/"), F.col("c_mktsegment"),
        F.lit("/c"), F.col("c_custkey").cast("string"),
        F.lit("?z=9&a=1&m="), (F.col("c_custkey") % 3).cast("string"),
        F.lit("#frag"))


def q_url_canonicalize(spark, sf_dir):
    """F2 canonicalization + E8 slug as native exprs."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        canonicalize_url(_raw_url()).alias("canon_url"),
        url_slug(_raw_url()).alias("slug"))


def q_seen_anti_join(spark, sf_dir):
    """J1/F3: the URL-seen anti-join shape (candidates minus seen)."""
    cust = _t(spark, sf_dir, "customer")
    seen = (_t(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select(F.col("o_custkey").alias("c_custkey")))
    return cust.join(seen, "c_custkey", "left_anti").select("c_custkey")


def q_politeness_budget(spark, sf_dir):
    """W5/P1: per-host (nation) budget scheduling — rank within host,
    batch = rank // cap with a per-host cap."""
    cust = _t(spark, sf_dir, "customer")
    cap = (F.lit(2) + F.col("c_nationkey") % 4).cast("long")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (cust.withColumn("rn", F.row_number().over(w).cast("long"))
            .select("c_custkey",
                    F.col("c_nationkey").cast("long").alias("c_nationkey"),
                    F.floor((F.col("rn") - 1) / cap).alias("batch_id")))


def q_first_match_scan(spark, sf_dir):
    """W2: first-match-wins scan (first order per customer)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", F.col("o_orderkey").alias("first_orderkey")))


def q_crawl_counters(spark, sf_dir):
    """A1/A2/A3: outcome counters + guarded success_rate.

    The rate is emitted as integer parts-per-million computed with
    pure integer arithmetic (1e6·n_success div n_total) — double
    division + round produced engine-dependent low-bit formatting
    (the round-1 hash mismatch); integers hash identically
    everywhere."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_total"),
                 F.sum(F.when(F.col("o_orderstatus") == "O", 1)
                       .otherwise(0)).alias("n_open"),
                 (F.lit(1000000)
                  * F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                          .otherwise(0))).alias("_f"))
            .select("o_orderpriority", "n_total", "n_open",
                    F.expr("_f div n_total").alias("success_ppm")))


def q_page_text_features(spark, sf_dir):
    """E6/E7 + F6/F7 fused per-page projection: breadcrumb trail
    synthesis, top-3 heading slice, text truncation, and deterministic
    CSS selector generation ('#id' → 'tag.c1.c2' → bare tag). One
    query per row grain keeps every operator inside the driver's
    50-query correctness window (merged breadcrumb / headings_top3 /
    selector_synthesis; the operators are unchanged)."""
    p = _t(spark, sf_dir, "part")
    path = F.concat(F.lit("/"),
                    F.regexp_replace(F.lower("p_type"), " ", "/"),
                    F.lit("/"), F.col("p_partkey").cast("string"))
    words = F.split(F.col("p_name"), " ")
    tag = F.when(F.col("p_partkey") % 2 == 0, "div").otherwise("button")
    elem_id = F.when(F.col("p_partkey") % 5 == 0,
                     F.concat(F.lit("el-"), F.col("p_partkey").cast("string"))
                     ).otherwise(F.lit(""))
    classes = F.when(F.col("p_partkey") % 3 == 0, F.lit("")).otherwise(
        F.lower(F.regexp_replace("p_type", " ", "  ")))
    return p.select(
        "p_partkey",
        breadcrumb_trail(path).alias("trail"),
        F.array_join(top_headings(words, 3), " | ").alias("top3"),
        truncate_text(F.col("p_name"), 15).alias("excerpt"),
        css_selector(tag, elem_id, classes).alias("selector"))


def q_event_annotate(spark, sf_dir):
    """E9 + E10 + ST6/F11 fused per-event projection: error-type
    bucketing when-chain, type-dispatched action description
    templates, and the console-message pattern router with its noise
    filter carried as a flag (merged error_categorize / action_format
    / console_router — all share the one-row-per-event grain; the
    router's drop-filter becomes `is_noise`, the same fusion style
    ring_buffer uses for the SO1-SO4 set algebra)."""
    e = _t(spark, sf_dir, "events")
    msg = (F.when(F.col("value") < 20, "Navigation timeout at step")
           .when(F.col("value") < 40, "HTTP 404 not found")
           .when(F.col("value") < 60, "JavaScript execution failed")
           .otherwise("connection reset"))
    v = F.round(F.col("value"), 2)
    desc = (
        F.when(F.col("event_type") == "click",
               F.format_string("Clicked element at value %.2f", v))
        .when(F.col("event_type") == "view",
              F.format_string("Viewed page for %.2f units", v))
        .when(F.col("event_type") == "signup",
              F.lit("Submitted signup form"))
        .otherwise(F.format_string("Event %s", F.col("event_type"))))
    cmsg = F.concat(F.lit("["), F.upper("event_type"), F.lit("] value="),
                    F.col("value").cast("string"))
    routed = (
        F.when(cmsg.rlike(r"^\[ERROR\]"), "error_handler")
        .when(cmsg.rlike(r"^\[(CLICK|VIEW)\]"), "interaction_recorder")
        .when(cmsg.rlike(r"^\[SIGNUP\]"), "form_tracker")
        .otherwise("ignore"))
    return e.select("event_id", categorize_error(msg).alias("error_type"),
                    desc.alias("description"), routed.alias("route"),
                    cmsg.rlike(r"value=4[0-9]{2}\.").alias("is_noise"))


def q_asof_attribution(spark, sf_dir):
    """J7/ST5: as-of join — each error event attributed to the latest
    prior (or simultaneous) non-error action of the same user."""
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    act = F.when(F.col("event_type") != "error", F.col("event_type"))
    return (e.withColumn("last_action_type", F.last(act, ignorenulls=True).over(w))
            .filter(F.col("event_type") == "error")
            .select("event_id", "last_action_type"))


def q_modal_scoring(spark, sf_dir):
    """M2/M3/A6/W3: heuristic element scorer (when-chain sum), score
    threshold, top-1 per group."""
    e = _t(spark, sf_dir, "events")
    z = F.floor(F.col("value") * 20).cast("int")
    k = F.get_json_object("props", "$.k").cast("int")
    score = (
        (F.when(F.col("event_type").isin("view", "click"), 30).otherwise(20))
        + (F.when(z > 1000, 25).when(z > 100, 15).otherwise(0))
        + (F.when((k >= 20) & (k <= 80), 25).otherwise(0))
        + (F.when(F.col("event_type") == "signup", 15).otherwise(0))
    ).cast("long")
    scored = e.select("user_id", "event_id", score.alias("score"))
    w = Window.partitionBy("user_id").orderBy(F.col("score").desc(),
                                              F.col("event_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("score") >= 50))
            .select("user_id", "event_id", "score"))


def q_forms_extract(spark, sf_dir):
    """E4: nested form extraction — explode array<struct> from the
    synthetic web, project action/method/field count."""
    w = spark.read.parquet(_WEB_FIXTURES)
    return (w.select("url", F.explode("forms").alias("f"))
            .select("url", F.col("f.action").alias("action"),
                    F.col("f.method").alias("method"),
                    F.size("f.fields").cast("long").alias("n_fields")))


def q_dedup_window(spark, sf_dir):
    """ST4: time-window dedup — drop events repeating the same
    (user, type) within 3 s of the previous kept-or-dropped one
    (lag-based, mirroring the reference's 3 s screenshot window)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))  # NTZ → UTC instant
    return (e.withColumn("ms", ms)
            .withColumn("prev_ms", F.lag("ms").over(w))
            .filter(F.col("prev_ms").isNull()
                    | (F.col("ms") - F.col("prev_ms") > 3000))
            .select("event_id"))


def q_ring_buffer(spark, sf_dir):
    """A8 last-N retention per key (N=20) + SO1-SO4 set algebra: the
    `active` flag marks users in (clicks ∪ views) \\ high-value-error
    users (merged set_ops — the union-distinct-anti-join plan shape is
    preserved, only its result is carried as a flag)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    errs = (e.filter((F.col("event_type") == "error") & (F.col("value") > 400))
            .select("user_id"))
    active = (clicks.union(views).distinct()
              .join(errs, "user_id", "left_anti")
              .withColumn("active", F.lit(True)))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 20)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_recent"),
                 F.max("ts").alias("last_ts"))
            .join(active, "user_id", "left")
            .withColumn("active", F.coalesce("active", F.lit(False))))


def q_region_rollup(spark, sf_dir):
    """J4 + A-series: broadcast dim joins + grouped rollup (exact
    integer cents, no float sums)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    j = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    # cents via floor(x*100 + 0.5): both engines evaluate the same
    # IEEE-double expression then floor it — no engine-specific
    # decimal rounding of doubles (the round-1 hash mismatch)
    return (j.groupBy("r_name")
            .agg(F.countDistinct("n_nationkey").alias("n_nations"),
                 F.count("*").alias("n_customers"),
                 F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
                 .alias("total_cents")))


def q_training_freq(spark, sf_dir):
    """A4: training-pattern frequency maps with bucketing (zIndex
    high/medium/low analog)."""
    e = _t(spark, sf_dir, "events")
    z = F.floor(F.col("value") * 20).cast("int")
    bucket = (F.when(z > 1000, "high").when(z > 100, "medium")
              .otherwise("low"))
    return (e.groupBy(F.col("event_type"), bucket.alias("z_bucket"))
            .agg(F.count("*").alias("n")))


def q_sitemap_tree(spark, sf_dir):
    """J3 nested sitemap build (crawler-engine.ts:1760-1781
    buildSitemap): root at startUrl, children where parent_url ==
    node.url, recursion bounded by maxDepth — here ≤max_depth
    iterative level joins over a synthetic decimal-digit page tree
    derived from `part` (url p<k>, parent p<k//10>, digits as
    levels). The J2 parent→children aggregation rides along fused
    (n_children + first_child per node — same per-parent groupBy the
    nav-path builder needs). Oracle: the same recursion as a DuckDB
    recursive CTE."""
    from crawler_spark.operators.sitemap import sitemap_tree
    p = _t(spark, sf_dir, "part")
    pages = p.select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("url"),
        F.when(F.col("p_partkey") < 10, F.lit("root"))
        .otherwise(F.concat(F.lit("p"),
                            (F.col("p_partkey") / 10).cast("int")
                            .cast("string"))).alias("parent_url"),
        F.col("p_name").alias("title"))
    return (sitemap_tree(pages, "root", max_depth=6)
            .select("url", "title",
                    F.col("tree_depth").cast("long").alias("tree_depth"),
                    "path", "n_children", "first_child"))


# ---------------------------------------------------------------------------
# record-mode / HTML operator families (SURVEY.md §2.8-2.9) over
# deterministic derivations of the driver tables
# ---------------------------------------------------------------------------

def q_modal_lifecycle(spark, sf_dir):
    """ST3: keyed modal state machine (open → change → close) over
    presence snapshots derived from events (session=user, selector=
    event_type, tick=floor(value/5))."""
    from crawler_spark.streaming.record_mode import modal_lifecycle
    e = _t(spark, sf_dir, "events")
    snaps = (e.groupBy(F.col("user_id").alias("session_id"),
                       F.col("event_type").alias("selector"),
                       F.floor(F.col("value") / 5).cast("long").alias("tick"))
             .agg(F.coalesce(F.min(F.get_json_object("props", "$.k")),
                             F.lit("")).alias("content")))
    return (modal_lifecycle(snaps)
            .select("session_id", "selector",
                    F.col("tick").cast("long").alias("tick"), "event"))


def q_rules_merge(spark, sf_dir):
    """M4: site-rules MERGE (upsert keyed by domain/page_path/selector,
    version bump, last-writer-wins within the batch) — state from
    nation, training batch from customer."""
    from crawler_spark.streaming.record_mode import merge_site_rules
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    state = n.select(
        F.concat(F.lit("d"), (F.col("n_nationkey") % 5).cast("string"))
        .alias("domain"),
        F.lit("/p").alias("page_path"),
        F.concat(F.lit("s"), F.floor(F.col("n_nationkey") / 5).cast("string"))
        .alias("selector"),
        F.concat(F.lit("c"), F.col("n_nationkey").cast("string"))
        .alias("component_id"),
        F.col("n_name").alias("classes"),
        F.lit(0).cast("long").alias("updated_ts"),
        (F.lit(1) + F.col("n_nationkey") % 2).cast("long").alias("version"))
    training = c.select(
        F.concat(F.lit("d"), (F.col("c_custkey") % 6).cast("string"))
        .alias("domain"),
        F.lit("/p").alias("page_path"),
        F.concat(F.lit("s"), (F.col("c_custkey") % 7).cast("string"))
        .alias("selector"),
        F.concat(F.lit("t"), F.col("c_custkey").cast("string"))
        .alias("component_id"),
        F.col("c_mktsegment").alias("classes"),
        F.col("c_custkey").cast("long").alias("ts"))
    return merge_site_rules(state, training).select(
        "domain", "page_path", "selector", "component_id", "classes",
        "version")


def q_uncaptured_modals(spark, sf_dir):
    """J6: modal-vs-captured anti-join on (session, selector,
    content[:50]) (browser-session.ts:4008-4015). Detected modals from
    odd events, captured set from even events."""
    from crawler_spark.streaming.record_mode import uncaptured_modals
    e = _t(spark, sf_dir, "events")
    content = F.get_json_object("props", "$.k")
    detected = (e.filter(F.col("event_id") % 2 == 1)
                .select(F.col("user_id").alias("session_id"),
                        F.col("event_type").alias("selector"),
                        F.col("event_id").alias("modal_id"),
                        content.alias("content")))
    captured = (e.filter(F.col("event_id") % 2 == 0)
                .select(F.col("user_id").alias("session_id"),
                        F.col("event_type").alias("selector"),
                        content.alias("content")))
    return (uncaptured_modals(detected, captured)
            .select("session_id", "selector", "modal_id",
                    "content_preview"))


def q_component_monitor(spark, sf_dir):
    """M8: trained-component monitor — rules ⋈ live visible elements
    per tick, monitor-start on run begin, disappeared-state cleanup at
    run end (browser-session.ts:2934-2997)."""
    from crawler_spark.streaming.record_mode import component_monitor
    n = _t(spark, sf_dir, "nation")
    e = _t(spark, sf_dir, "events")
    rules = n.select(
        F.concat(F.lit("d"), (F.col("n_nationkey") % 5).cast("string"))
        .alias("domain"),
        F.lit("/p").alias("page_path"),
        F.concat(F.lit("s"), (F.col("n_nationkey") % 3).cast("string"))
        .alias("selector"),
        F.concat(F.lit("c"), F.col("n_nationkey").cast("string"))
        .alias("component_id"))
    elements = (e.select(
        F.col("user_id").alias("session_id"),
        F.concat(F.lit("d"), (F.col("event_id") % 5).cast("string"))
        .alias("domain"),
        F.lit("/p").alias("page_path"),
        F.concat(F.lit("s"), (F.col("event_id") % 3).cast("string"))
        .alias("selector"),
        (F.col("event_id") % 2).alias("instance"),
        (F.col("value") > 10.0).alias("visible"),
        F.floor(F.col("value") / 4).cast("long").alias("tick"))
        .distinct())
    return (component_monitor(rules, elements)
            .select("session_id", "uid",
                    F.col("tick").cast("long").alias("tick"), "event"))


def q_rules_delete(spark, sf_dir):
    """SO5: MERGE … WHEN MATCHED DELETE over the rules store — drop
    matching (domain, component_id) rows, bump the surviving domain
    version once per successful delete
    (delete-trained-component/route.ts:29-42)."""
    from crawler_spark.streaming.record_mode import delete_trained_components
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    state = n.select(
        F.concat(F.lit("d"), (F.col("n_nationkey") % 5).cast("string"))
        .alias("domain"),
        F.concat(F.lit("c"), F.col("n_nationkey").cast("string"))
        .alias("component_id"),
        F.concat(F.lit("s"), F.col("n_nationkey").cast("string"))
        .alias("selector"),
        (F.lit(2) + F.col("n_nationkey") % 5).cast("long").alias("version"))
    # joint residues of p_partkey mod 4 / mod 10 only cover same-parity
    # (domain, component) pairs, so part of the state survives: real
    # deletes, real 404s, real survivors at every sf
    deletes = p.select(
        F.concat(F.lit("d"), (F.col("p_partkey") % 4).cast("string"))
        .alias("domain"),
        F.concat(F.lit("c"), (F.col("p_partkey") % 10).cast("string"))
        .alias("component_id"))
    return (delete_trained_components(state, deletes)
            .select("domain", "component_id", "selector", "version"))


def q_screenshot_serve(spark, sf_dir):
    """F12+S8: screenshot serving — id-validation guard (reject empty
    / '..' / '/' / '\\' filenames with 400,
    screenshots/[filename]/route.ts:15-17) then lookup in the shot
    store (404 when absent, 200 served)."""
    from crawler_spark.functions.urls import valid_screenshot_id
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey").cast("string")
    filename = (
        F.when(F.col("p_partkey") % 5 == 0, F.concat(F.lit("../shots/"), k))
        .when(F.col("p_partkey") % 5 == 1,
              F.concat(F.lit("dir/"), k, F.lit(".png")))
        .when(F.col("p_partkey") % 5 == 2, F.concat(F.lit("c:\\win\\"), k))
        .when(F.col("p_partkey") % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("shot-"), k, F.lit(".png"))))
    req = p.select("p_partkey", filename.alias("filename"))
    store = (p.filter(F.col("p_partkey") % 2 == 0)
             .select(F.concat(F.lit("shot-"), k, F.lit(".png"))
                     .alias("filename"))
             .distinct().withColumn("found", F.lit(1)))
    return (req.join(F.broadcast(store), "filename", "left")
            .select("p_partkey", "filename",
                    F.when(~valid_screenshot_id(F.col("filename")),
                           F.lit(400))
                    .when(F.col("found").isNull(), F.lit(404))
                    .otherwise(F.lit(200)).cast("long").alias("status")))


def q_extract_page(spark, sf_dir):
    """E1/E2/E5/E14: the raw-HTML parse stage end-to-end. HTML is
    synthesized deterministically from `part` columns, parsed by the
    distributed mapInPandas stage
    (crawler_spark.operators.html_parse), and the oracle recomputes
    every extracted field directly from the same columns — verifying
    link provenance, the internal/external partition with
    onclick/data-url mining, selector synthesis, heading/image/form
    extraction and CSS url() absolutization value-for-value."""
    from crawler_spark.operators.html_parse import parse_pages
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey").cast("string")
    base = F.concat(F.lit("http://h"), (F.col("p_partkey") % 7)
                    .cast("string"), F.lit(".example.com/page/"), k)
    html = F.concat(
        F.lit("<html><head><title>"), F.col("p_name"), F.lit("</title>"),
        F.lit('<style>a{background:url("/b.png")}</style></head><body>'),
        F.lit("<h1>H-"), k, F.lit("</h1>"),
        F.lit('<a href="/p/'), k,
        F.lit('" class="x" data-x="3" data-y="4">go</a>'),
        F.lit('<a href="http://ext.example.com/'), k, F.lit('">out</a>'),
        F.lit("<button class=\"b\" onclick=\"location.href='/buy/"), k,
        F.lit("'\">Buy</button>"),
        F.lit('<div data-url="/mined/'), k, F.lit('" onclick="x()">m</div>'),
        F.lit('<img src="/i/'), k, F.lit('.png" alt="cap '), k, F.lit('">'),
        F.lit('<form action="/submit" method="post">'
              '<input name="q"></form></body></html>'))
    out = parse_pages(p.select("p_partkey", base.alias("url"),
                               html.alias("html")))
    return out.select(
        "p_partkey", "title",
        F.size("links").cast("long").alias("n_links"),
        F.col("links")[0]["href"].alias("first_href"),
        F.col("links")[0]["selector"].alias("first_selector"),
        F.col("links")[0]["pos_x"].cast("long").alias("first_x"),
        F.col("links")[2]["selector"].alias("btn_selector"),
        F.col("links")[2]["href"].alias("btn_href"),
        F.size("headings").cast("long").alias("n_headings"),
        F.array_join("internal_urls", ",").alias("internal"),
        F.array_join("external_urls", ",").alias("external"),
        "css",
        F.col("images")[0]["alt"].alias("img_alt"),
        F.col("forms")[0]["method"].alias("form_method"))


def q_parent_components(spark, sf_dir):
    """M7: parent-component detection via DOM node-path prefix
    containment (nearest containing ancestor wins)."""
    from crawler_spark.streaming.record_mode import detect_parent_components
    p = _t(spark, sf_dir, "part")
    depth = F.col("p_partkey") % 3
    node_path = (
        F.when(depth == 0, F.lit("0"))
        .when(depth == 1, F.concat(F.lit("0/"),
                                   (F.col("p_partkey") % 4).cast("string")))
        .otherwise(F.concat(F.lit("0/"),
                            (F.col("p_partkey") % 4).cast("string"),
                            F.lit("/"),
                            (F.col("p_partkey") % 6).cast("string"))))
    comp = p.select(
        F.concat(F.lit("d"), (F.col("p_partkey") % 20).cast("string"))
        .alias("domain"),
        F.lit("/").alias("page_path"),
        F.col("p_partkey").cast("long").alias("component_id"),
        node_path.alias("node_path"))
    return (detect_parent_components(comp)
            .select("domain", "component_id", "node_path", "parent_id"))


def q_hier_selector(spark, sf_dir):
    """M5: hierarchical selector synthesis (deepest-ancestor-first
    fold over context elements; native array fold, no UDF)."""
    from crawler_spark.streaming.record_mode import hierarchical_selector
    p = _t(spark, sf_dir, "part")
    first_cls = F.lower(F.split(F.col("p_type"), " ")[0])
    ctx_t = "array<struct<tag:string,first_class:string,level:int>>"
    ctx = F.when(F.col("p_partkey") % 4 == 0, F.array().cast(ctx_t)).otherwise(
        F.array(
            F.struct(F.lit("div").alias("tag"),
                     first_cls.alias("first_class"),
                     F.lit(1).alias("level")),
            F.struct(F.lit("section").alias("tag"),
                     F.lit("").alias("first_class"),
                     F.lit(2).alias("level"))).cast(ctx_t))
    target = F.concat(F.lit("#el-"), F.col("p_partkey").cast("string"))
    return p.select("p_partkey",
                    hierarchical_selector(ctx, target).alias("selector"))


def q_html_sanitize(spark, sf_dir):
    """E13: no-JS HTML sanitizer (strip scripts + on* handlers,
    absolutize root-relative refs, banner) — Arrow-batched UDF."""
    from crawler_spark.operators.html import sanitize_html
    p = _t(spark, sf_dir, "part")
    html = F.concat(
        F.lit('<script>track()</script><div onclick="go()"><a href="/p/'),
        F.col("p_partkey").cast("string"), F.lit('">'), F.col("p_name"),
        F.lit("</a></div>"))
    return p.select(
        "p_partkey",
        sanitize_html(html, F.lit("https://example.com/x")).alias("html"))


def q_content_diff(spark, sf_dir):
    """E11: first-divergence content diff ('Changed from position i:
    "…50" to "…50"'; NULL when equal)."""
    from crawler_spark.operators.html import content_diff
    p = _t(spark, sf_dir, "part")
    prev = F.col("p_name")
    cur = (F.when(F.col("p_partkey") % 5 == 0, prev)
           .when(F.col("p_partkey") % 3 == 0,
                 F.concat(F.lit("Z"), F.substring(prev, 2, 1000000)))
           .otherwise(F.concat(prev, F.lit(" X"))))
    return p.select("p_partkey", content_diff(prev, cur).alias("diff"))


def q_screenshot_dedup(spark, sf_dir):
    """ST4: keyed-state screenshot dedup — previous-KEPT 3 s window
    chain per (session, component, reason), grouped applyInPandas
    (sequential within key, parallel across keys). DuckDB oracle: the
    kept-chain recurrence as a per-key recursive CTE (one recursion
    step per row rank); semantics also pinned by
    tests/test_record_mode.py."""
    from crawler_spark.streaming.record_mode import dedup_screenshots
    e = _t(spark, sf_dir, "events")
    shots = e.select(
        F.col("user_id").alias("session_id"),
        F.col("event_type").alias("component_id"),
        F.concat(F.lit("r"), (F.col("event_id") % 2).cast("string"))
        .alias("reason"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("shot_id"))
    return dedup_screenshots(shots).select("shot_id")


def q_frontier_crawl(spark, sf_dir):
    """The engine end-to-end (S1/S2/F1-F5/J1/W1/W5/SO1): explore +
    exact-DFS resolve over the deterministic t-smoke synthetic web.
    Exact crawl order is sequential-DFS semantics (not SQL-expressible),
    so the oracle is committed GOLDEN PARQUET from the independent
    no-Spark reference simulator (tools/gen_golden_oracles.py) and the
    driver hash-checks it like any SQL oracle; the same order is also
    pinned row-for-row in tests/test_crawl_golden.py."""
    import tempfile

    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.engine.frontier import FrontierEngine, fresh_ckpt
    fixture = os.path.join(_REPO, "fixtures", "t-smoke")
    # mkdtemp: two concurrent driver sessions must not share a path
    ck = fresh_ckpt(tempfile.mkdtemp(prefix="crawler_spark_contract_"))
    # politeness ON with a 60 s batch window: delay-capped hosts get
    # window/delay slots per round (t-smoke has 500-1000 ms crawl
    # delays; the default 1 s window capped them at 1-2 URLs/round and
    # serialized the whole run into ~95 nearly-empty rounds). The
    # scheduler is still fully exercised — per-host caps, deferral and
    # batch_id assignment all apply — just at a realistic window.
    eng = FrontierEngine(spark, CrawlConfig(max_depth=3, rate_limit=100,
                                            batch_window_ms=60_000),
                         fixture, ck, enforce_politeness=True)
    visits = eng.run()
    return visits.select("visit_rank", "url", "depth", "status_code",
                         "batch_id")


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(doc_fingerprint(F.col("text")).alias("fingerprint"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("dup_count")))


def q_token_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.9, n=1)


def q_trigram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.5, n=3)


def q_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=3)


def q_doc_stats(spark, sf_dir):
    """Text-pipeline per-doc stats, fused to one projection over one
    token array (text_features): quality features + score,
    token/subword counts, exact dedup fingerprint and marker-stopword
    language ID."""
    feats = ("n_tokens", "stopword_ratio", "punct_ratio", "quality",
             "n_subwords", "fingerprint", "lang")
    d = text_features(_t(spark, sf_dir, "documents"), {f: f for f in feats})
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        "quality",
        F.col("n_subwords").cast("long").alias("n_subwords"),
        "fingerprint", F.col("lang").alias("pred_lang"))


def q_winnow(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(winnow_fingerprints(F.col("text"))).cast("long")
        .alias("n_fingerprints"))


def q_cosine_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (cosine_pairs(emb, threshold=0.349)
            .filter(F.col("cosine") >= 0.35)
            .select("id_a", "id_b"))


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (ann_topk(emb, k=5)
            .select("qid", "nid", F.col("rank").cast("long").alias("rank"),
                    "cosine"))


def q_lsh_ann(spark, sf_dir):
    """LSH ANN with a FULL DuckDB oracle: the deterministic ±1
    hyperplanes are inlined into the SQL as literals, the bucket is
    the same 8-bit sign pattern, cosine is the same sequential double
    fold, and scores are integerized (floor(cos·10⁴+0.5)) on both
    sides so ordering and value hashes are engine-independent."""
    emb = _t(spark, sf_dir, "embeddings")
    return (lsh_bucketed_neighbors(emb, k=5)
            .select("qid", "nid", F.col("rank").cast("long").alias("rank"),
                    "cos_e4"))


def q_ivf_ann(spark, sf_dir):
    """IVF approximate top-k: deterministic coarse quantizer (hashed
    seed sample + distributed Lloyd iterations), inverted lists keyed
    by centroid, nprobe-bucket search. Hash-seeded centroids are not
    SQL-expressible, so the oracle is committed GOLDEN PARQUET from
    the independent numpy twin (tools/gen_golden_oracles.py:
    gen_ivf_ann) and the driver hash-checks it like any SQL oracle;
    recall + determinism are additionally pinned in
    tests/test_dedup_text.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return (ivf_topk(emb, k=5, n_centroids=16, nprobe=4)
            .select("qid", "nid", F.col("rank").cast("long").alias("rank"),
                    "cos_e4"))


# ---------------------------------------------------------------------------
# multimodal (image+caption fixtures; Arrow-batched pixel stages)
# ---------------------------------------------------------------------------

def _images(spark):
    return spark.read.parquet(_IMG_FIXTURES)


def q_caption_stats(spark, sf_dir):
    return (caption_stats(_images(spark))
            .select("image_id",
                    F.col("caption_tokens").cast("long").alias("caption_tokens"),
                    F.col("pixels").cast("long").alias("pixels"),
                    F.round("bytes_per_pixel", 6).alias("bytes_per_pixel")))


def q_image_decode(spark, sf_dir):
    out = decode_and_phash(_images(spark))
    return (out.groupBy("fmt")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("n_valid")))


def q_image_phash_dedup(spark, sf_dir):
    out = phash_dedup(_images(spark), max_hamming=10)
    return out.agg(
        F.count("*").alias("n_images"),
        F.countDistinct("canonical_id").alias("n_clusters"),
        F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)).alias("n_dups"))


def q_image_thumbnail(spark, sf_dir):
    """Thumbnail stage with a real oracle: the fixture precomputes
    each image's 16x16-box mean luma at generation time (from the
    decoded bytes, core.imaging.mean_luma), so DuckDB verifies the
    distributed decode→resize→luma path value-for-value."""
    return (thumbnail(_images(spark))
            .select("image_id",
                    F.col("thumb_w").cast("long").alias("thumb_w"),
                    F.col("thumb_h").cast("long").alias("thumb_h"),
                    "mean_luma"))


def q_audio_features(spark, sf_dir):
    """REAL audio pipeline: per-nation square-wave PCM16 → RIFF/WAV
    encode → distributed WAV parse + numpy DSP (operators/multimodal
    audio_features). Square waves make every feature closed-form, so
    the DuckDB oracle recomputes rms/peak/zero-crossings EXACTLY
    (integer-scaled) from the generation parameters alone — the
    decode+DSP path is fully oracle-checked, not rows-only."""
    n_t = _t(spark, sf_dir, "nation").select("n_nationkey")

    def gen(it):
        import numpy as np
        import pandas as pd

        from crawler_spark.core.audio import wav_encode
        for pdf in it:
            ids, blobs = [], []
            for k in pdf["n_nationkey"]:
                k = int(k)
                amp, half, n = 1000 + k * 700, 1 + k % 7, 500 + k * 37
                i = np.arange(n)
                s = np.where((i // half) % 2 == 0, amp, -amp)
                ids.append(f"n{k}")
                blobs.append(wav_encode(s.astype(np.int16), 8000))
            yield pd.DataFrame({"sample_id": ids, "bytes": blobs})

    payload = n_t.mapInPandas(gen, "sample_id string, bytes binary")
    return audio_features(payload).select(
        "sample_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
        F.round(F.col("peak") * 32768).cast("long").alias("peak_i"),
        F.round(F.col("rms") * 32768).cast("long").alias("rms_i"))


def q_frame_sample(spark, sf_dir):
    """REAL video pipeline: per-supplier M-PNG containers of rendered
    PNG frames → distributed demux + every-2nd-frame sample + real
    PNG decode (frame dims ride out). Frame indices/counts/dims are
    closed-form, so the oracle checks the demux+decode exactly."""
    s_t = _t(spark, sf_dir, "supplier").select("s_suppkey")

    def gen(it):
        import pandas as pd

        from crawler_spark.core.audio import mpng_encode
        from crawler_spark.core.imaging import png_encode, render_image
        for pdf in it:
            ids, blobs = [], []
            for k in pdf["s_suppkey"]:
                k = int(k)
                total = 3 + k % 9
                frames = [png_encode(render_image(f"v{k}-f{i}", 8, 6))
                          for i in range(total)]
                ids.append(f"v{k}")
                blobs.append(mpng_encode(frames))
            yield pd.DataFrame({"video_id": ids, "bytes": blobs})

    payload = s_t.mapInPandas(gen, "video_id string, bytes binary")
    return frame_sample(payload, every_n=2).select(
        "video_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("frame_w").cast("long").alias("frame_w"),
        F.col("frame_h").cast("long").alias("frame_h"))


def q_session_pacing(spark, sf_dir):
    """P2 + P3 fused at the action grain: the deterministic
    human-pacing schedule (xxhash64-lane think/typing delays with the
    reference's distributions and per-session cumulative start
    offsets, functions/humanize.py) plus the stealth session identity
    (UA-rotation + viewport-jitter lanes, functions/stealth.py) —
    every action row carries its session's fetch identity, the shape
    a fetch-time simulation consumes. Hash-seeded lanes are not
    SQL-expressible, so the oracle is committed golden parquet from
    the pure-Python xxhash64 twin (crawler_spark/oracle/
    pacing_oracle.py via tools/gen_golden_oracles.py); Spark↔twin
    bit-parity is additionally pinned in tests/test_pacing_parity.py."""
    from crawler_spark.functions.humanize import humanize_schedule
    from crawler_spark.functions.stealth import session_context
    e = _t(spark, sf_dir, "events")
    actions = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
        .alias("session_id"),
        F.col("event_id").cast("long").alias("action_index"),
        F.when(F.col("event_type") == "signup", F.lit("type"))
        .otherwise(F.col("event_type")).alias("action_type"),
        F.when(F.col("event_type") == "signup", F.col("props"))
        .alias("text"))
    out = session_context(humanize_schedule(actions))
    return out.select(
        "session_id", "action_index", "delay_ms", "type_ms",
        "start_offset_ms", "user_agent",
        F.col("viewport_w").cast("long").alias("viewport_w"),
        F.col("viewport_h").cast("long").alias("viewport_h"))


def q_frame_serve(spark, sf_dir):
    """S9 frame stream over the driver tables: every `view` event is
    a rendered preview frame (frame timestamp from the event's value
    column so per-session poll grids stay bounded), served on the
    reference's 3 s poll cadence — newest-frame-per-poll last-writer-
    wins plus forward-fill re-serving across empty windows
    (streaming/frames.py). Fully SQL-expressible: the DuckDB oracle
    recomputes the windowed max, the dense poll grid and the IGNORE
    NULLS forward fill."""
    from crawler_spark.streaming.frames import frame_stream
    e = _t(spark, sf_dir, "events")
    frames = (e.filter(F.col("event_type") == "view")
              .select(F.concat(F.lit("u"), F.col("user_id").cast("string"))
                      .alias("session_id"),
                      F.col("event_id").alias("frame_id"),
                      F.floor(F.col("value") * 1000).cast("long")
                      .alias("ts_ms")))
    return (frame_stream(frames)
            .select("session_id",
                    F.col("poll_tick").cast("long").alias("poll_tick"),
                    F.col("frame_id").cast("long").alias("frame_id"),
                    F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
                    F.col("age_polls").cast("long").alias("age_polls")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl-analog admission+scheduling composite on
    sf0.001 — canonicalize candidate URLs, anti-join the seen set,
    assign politeness batches, aggregate per batch."""
    sf = "/root/testdata/sf0.001"
    cand = q_url_canonicalize(spark, sf)
    unseen = q_seen_anti_join(spark, sf)
    batches = q_politeness_budget(spark, sf)
    return (cand.join(unseen, "c_custkey", "left_semi")
            .join(batches, "c_custkey")
            .groupBy("batch_id")
            .agg(F.count("*").alias("n_urls"),
                 F.min("canon_url").alias("first_url"))
            .orderBy("batch_id"))


def _login_elements(spark, sf_dir):
    """Deterministic clickable-element rows from part: every attribute
    the reference's login scan reads (crawler-engine.ts:757-862),
    with login markers injected into each text source so every
    predicate branch is exercised."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    tag = F.element_at(
        F.array(*[F.lit(t) for t in
                  ("button", "a", "div", "input", "span", "a")]),
        (k % 6 + 1).cast("int"))
    typ = (F.when(k % 11 == 0, "submit")
           .when(k % 11 == 1, "button").otherwise(""))
    role = F.when(k % 13 == 0, "button").otherwise("")
    onclick = F.when(k % 17 == 0, "nav()").otherwise("")
    text = (F.when(k % 7 == 0, "Log In")
            .when(k % 7 == 1, "Sign in to continue")
            .when(k % 7 == 2, "Enter")
            .otherwise(F.col("p_name")))
    child_text = F.when(k % 19 == 0, "LOG IN").otherwise("")
    cls = (F.when(k % 23 == 0, "SignUpButtonDesktop x")
           .when(k % 23 == 1, "btn primary")
           .otherwise(F.col("p_brand")))
    href = F.when(k % 29 == 0, "/login").otherwise(
        F.concat(F.lit("/x/"), k.cast("string")))
    return p.select(
        F.concat(F.lit("https://site/p"), (k % 97).cast("string"))
        .alias("page_url"),
        k.cast("long").alias("element_index"),
        tag.alias("tag"), typ.alias("typ"), role.alias("role"),
        onclick.alias("onclick"), text.alias("text"),
        child_text.alias("child_text"), cls.alias("cls"),
        F.concat(F.lit("el"), k.cast("string")).alias("eid"),
        href.alias("href"), (k % 3 != 0).alias("visible"))


def q_login_detect(spark, sf_dir):
    """P4 login-button detection as column predicates: clickable scan →
    login text/regex/class match over every text source → first
    visible match per page wins the click
    (crawler-engine.ts:757-933)."""
    from crawler_spark.functions.login import (is_clickable_candidate,
                                               is_login_element,
                                               has_login_text,
                                               matches_login_pattern,
                                               pick_login_click)
    e = _login_elements(spark, sf_dir)
    srcs = [F.col(c) for c in
            ("text", "child_text", "cls", "eid", "href", "role")]
    cand = (e.filter(is_clickable_candidate(
        F.col("tag"), F.col("typ"), F.col("role"),
        F.col("onclick"), F.col("cls")))
        .withColumn("is_login",
                    is_login_element(*srcs, cls=F.col("cls")))
        .withColumn("via",
                    F.when(has_login_text(*srcs), "text")
                    .when(matches_login_pattern(*srcs), "pattern")
                    .otherwise("class")))
    return (pick_login_click(cand)
            .select("page_url", "element_index", "tag", "via"))


def q_login_form_fields(spark, sf_dir):
    """P4 login-form field classification: username/password/submit
    selector lists as priority columns, first-selector-first-visible
    winner per page (crawler-engine.ts:1108-1214)."""
    from crawler_spark.functions.login import (password_priority,
                                               pick_form_fields,
                                               submit_priority,
                                               username_priority)
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    tag = (F.when(k % 3 == 0, "input")
           .when(k % 3 == 1, "button").otherwise("div"))
    typ = (F.when(k % 5 == 0, "text").when(k % 5 == 1, "email")
           .when(k % 5 == 2, "password").when(k % 5 == 3, "submit")
           .otherwise(""))
    name = (F.when(k % 7 == 0, "username").when(k % 7 == 1, "email")
            .when(k % 7 == 2, "user").when(k % 7 == 3, "login")
            .when(k % 7 == 4, "password").otherwise(""))
    eid = (F.when(k % 11 == 0, "username").when(k % 11 == 1, "email")
           .when(k % 11 == 2, "password")
           .when(k % 11 == 3, "signup-email-x")
           .otherwise(F.concat(F.lit("e"), k.cast("string"))))
    cls = (F.when(k % 13 == 0, "username-box")
           .when(k % 13 == 1, "form-email")
           .when(k % 13 == 2, "password-input")
           .when(k % 13 == 3, "submit-btn")
           .when(k % 13 == 4, "login-cta").otherwise("c"))
    placeholder = (F.when(k % 17 == 0, "Enter username")
                   .when(k % 17 == 1, "Email address")
                   .when(k % 17 == 2, "Password").otherwise(""))
    text = (F.when(k % 19 == 0, "Login").when(k % 19 == 1, "Sign in")
            .when(k % 19 == 2, "Log in").when(k % 19 == 3, "Submit")
            .when(k % 19 == 4, "Enter").otherwise("go"))
    e = c.select(
        F.concat(F.lit("https://site/f"), (k % 53).cast("string"))
        .alias("page_url"),
        k.cast("long").alias("element_index"),
        tag.alias("tag"), typ.alias("typ"), name.alias("name"),
        eid.alias("eid"), cls.alias("cls"),
        placeholder.alias("placeholder"), text.alias("text"),
        (k % 4 != 0).alias("visible"))
    e = (e.withColumn("username_prio", username_priority(
            F.col("tag"), F.col("typ"), F.col("name"), F.col("eid"),
            F.col("cls"), F.col("placeholder")))
         .withColumn("password_prio", password_priority(
            F.col("tag"), F.col("typ"), F.col("name"), F.col("eid"),
            F.col("cls"), F.col("placeholder")))
         .withColumn("submit_prio", submit_priority(
            F.col("tag"), F.col("typ"), F.col("text"), F.col("eid"),
            F.col("cls"))))
    return pick_form_fields(e)


def q_login_outcome(spark, sf_dir):
    """P4 login success/error verification: per page, ANY success
    indicator wins, else the FIRST error indicator's text, else
    'unclear' (checkLoginSuccess, crawler-engine.ts:1277-1334)."""
    from crawler_spark.functions.login import (is_login_error_indicator,
                                               is_login_success_indicator,
                                               login_outcome)
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    tag = (F.when(k % 3 == 0, "button")
           .when(k % 3 == 1, "a").otherwise("div"))
    text = (F.when(k % 11 == 0, "Logout")
            .when(k % 11 == 1, "Sign out now")
            .when(k % 11 == 2, "Invalid credentials")
            .when(k % 11 == 3, "Login Failed!")
            .otherwise(F.concat(F.lit("item "), k.cast("string"))))
    cls = (F.when(k % 13 == 0, "dashboard-main")
           .when(k % 13 == 1, "profile pic")
           .when(k % 13 == 2, "error")
           .when(k % 13 == 3, "alert-error")
           .when(k % 13 == 4, "error-banner")
           .otherwise(F.concat(F.lit("c"), k.cast("string"))))
    testid = F.when(k % 17 == 0, "user-menu-button").otherwise("")
    aria = F.when(k % 19 == 0, "main user menu").otherwise("")
    e = o.select(
        F.concat(F.lit("https://site/o"), (k % 61).cast("string"))
        .alias("page_url"),
        k.cast("long").alias("element_index"),
        tag.alias("tag"), text.alias("text"), cls.alias("cls"),
        testid.alias("data_testid"), aria.alias("aria_label"))
    e = (e.withColumn("is_success", is_login_success_indicator(
            F.col("tag"), F.col("text"), F.col("cls"),
            F.col("data_testid"), F.col("aria_label")))
         .withColumn("is_error", is_login_error_indicator(
            F.col("cls"), F.col("text"))))
    return login_outcome(e)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's correctness check window is
    50 rows (CORRECTNESS_r02 silently dropped entries past 50), so
    thin same-grain queries are FUSED rather than appended: doc_stats
    carries quality/token-counts/fingerprint/lang-id, ring_buffer
    carries the SO1-SO4 set algebra, event_annotate carries the
    ST6/F11 console router, sitemap_tree carries the J2 parent→
    children agg, and session_pacing carries P2 pacing + P3 stealth.
    Every entry here is driver-checked (rows+schema+hash) against
    oracle_sql(); the per-round CORRECTNESS_rNN artifacts record the
    full 50/50 row+schema+hash results (green since r03)."""
    return {
        # the engine itself + the two formerly hash-failing rollups
        "frontier_crawl": q_frontier_crawl,
        "crawl_counters": q_crawl_counters,
        "region_rollup": q_region_rollup,
        # multimodal (image+caption fixtures; the graft's core table)
        "caption_stats": q_caption_stats,
        "image_decode": q_image_decode,
        "image_phash_dedup": q_image_phash_dedup,
        "image_thumbnail": q_image_thumbnail,
        "audio_features": q_audio_features,
        "frame_sample": q_frame_sample,
        # hash-seeded sketches + lanes (golden-parquet oracles)
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "winnow": q_winnow,
        "ivf_ann": q_ivf_ann,
        "session_pacing": q_session_pacing,
        # frame stream (S9, full SQL oracle)
        "frame_serve": q_frame_serve,
        # crawl-core operator analogs (SURVEY.md §2)
        "url_canonicalize": q_url_canonicalize,
        "seen_anti_join": q_seen_anti_join,
        "politeness_budget": q_politeness_budget,
        "first_match_scan": q_first_match_scan,
        "sitemap_tree": q_sitemap_tree,
        # record-mode / HTML families (§2.8-2.9)
        "modal_lifecycle": q_modal_lifecycle,
        "rules_merge": q_rules_merge,
        "extract_page": q_extract_page,
        "uncaptured_modals": q_uncaptured_modals,
        "component_monitor": q_component_monitor,
        "rules_delete": q_rules_delete,
        "screenshot_serve": q_screenshot_serve,
        "parent_components": q_parent_components,
        "hier_selector": q_hier_selector,
        "html_sanitize": q_html_sanitize,
        "content_diff": q_content_diff,
        "screenshot_dedup": q_screenshot_dedup,
        "login_detect": q_login_detect,
        "login_form_fields": q_login_form_fields,
        "login_outcome": q_login_outcome,
        "asof_attribution": q_asof_attribution,
        "modal_scoring": q_modal_scoring,
        "dedup_window": q_dedup_window,
        "training_freq": q_training_freq,
        "forms_extract": q_forms_extract,
        "page_text_features": q_page_text_features,
        "event_annotate": q_event_annotate,
        "ring_buffer": q_ring_buffer,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "token_jaccard": q_token_jaccard,
        "trigram_jaccard": q_trigram_jaccard,
        "doc_stats": q_doc_stats,
        "cosine_pairs": q_cosine_pairs,
        "ann_topk": q_ann_topk,
        "lsh_ann": q_lsh_ann,
    }


_TOKS = "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> t != '')"

_LANG_HITS = (
    "len(list_filter({toks}, t -> t IN ({words}))) AS {lang}"
)

def _jaccard_sql(threshold: float, trigram: bool) -> str:
    if trigram:
        grams = ("list_distinct(list_transform(range(1, len(ts)-1), "
                 "i -> ts[i]||'_'||ts[i+1]||'_'||ts[i+2]))")
        tok = f"SELECT doc_id, {_TOKS} AS ts FROM documents"
        pre = (f"WITH tok0 AS ({tok}), "
               f"tok AS (SELECT doc_id, {grams} AS gs FROM tok0)")
    else:
        pre = (f"WITH tok AS (SELECT doc_id, list_distinct({_TOKS}) AS gs "
               f"FROM documents)")
    return f"""
{pre},
e AS (SELECT doc_id, unnest(gs) AS g FROM tok),
sz AS (SELECT doc_id, len(gs) AS sz FROM tok),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM e a JOIN e b USING (g) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE common / (sa.sz + sb.sz - common) >= {threshold}
"""


def _lsh_ann_oracle() -> str:
    """DuckDB twin of lsh_bucketed_neighbors: the deterministic ±1
    hyperplanes are inlined as literals (they derive from xxhash64 of
    fixed strings — same values everywhere), the bucket is the same
    8-bit sign fold, and the score is the engine-independent
    floor(cos·10⁴+0.5) integerization."""
    from crawler_spark.operators.similarity import _hyperplane

    bits = []
    for p in range(8):
        plane = ", ".join(str(x) for x in _hyperplane(64, p))
        bits.append(f"(CASE WHEN list_dot_product(v, [{plane}]) >= 0 "
                    f"THEN {1 << (7 - p)} ELSE 0 END)")
    bucket = "\n     + ".join(bits)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
p AS (
  SELECT a.vec_id AS qid, c.vec_id AS nid,
         CAST(floor(list_dot_product(a.v, c.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(c.v, c.v))) * 10000 + 0.5)
              AS BIGINT) AS cos_e4
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id != c.vec_id),
r AS (SELECT qid, nid, cos_e4,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_e4 DESC, nid) AS rank
      FROM p)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos_e4 FROM r WHERE rank <= 5
"""


def oracle_sql() -> dict[str, str]:
    toks = _TOKS
    lang_hits = ", ".join([
        f"len(list_filter({toks}, t -> t IN ('the','a','of','and','is'))) AS en",
        f"len(list_filter({toks}, t -> t IN ('der','die','das','und','ist'))) AS de",
        f"len(list_filter({toks}, t -> t IN ('le','la','les','et','est'))) AS fr",
        f"len(list_filter({toks}, t -> t IN ('el','los','las','y','es'))) AS es",
    ])
    return {
        "url_canonicalize": """
SELECT c_custkey,
       'http://www.example.com/seg/' || c_mktsegment || '/c' || c_custkey
         || '?a=1&m=' || (c_custkey % 3) || '&z=9' AS canon_url,
       regexp_replace(regexp_replace(lower(
           'www.example.com:80/seg/' || c_mktsegment || '/c' || c_custkey
             || '?z=9&a=1&m=' || (c_custkey % 3)),
           '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS slug
FROM customer
""",
        "seen_anti_join": """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
""",
        "politeness_budget": """
SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(floor((row_number() OVER (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey) - 1)
                  / (2 + c_nationkey % 4)) AS BIGINT) AS batch_id
FROM customer
""",
        "first_match_scan": """
SELECT o_custkey, o_orderkey AS first_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders) WHERE rn = 1
""",
        "crawl_counters": """
SELECT o_orderpriority,
       count(*) AS n_total,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_open,
       CAST((1000000 * sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS success_ppm
FROM orders GROUP BY o_orderpriority
""",
        "page_text_features": """
SELECT p_partkey,
       'Home > ' || array_to_string(list_transform(
           list_filter(string_split(
               '/' || replace(lower(p_type), ' ', '/') || '/' || p_partkey,
               '/'), s -> s != ''),
           s -> CASE WHEN regexp_matches(s, '^[0-9]+$') THEN '#' || s
                     ELSE upper(s[1]) || s[2:] END), ' > ') AS trail,
       array_to_string(list_slice(string_split(p_name, ' '), 1, 3), ' | ')
           AS top3,
       substring(p_name, 1, 15) AS excerpt,
       CASE WHEN p_partkey % 5 = 0 THEN '#el-' || p_partkey
            WHEN p_partkey % 3 = 0 THEN
                 CASE WHEN p_partkey % 2 = 0 THEN 'div' ELSE 'button' END
            ELSE (CASE WHEN p_partkey % 2 = 0 THEN 'div' ELSE 'button' END)
                 || array_to_string(list_transform(
                        list_slice(string_split(lower(p_type), ' '), 1, 2),
                        s -> '.' || s), '')
       END AS selector
FROM part
""",
        "event_annotate": """
SELECT event_id,
       CASE WHEN value < 20 THEN 'timeout'
            WHEN value < 40 THEN '404'
            WHEN value < 60 THEN 'javascript_error'
            ELSE 'other' END AS error_type,
       CASE WHEN event_type = 'click'
                 THEN printf('Clicked element at value %.2f', round(value,2))
            WHEN event_type = 'view'
                 THEN printf('Viewed page for %.2f units', round(value,2))
            WHEN event_type = 'signup' THEN 'Submitted signup form'
            ELSE printf('Event %s', event_type) END AS description,
       CASE WHEN regexp_matches(msg, '^\\[ERROR\\]') THEN 'error_handler'
            WHEN regexp_matches(msg, '^\\[(CLICK|VIEW)\\]')
                 THEN 'interaction_recorder'
            WHEN regexp_matches(msg, '^\\[SIGNUP\\]') THEN 'form_tracker'
            ELSE 'ignore' END AS route,
       regexp_matches(msg, 'value=4[0-9]{2}\\.') AS is_noise
FROM (SELECT *,
             '[' || upper(event_type) || '] value=' || CAST(value AS VARCHAR)
                 AS msg
      FROM events)
""",
        "asof_attribution": """
SELECT event_id, last_action_type FROM (
  SELECT event_id, event_type,
         last_value(CASE WHEN event_type != 'error' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_action_type
  FROM events) WHERE event_type = 'error'
""",
        "forms_extract": f"""
SELECT url, f.action AS action, f.method AS method,
       CAST(len(f.fields) AS BIGINT) AS n_fields
FROM (SELECT url, unnest(forms) AS f
      FROM read_parquet('{_WEB_FIXTURES}'))
""",
        "modal_scoring": """
WITH scored AS (
  SELECT user_id, event_id,
         CAST((CASE WHEN event_type IN ('view','click') THEN 30 ELSE 20 END)
           + (CASE WHEN CAST(floor(value*20) AS INT) > 1000 THEN 25
                   WHEN CAST(floor(value*20) AS INT) > 100 THEN 15
                   ELSE 0 END)
           + (CASE WHEN CAST(json_extract_string(props,'$.k') AS INT)
                        BETWEEN 20 AND 80 THEN 25 ELSE 0 END)
           + (CASE WHEN event_type = 'signup' THEN 15 ELSE 0 END)
           AS BIGINT) AS score
  FROM events),
r AS (SELECT user_id, event_id, score,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY score DESC, event_id) AS rn
      FROM scored)
SELECT user_id, event_id, score FROM r WHERE rn = 1 AND score >= 50
""",
        "dedup_window": """
SELECT event_id FROM (
  SELECT event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_ms
  FROM events)
WHERE prev_ms IS NULL OR ms - prev_ms > 3000
""",
        "ring_buffer": """
WITH active AS (
  (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
   UNION SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
  EXCEPT SELECT DISTINCT user_id FROM events
         WHERE event_type = 'error' AND value > 400)
SELECT r.user_id, r.n_recent, r.last_ts,
       (a.user_id IS NOT NULL) AS active
FROM (SELECT user_id, count(*) AS n_recent, max(ts) AS last_ts FROM (
        SELECT user_id, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn <= 20 GROUP BY user_id) r
LEFT JOIN active a ON r.user_id = a.user_id
""",
        "region_rollup": """
SELECT r_name, count(DISTINCT n_nationkey) AS n_nations,
       count(*) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "training_freq": """
SELECT event_type,
       CASE WHEN CAST(floor(value*20) AS INT) > 1000 THEN 'high'
            WHEN CAST(floor(value*20) AS INT) > 100 THEN 'medium'
            ELSE 'low' END AS z_bucket,
       count(*) AS n
FROM events GROUP BY 1, 2
""",
        "sitemap_tree": """
WITH RECURSIVE pages AS (
  SELECT 'p' || p_partkey AS url,
         CASE WHEN p_partkey < 10 THEN 'root'
              ELSE 'p' || (p_partkey // 10) END AS parent_url,
         p_name AS title
  FROM part),
counts AS (SELECT p.parent_url AS url, count(*) AS n_children,
                  min(p.url) AS first_child
           FROM pages p GROUP BY 1),
tree AS (
  SELECT 'root' AS url, CAST(NULL AS VARCHAR) AS title,
         0 AS tree_depth, 'root' AS path
  UNION ALL
  SELECT p.url, p.title, t.tree_depth + 1, t.path || ' > ' || p.url
  FROM pages p JOIN tree t ON p.parent_url = t.url
  WHERE t.tree_depth < 6)
SELECT t.url, t.title, CAST(t.tree_depth AS BIGINT) AS tree_depth, t.path,
       CAST(coalesce(c.n_children, 0) AS BIGINT) AS n_children,
       c.first_child AS first_child
FROM tree t LEFT JOIN counts c ON c.url = t.url
""",
        "modal_lifecycle": """
WITH snaps AS (
  SELECT user_id AS session_id, event_type AS selector,
         CAST(floor(value/5) AS BIGINT) AS tick,
         coalesce(min(json_extract_string(props,'$.k')), '') AS content
  FROM events GROUP BY 1, 2, 3),
d AS (
  SELECT *, lag(tick) OVER w AS prev_tick,
         lag(content) OVER w AS prev_content,
         lead(tick) OVER w AS next_tick
  FROM snaps WINDOW w AS (PARTITION BY session_id, selector ORDER BY tick))
SELECT session_id, selector, tick, 'open' AS event FROM d
 WHERE prev_tick IS NULL OR tick - prev_tick > 1
UNION ALL
SELECT session_id, selector, tick, 'change' FROM d
 WHERE tick - prev_tick = 1 AND content != prev_content
UNION ALL
SELECT session_id, selector, tick + 1, 'close' FROM d
 WHERE next_tick IS NULL OR next_tick - tick > 1
""",
        "rules_merge": """
WITH state AS (
  SELECT 'd' || (n_nationkey % 5) AS domain, '/p' AS page_path,
         's' || CAST(floor(n_nationkey/5) AS BIGINT) AS selector,
         'c' || n_nationkey AS component_id, n_name AS classes,
         CAST(1 + n_nationkey % 2 AS BIGINT) AS version
  FROM nation),
batch AS (
  SELECT domain, page_path, selector, component_id, classes FROM (
    SELECT 'd' || (c_custkey % 6) AS domain, '/p' AS page_path,
           's' || (c_custkey % 7) AS selector,
           't' || c_custkey AS component_id, c_mktsegment AS classes,
           row_number() OVER (PARTITION BY c_custkey % 6, c_custkey % 7
                              ORDER BY c_custkey DESC) AS rn
    FROM customer) WHERE rn = 1)
SELECT b.domain, b.page_path, b.selector, b.component_id, b.classes,
       coalesce(s.version, 0) + 1 AS version
FROM batch b LEFT JOIN state s USING (domain, page_path, selector)
UNION ALL
SELECT s.domain, s.page_path, s.selector, s.component_id, s.classes,
       s.version
FROM state s ANTI JOIN batch b USING (domain, page_path, selector)
""",
        "extract_page": """
SELECT p_partkey, p_name AS title,
       CAST(3 AS BIGINT) AS n_links,
       '/p/' || p_partkey AS first_href,
       'a.x' AS first_selector,
       CAST(3 AS BIGINT) AS first_x,
       'button.b' AS btn_selector,
       '/buy/' || p_partkey AS btn_href,
       CAST(1 AS BIGINT) AS n_headings,
       'http://h' || (p_partkey % 7) || '.example.com/p/' || p_partkey
         || ',http://h' || (p_partkey % 7) || '.example.com/buy/'
         || p_partkey
         || ',http://h' || (p_partkey % 7) || '.example.com/mined/'
         || p_partkey AS internal,
       'http://ext.example.com/' || p_partkey AS external,
       'a{background:url(''http://h' || (p_partkey % 7)
         || '.example.com/b.png'')}' AS css,
       'cap ' || p_partkey AS img_alt,
       'post' AS form_method
FROM part
""",
        "uncaptured_modals": """
WITH cap AS (
  SELECT DISTINCT user_id AS session_id, event_type AS selector,
         substring(coalesce(json_extract_string(props, '$.k'), ''), 1, 50)
           AS content_preview
  FROM events WHERE event_id % 2 = 0)
SELECT session_id, selector, modal_id, content_preview FROM (
  SELECT user_id AS session_id, event_type AS selector,
         event_id AS modal_id,
         substring(coalesce(json_extract_string(props, '$.k'), ''), 1, 50)
           AS content_preview
  FROM events WHERE event_id % 2 = 1) d
ANTI JOIN cap USING (session_id, selector, content_preview)
""",
        "component_monitor": """
WITH rules AS (
  SELECT 'd' || (n_nationkey % 5) AS domain, '/p' AS page_path,
         's' || (n_nationkey % 3) AS selector,
         'c' || n_nationkey AS component_id
  FROM nation),
elements AS (
  SELECT DISTINCT user_id AS session_id,
         'd' || (event_id % 5) AS domain, '/p' AS page_path,
         's' || (event_id % 3) AS selector,
         event_id % 2 AS instance, value > 10.0 AS visible,
         CAST(floor(value / 4) AS BIGINT) AS tick
  FROM events),
live AS (
  SELECT e.session_id, r.component_id || '_' || e.instance AS uid, e.tick
  FROM elements e JOIN rules r USING (domain, page_path, selector)
  WHERE e.visible),
d AS (
  SELECT *, lag(tick) OVER w AS prev_tick, lead(tick) OVER w AS next_tick
  FROM live WINDOW w AS (PARTITION BY session_id, uid ORDER BY tick))
SELECT session_id, uid, tick, 'monitor' AS event FROM d
 WHERE prev_tick IS NULL OR tick - prev_tick > 1
UNION ALL
SELECT session_id, uid, tick + 1, 'cleanup' FROM d
 WHERE next_tick IS NULL OR next_tick - tick > 1
""",
        "rules_delete": """
WITH state AS (
  SELECT 'd' || (n_nationkey % 5) AS domain,
         'c' || n_nationkey AS component_id,
         's' || n_nationkey AS selector,
         CAST(2 + n_nationkey % 5 AS BIGINT) AS version
  FROM nation),
dk AS (
  SELECT DISTINCT 'd' || (p_partkey % 4) AS domain,
         'c' || (p_partkey % 10) AS component_id
  FROM part),
nd AS (
  SELECT domain, count(DISTINCT component_id) AS n_deleted
  FROM (SELECT * FROM state SEMI JOIN dk USING (domain, component_id))
  GROUP BY domain),
kept AS (SELECT * FROM state ANTI JOIN dk USING (domain, component_id))
SELECT k.domain, k.component_id, k.selector,
       k.version + coalesce(nd.n_deleted, 0) AS version
FROM kept k LEFT JOIN nd USING (domain)
""",
        "screenshot_serve": """
WITH req AS (
  SELECT p_partkey,
         CASE p_partkey % 5
           WHEN 0 THEN '../shots/' || p_partkey
           WHEN 1 THEN 'dir/' || p_partkey || '.png'
           WHEN 2 THEN 'c:\\win\\' || p_partkey
           WHEN 3 THEN ''
           ELSE 'shot-' || p_partkey || '.png' END AS filename
  FROM part),
store AS (
  SELECT DISTINCT 'shot-' || p_partkey || '.png' AS filename
  FROM part WHERE p_partkey % 2 = 0)
SELECT r.p_partkey, r.filename,
       CAST(CASE WHEN r.filename = ''
                   OR position('..' IN r.filename) > 0
                   OR position('/' IN r.filename) > 0
                   OR position('\\' IN r.filename) > 0 THEN 400
                 WHEN s.filename IS NULL THEN 404
                 ELSE 200 END AS BIGINT) AS status
FROM req r LEFT JOIN store s USING (filename)
""",
        "parent_components": """
WITH comp AS (
  SELECT 'd' || (p_partkey % 20) AS domain,
         CAST(p_partkey AS BIGINT) AS component_id,
         CASE WHEN p_partkey % 3 = 0 THEN '0'
              WHEN p_partkey % 3 = 1 THEN '0/' || (p_partkey % 4)
              ELSE '0/' || (p_partkey % 4) || '/' || (p_partkey % 6)
         END AS node_path
  FROM part),
j AS (
  SELECT c.domain, c.component_id, c.node_path,
         pa.component_id AS parent_id,
         row_number() OVER (PARTITION BY c.domain, c.component_id
                            ORDER BY length(pa.node_path) DESC,
                                     pa.component_id) AS rn
  FROM comp c JOIN comp pa
    ON c.domain = pa.domain AND c.component_id != pa.component_id
   AND starts_with(c.node_path, pa.node_path || '/'))
SELECT domain, component_id, node_path, parent_id FROM j WHERE rn = 1
UNION ALL
SELECT c.domain, c.component_id, c.node_path,
       CAST(NULL AS BIGINT) AS parent_id
FROM comp c
WHERE NOT EXISTS (
  SELECT 1 FROM comp pa
  WHERE pa.domain = c.domain AND pa.component_id != c.component_id
    AND starts_with(c.node_path, pa.node_path || '/'))
""",
        "hier_selector": """
SELECT p_partkey,
       CASE WHEN p_partkey % 4 = 0 THEN '#el-' || p_partkey
            ELSE 'section > .' || lower(string_split(p_type, ' ')[1])
                 || ' > #el-' || p_partkey
       END AS selector
FROM part
""",
        "html_sanitize": """
SELECT p_partkey,
       '<!-- static no-js snapshot -->' || chr(10)
         || '<div><a href="https://example.com/p/' || p_partkey || '">'
         || p_name || '</a></div>' AS html
FROM part
""",
        "content_diff": """
SELECT p_partkey,
       CASE WHEN p_partkey % 5 = 0 THEN NULL
            WHEN p_partkey % 3 = 0 THEN
              'Changed from position 0: "' || substring(p_name, 1, 50)
                || '" to "'
                || substring('Z' || substring(p_name, 2), 1, 50) || '"'
            ELSE 'Changed from position ' || length(p_name)
                 || ': "" to " X"'
       END AS diff
FROM part
""",
        "dedup_exact": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
""",
        "token_jaccard": _jaccard_sql(0.9, trigram=False),
        "trigram_jaccard": _jaccard_sql(0.5, trigram=True),
        "doc_stats": f"""
WITH f AS (
  SELECT doc_id, text,
         len({toks}) AS n_tok,
         length(text) AS n_char,
         len(list_filter({toks}, t -> t IN
             ('the','a','of','and','is','to','in','it','on','for'))) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         {lang_hits}
  FROM documents)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(n_stop / n_tok, 6) AS stopword_ratio,
       round(n_punct / n_char, 6) AS punct_ratio,
       round(0.4 * least(n_tok / 200.0, 1.0)
             + 0.3 * least((n_stop / n_tok) * 5.0, 1.0)
             + 0.3 * greatest(0.0, 1.0 - (n_punct / n_char) * 10.0), 6)
           AS quality,
       CAST(n_tok
            + length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
            AS BIGINT) AS n_subwords,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint,
       CASE WHEN greatest(en, de, fr, es) = 0 THEN 'unk'
            WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
FROM f
""",
        "cosine_pairs": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
""",
        "ann_topk": """
WITH p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4)
             AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id),
r AS (SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rank
      FROM p)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
""",
        "caption_stats": f"""
SELECT image_id,
       CAST(len(list_filter(string_split_regex(lower(caption),
            '[^a-z0-9]+'), t -> t != '')) AS BIGINT) AS caption_tokens,
       CAST(w * h AS BIGINT) AS pixels,
       round(octet_length(bytes) / (w * h), 6) AS bytes_per_pixel
FROM read_parquet('{_IMG_FIXTURES}')
""",
        "screenshot_dedup": """
WITH RECURSIVE shots AS (
  SELECT user_id AS session_id, event_type AS component_id,
         'r' || (event_id % 2) AS reason, ts, event_id AS shot_id,
         epoch_ms(ts) AS ms
  FROM events),
ordered AS (
  SELECT *, row_number() OVER (
      PARTITION BY session_id, component_id, reason
      ORDER BY ts, shot_id) AS rn
  FROM shots),
chain AS (
  SELECT session_id, component_id, reason, rn, ms AS kept_ms,
         shot_id, TRUE AS kept
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.session_id, o.component_id, o.reason, o.rn,
         CASE WHEN o.ms - c.kept_ms > 3000 THEN o.ms ELSE c.kept_ms END,
         o.shot_id, o.ms - c.kept_ms > 3000
  FROM ordered o JOIN chain c
    ON o.session_id = c.session_id AND o.component_id = c.component_id
   AND o.reason = c.reason AND o.rn = c.rn + 1)
SELECT shot_id FROM chain WHERE kept
""",
        "login_detect": """
WITH e AS (
  SELECT 'https://site/p' || (p_partkey % 97) AS page_url,
         CAST(p_partkey AS BIGINT) AS element_index,
         ['button','a','div','input','span','a'][(p_partkey % 6) + 1]
           AS tag,
         CASE p_partkey % 11 WHEN 0 THEN 'submit'
              WHEN 1 THEN 'button' ELSE '' END AS typ,
         CASE WHEN p_partkey % 13 = 0 THEN 'button' ELSE '' END AS role,
         CASE WHEN p_partkey % 17 = 0 THEN 'nav()' ELSE '' END AS onclick,
         CASE p_partkey % 7 WHEN 0 THEN 'Log In'
              WHEN 1 THEN 'Sign in to continue'
              WHEN 2 THEN 'Enter' ELSE p_name END AS text,
         CASE WHEN p_partkey % 19 = 0 THEN 'LOG IN' ELSE '' END
           AS child_text,
         CASE p_partkey % 23 WHEN 0 THEN 'SignUpButtonDesktop x'
              WHEN 1 THEN 'btn primary' ELSE p_brand END AS cls,
         'el' || p_partkey AS eid,
         CASE WHEN p_partkey % 29 = 0 THEN '/login'
              ELSE '/x/' || p_partkey END AS href,
         p_partkey % 3 <> 0 AS visible
  FROM part),
cand AS (
  SELECT *,
         lower(concat_ws(' ', text, child_text, cls, eid, href, role))
           AS alltext
  FROM e
  WHERE lower(tag) IN ('button', 'a')
     OR lower(role) = 'button'
     OR (lower(tag) = 'input' AND lower(typ) IN ('submit', 'button'))
     OR length(onclick) > 0
     OR cls LIKE '%button%' OR cls LIKE '%btn%'
     OR cls LIKE '%Button%' OR cls LIKE '%Sign%'),
flagged AS (
  SELECT *,
         (alltext LIKE '%log in%' OR alltext LIKE '%login%'
          OR alltext LIKE '%log-in%' OR alltext LIKE '%sign in%'
          OR alltext LIKE '%signin%' OR alltext LIKE '%sign-in%'
          OR alltext LIKE '%enter%' OR alltext LIKE '%access%'
          OR alltext LIKE '%member login%'
          OR alltext LIKE '%authenticate%' OR alltext LIKE '%auth%')
           AS txt_hit,
         regexp_matches(alltext,
           '\\blog\\s*in\\b|\\blogin\\b|\\bsign\\s*in\\b|\\bsignin\\b|\\benter\\b|\\bauth\\b|\\baccess\\b|\\bmember\\b')
           AS pat_hit,
         (cls LIKE '%SignUpButtonDesktop%' OR cls LIKE '%ButtonWrapper%')
           AS cls_hit
  FROM cand)
SELECT page_url, element_index, tag,
       CASE WHEN txt_hit THEN 'text'
            WHEN pat_hit THEN 'pattern' ELSE 'class' END AS via
FROM (SELECT *, row_number() OVER (
          PARTITION BY page_url ORDER BY element_index) AS rn
      FROM flagged
      WHERE visible AND (txt_hit OR pat_hit OR cls_hit))
WHERE rn = 1
""",
        "login_form_fields": """
WITH e AS (
  SELECT 'https://site/f' || (c_custkey % 53) AS page_url,
         CAST(c_custkey AS BIGINT) AS element_index,
         CASE c_custkey % 3 WHEN 0 THEN 'input'
              WHEN 1 THEN 'button' ELSE 'div' END AS tag,
         CASE c_custkey % 5 WHEN 0 THEN 'text' WHEN 1 THEN 'email'
              WHEN 2 THEN 'password' WHEN 3 THEN 'submit'
              ELSE '' END AS typ,
         CASE c_custkey % 7 WHEN 0 THEN 'username' WHEN 1 THEN 'email'
              WHEN 2 THEN 'user' WHEN 3 THEN 'login'
              WHEN 4 THEN 'password' ELSE '' END AS name,
         CASE c_custkey % 11 WHEN 0 THEN 'username'
              WHEN 1 THEN 'email' WHEN 2 THEN 'password'
              WHEN 3 THEN 'signup-email-x'
              ELSE 'e' || c_custkey END AS eid,
         CASE c_custkey % 13 WHEN 0 THEN 'username-box'
              WHEN 1 THEN 'form-email' WHEN 2 THEN 'password-input'
              WHEN 3 THEN 'submit-btn' WHEN 4 THEN 'login-cta'
              ELSE 'c' END AS cls,
         CASE c_custkey % 17 WHEN 0 THEN 'Enter username'
              WHEN 1 THEN 'Email address' WHEN 2 THEN 'Password'
              ELSE '' END AS placeholder,
         CASE c_custkey % 19 WHEN 0 THEN 'Login' WHEN 1 THEN 'Sign in'
              WHEN 2 THEN 'Log in' WHEN 3 THEN 'Submit'
              WHEN 4 THEN 'Enter' ELSE 'go' END AS text,
         c_custkey % 4 <> 0 AS visible
  FROM customer),
pr AS (
  SELECT *,
    CASE WHEN tag <> 'input' THEN NULL
         WHEN name = 'username' THEN 0 WHEN name = 'email' THEN 1
         WHEN typ = 'email' THEN 2
         WHEN eid = 'username' THEN 3 WHEN eid = 'email' THEN 4
         WHEN name = 'user' THEN 5 WHEN name = 'login' THEN 6
         WHEN lower(placeholder) LIKE '%username%' THEN 7
         WHEN lower(placeholder) LIKE '%email%' THEN 8
         WHEN lower(eid) LIKE '%username%' THEN 9
         WHEN lower(eid) LIKE '%email%' THEN 10
         WHEN lower(cls) LIKE '%username%' THEN 11
         WHEN lower(cls) LIKE '%email%' THEN 12 END AS up,
    CASE WHEN tag <> 'input' THEN NULL
         WHEN name = 'password' THEN 0 WHEN typ = 'password' THEN 1
         WHEN eid = 'password' THEN 2
         WHEN lower(eid) LIKE '%password%' THEN 3
         WHEN lower(cls) LIKE '%password%' THEN 4
         WHEN lower(placeholder) LIKE '%password%' THEN 5 END AS pp,
    CASE WHEN tag = 'button' AND typ = 'submit' THEN 0
         WHEN tag = 'input' AND typ = 'submit' THEN 1
         WHEN tag = 'button' AND lower(text) LIKE '%login%' THEN 2
         WHEN tag = 'button' AND lower(text) LIKE '%sign in%' THEN 3
         WHEN tag = 'button' AND lower(text) LIKE '%log in%' THEN 4
         WHEN tag = 'button' AND lower(text) LIKE '%submit%' THEN 5
         WHEN tag = 'button' AND lower(text) LIKE '%enter%' THEN 6
         WHEN tag = 'button' AND lower(cls) LIKE '%submit%' THEN 7
         WHEN tag = 'button' AND lower(cls) LIKE '%login%' THEN 8
         WHEN tag = 'button' AND lower(eid) LIKE '%submit%' THEN 9
         WHEN tag = 'button' AND lower(eid) LIKE '%login%' THEN 10
         END AS sp
  FROM e WHERE visible)
SELECT page_url,
       CAST(min(CAST(up AS BIGINT) * 1000000000 + element_index) % 1000000000 AS BIGINT)
         AS username_idx,
       CAST(min(CAST(pp AS BIGINT) * 1000000000 + element_index) % 1000000000 AS BIGINT)
         AS password_idx,
       CAST(min(CAST(sp AS BIGINT) * 1000000000 + element_index) % 1000000000 AS BIGINT)
         AS submit_idx
FROM pr GROUP BY page_url
""",
        "login_outcome": """
WITH e AS (
  SELECT 'https://site/o' || (o_orderkey % 61) AS page_url,
         CAST(o_orderkey AS BIGINT) AS element_index,
         CASE o_orderkey % 3 WHEN 0 THEN 'button'
              WHEN 1 THEN 'a' ELSE 'div' END AS tag,
         CASE o_orderkey % 11 WHEN 0 THEN 'Logout'
              WHEN 1 THEN 'Sign out now'
              WHEN 2 THEN 'Invalid credentials'
              WHEN 3 THEN 'Login Failed!'
              ELSE 'item ' || o_orderkey END AS text,
         CASE o_orderkey % 13 WHEN 0 THEN 'dashboard-main'
              WHEN 1 THEN 'profile pic' WHEN 2 THEN 'error'
              WHEN 3 THEN 'alert-error' WHEN 4 THEN 'error-banner'
              ELSE 'c' || o_orderkey END AS cls,
         CASE WHEN o_orderkey % 17 = 0 THEN 'user-menu-button'
              ELSE '' END AS data_testid,
         CASE WHEN o_orderkey % 19 = 0 THEN 'main user menu'
              ELSE '' END AS aria_label
  FROM orders),
flagged AS (
  SELECT *,
    ((tag IN ('button','a') AND (lower(text) LIKE '%logout%'
                                 OR lower(text) LIKE '%sign out%'))
     OR cls LIKE '%dashboard%' OR cls LIKE '%profile%'
     OR data_testid LIKE '%user-menu%'
     OR aria_label LIKE '%user menu%') AS is_success,
    (cls LIKE '%error%'
     OR lower(text) LIKE '%invalid credentials%'
     OR lower(text) LIKE '%login failed%'
     OR lower(text) LIKE '%incorrect password%'
     OR lower(text) LIKE '%user not found%') AS is_error
  FROM e),
agg AS (
  SELECT page_url, bool_or(is_success) AS ok,
         min(CASE WHEN is_error THEN element_index END) AS first_err
  FROM flagged GROUP BY page_url)
SELECT a.page_url,
       CASE WHEN a.ok THEN 'success'
            WHEN a.first_err IS NOT NULL THEN 'error'
            ELSE 'unclear' END AS outcome,
       CASE WHEN NOT a.ok AND a.first_err IS NOT NULL
            THEN f.text END AS error_detail
FROM agg a LEFT JOIN flagged f
  ON f.page_url = a.page_url AND f.element_index = a.first_err
""",
        "lsh_ann": _lsh_ann_oracle(),
        "image_decode": f"""
SELECT fmt, count(*) AS n, count(*) AS n_valid
FROM read_parquet('{_IMG_FIXTURES}') GROUP BY fmt
""",
        "image_thumbnail": f"""
SELECT image_id, CAST(16 AS BIGINT) AS thumb_w,
       CAST(16 AS BIGINT) AS thumb_h, mean_luma
FROM read_parquet('{_IMG_FIXTURES}')
""",
        # closed-form twins of the REAL WAV-decode + DSP outputs: a
        # square wave of amplitude A and half-period h over n samples
        # has rms = peak = A/32768 exactly (all-|A| samples; every
        # float step exact in binary), and crossings at each multiple
        # of h in [1, n-1] -> (n-1) // h
        "audio_features": """
SELECT 'n' || n_nationkey AS sample_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(500 + n_nationkey * 37 AS BIGINT) AS n_samples,
       CAST((500 + n_nationkey * 37 - 1) // (1 + n_nationkey % 7)
            AS BIGINT) AS zero_crossings,
       CAST(1000 + n_nationkey * 700 AS BIGINT) AS peak_i,
       CAST(1000 + n_nationkey * 700 AS BIGINT) AS rms_i
FROM nation
""",
        "frame_sample": """
SELECT 'v' || s_suppkey AS video_id,
       CAST(unnest(range(0, 3 + s_suppkey % 9, 2)) AS BIGINT)
         AS frame_index,
       CAST(3 + s_suppkey % 9 AS BIGINT) AS n_frames,
       CAST(8 AS BIGINT) AS frame_w,
       CAST(6 AS BIGINT) AS frame_h
FROM supplier
""",
        "frame_serve": """
WITH fr AS (
  SELECT 'u' || user_id AS session_id, event_id AS frame_id,
         CAST(floor(value * 1000) AS BIGINT) AS ts_ms
  FROM events WHERE event_type = 'view'),
pw AS (
  SELECT session_id, poll_tick, frame_id AS new_frame_id,
         ts_ms AS new_frame_ts
  FROM (SELECT *, ts_ms // 3000 AS poll_tick,
               row_number() OVER (PARTITION BY session_id, ts_ms // 3000
                                  ORDER BY ts_ms DESC, frame_id DESC)
                   AS rn
        FROM fr) WHERE rn = 1),
grid AS (
  SELECT session_id, unnest(range(t0, t1 + 1)) AS poll_tick
  FROM (SELECT session_id, min(poll_tick) AS t0, max(poll_tick) AS t1
        FROM pw GROUP BY 1)),
served AS (
  SELECT g.session_id, g.poll_tick,
         last_value(p.new_frame_id IGNORE NULLS) OVER w AS frame_id,
         last_value(p.new_frame_ts IGNORE NULLS) OVER w AS frame_ts_ms,
         g.poll_tick - last_value(
             CASE WHEN p.new_frame_id IS NOT NULL THEN g.poll_tick END
             IGNORE NULLS) OVER w AS age_polls
  FROM grid g LEFT JOIN pw p USING (session_id, poll_tick)
  WINDOW w AS (PARTITION BY g.session_id ORDER BY g.poll_tick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT session_id, CAST(poll_tick AS BIGINT) AS poll_tick,
       CAST(frame_id AS BIGINT) AS frame_id,
       CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
       CAST(age_polls AS BIGINT) AS age_polls
FROM served
""",
        # minhash_lsh / simhash_pairs / winnow / ivf_ann /
        # session_pacing / frontier_crawl: hash-seeded chains and
        # sequential-DFS order that DuckDB SQL can't express directly.
        # Their oracles are GOLDEN PARQUET generated by the
        # independent pure-Python replicas (crawler_spark/oracle/*,
        # no Spark imports) via tools/gen_golden_oracles.py over the
        # fixed seed-42 sf0.01 tables + t-smoke fixture — the same
        # pattern image_thumbnail uses for its precomputed luma.
        # Regenerate with:
        #   python tools/gen_golden_oracles.py
        "minhash_lsh": f"""
SELECT id_a, id_b, est_jaccard
FROM read_parquet('{_GOLDEN("minhash_lsh")}')
""",
        "simhash_pairs": f"""
SELECT id_a, id_b, hamming
FROM read_parquet('{_GOLDEN("simhash_pairs")}')
""",
        "winnow": f"""
SELECT doc_id, n_fingerprints
FROM read_parquet('{_GOLDEN("winnow")}')
""",
        "ivf_ann": f"""
SELECT qid, nid, rank, cos_e4
FROM read_parquet('{_GOLDEN("ivf_ann")}')
""",
        "session_pacing": f"""
SELECT session_id, action_index, delay_ms, type_ms, start_offset_ms,
       user_agent, viewport_w, viewport_h
FROM read_parquet('{_GOLDEN("session_pacing")}')
""",
        "frontier_crawl": f"""
SELECT visit_rank, url, depth, status_code, batch_id
FROM read_parquet('{_GOLDEN("frontier_crawl")}')
""",
        "image_phash_dedup": f"""
SELECT n_images, n_clusters, n_dups
FROM read_parquet('{_GOLDEN("image_phash_dedup")}')
""",
    }
