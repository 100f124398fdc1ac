"""The distributed URL frontier + fetch scheduler — the engine core.

Re-expresses the reference's crawl loop
(/root/reference/lib/crawler/crawler-engine.ts:417-716) Spark-first.
The reference's crawl ORDER is sequential DFS preorder (parent awaits
each child chain before the next sibling, crawler-engine.ts:673-695)
with the URL-seen set claimed at schedule time (:556). Exact DFS is
P-complete — inherently sequential — so the engine splits it:

  1. EXPLORE — parallel speculative micro-batch exploration. Each
     round selects a politeness-budgeted batch from the frontier,
     "fetches" it (a join against the synthetic web table here; a
     `mapInPandas` HTTP stage on a real cluster), extracts + admits
     candidate links (tag filter → sample slice → hygiene → native
     canonicalization → domain/robots filters), and appends
     fetched/edges/errors/image-ref rows to the checkpoint. This
     fetches the BFS-reachable admissible superset of the DFS visit
     set (every DFS chain prefix is BFS-reachable at ≤ its chain
     depth), so all edges the DFS needs are discovered. Fetching —
     the expensive part at 10^10 URLs — is thereby fully parallel.

  2. RESOLVE — deterministic DFS-claim resolution: each URL is
     claimed by the lexicographically smallest priority vector
     (parent's vector ++ link_index, fixed-width hex so string
     comparison = lexicographic order) among calls from claimed
     pages. The explored edge set is dictionary-encoded to dense
     int32 ids DISTRIBUTED, then one sequential explicit-stack DFS
     sweep (core/dfs_kernel.py) over the whole skeleton claims in
     exact visit order. The skeleton must fit the driver: resolve
     fails by name (SkeletonMemoryError, NodeCeilingError) before
     the sweep when it does not.
     Verified against the oracle simulator in
     tests/test_crawl_golden.py. The claim order IS the reference's
     visit order; the claim set IS the reference's URL-seen set.

Scale posture (10^10 URLs / 1000 executors):
  * frontier/fetched/edges are hash-partitioned by xxhash64(url);
    the per-round anti-join (candidates ⋈ admission history) is the
    J1 scale-critical join — one exact join, AQE-planned.
  * robots and the allowed-host list are broadcast (small dims).
  * politeness is one queue: every round re-ranks the whole pending
    set (deferred rows + new arrivals) by (depth, url) per host and
    writes the verdict as the round's sel=b / sel=d partitions, so a
    resume needs nothing but the committed frontier rounds.
  * the per-host politeness window is skew-prone (mega-hosts);
    rows are salted by pmod(url_hash, S) inside a host before the
    per-host rank so no single task sees a whole mega-host
    (cfg.rate_limit budget is split across salts).
  * resolve reads the committed frontier once into a node table
    (h, url, host, dense id) — the crawl's one URL dictionary. The
    edge encode joins it on hash, the claims rejoin on id: keyed
    shuffle joins linear in |edges| and |visits| around the
    driver-side sweep.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types

from ..core.skeleton import _footer_rows, _read_parquet_dir, check_fits
from ..functions.urls import canonicalize_url, url_hash, url_host, url_path
from ..sources.tables import SnapshotTable
from .config import PRIO_WIDTH, CrawlConfig

_HEX_W = PRIO_WIDTH
# politeness salts per host: a host whose per-window cap covers all
# salts is ranked in HOST_SALTS url-hash slices (mega-host skew)
HOST_SALTS = 8


def _hex_prio(idx_col):
    """Fixed-width lowercase hex of an int column (prio component)."""
    return F.lpad(F.lower(F.hex(idx_col)), _HEX_W, "0")


_MONO_MASK = (1 << 33) - 1  # monotonically_increasing_id ordinal bits

# The sweep kernel's node ids are int32 (core/dfs_kernel.py): ids are
# cast to int and the C sweep allocates n_nodes * 4 bytes of int32
# CSR index, so a node table at or past this count cannot be resolved.
MAX_NODES = 1 << 31


class NodeCeilingError(ValueError):
    """The resolve skeleton has more nodes than int32 ids can address."""


def _node_offsets(path: str) -> tuple[dict[int, int], int]:
    """Per-write-partition dense-id offsets of a node table written
    with a `mono` = monotonically_increasing_id column, from parquet
    FOOTERS only (zero Spark jobs): each file was written by exactly
    one task, so every row shares the file's partition id (mono >>
    33); the file's row count comes from its footer and its pid from
    the mono column's row-group min statistic. Offsets accumulate in
    pid order — identical ids to a per-pid count pass + window.

    Raises NodeCeilingError when the node total reaches MAX_NODES —
    before any id is cast to int32 or any sweep state is allocated."""
    import pyarrow.parquet as pq

    per_pid: dict[int, int] = {}
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        if md.num_rows == 0:
            continue
        idx = md.schema.to_arrow_schema().get_field_index("mono")
        pid = md.row_group(0).column(idx).statistics.min >> 33
        per_pid[pid] = per_pid.get(pid, 0) + md.num_rows
    offs: dict[int, int] = {}
    acc = 0
    for pid in sorted(per_pid):
        offs[pid] = acc
        acc += per_pid[pid]
    if acc >= MAX_NODES:
        raise NodeCeilingError(
            f"resolve skeleton has {acc} nodes; the DFS sweep addresses "
            f"nodes with int32 ids, so the ceiling is {MAX_NODES - 1} "
            f"(2^31 - 1) nodes")
    return offs, acc


# Driver bytes of the resolve sweep (_resolve_skeleton and the C
# kernel in core/dfs_kernel.py), summed over every allocation — not all
# are live at once, so this bounds the peak from above. Per edge: the
# Arrow read of three int32 columns (12), their contiguous numpy
# copies (12), csr_runlength's int32 run ids + int64 run starts before
# trimming (12) and the kernel's DFS stack of one 24-byte frame per
# edge (24). Per node: the trimmed CSR arrays (4 + 8), the kernel's
# int32 csr_of index (4), its four output columns sized to the node
# count (4 + 4 + 8 + 4) and its claimed bitmap (1 bit, counted as 1).
_SWEEP_EDGE_BYTES = 12 + 12 + 12 + 24
_SWEEP_NODE_BYTES = 4 + 8 + 4 + (4 + 4 + 8 + 4) + 1


# ---------------------------------------------------------------------------
# admission (F2-F5) as reusable native expressions
# ---------------------------------------------------------------------------

def _host_cap(cfg: CrawlConfig):
    """Fetch starts per host per batch window from a joined
    ``crawl_delay_ms`` column (a host without a robots row gets the
    rate limit): the column twin of ``cfg.host_cap``."""
    return F.coalesce(
        F.when(F.col("crawl_delay_ms") > 0,
               F.greatest(F.lit(1), F.least(
                   F.lit(cfg.rate_limit),
                   (F.lit(cfg.batch_window_ms) /
                    F.col("crawl_delay_ms")).cast("int")))),
        F.lit(cfg.rate_limit))


def _domain_ok(host, allowed_hosts: list[str], cfg: CrawlConfig):
    """Domain restriction (F4): *host* is an allowed host or, with
    ``cfg.include_subdomains``, a subdomain of one."""
    hosts = F.array(*[F.lit(h) for h in sorted(allowed_hosts)])
    return F.exists(hosts, lambda a: (host == a) | (
        host.endswith(F.concat(F.lit("."), a))
        if cfg.include_subdomains else F.lit(False)))


def _robots_blocked(path):
    """Robots disallow (F5): *path* starts with a non-empty prefix of
    the joined ``disallow_prefixes``."""
    return F.when(
        F.col("disallow_prefixes").isNotNull(),
        F.exists("disallow_prefixes",
                 lambda p: (p != "") & path.startswith(p)),
    ).otherwise(F.lit(False))  # allow-all when robots missing (:481-485)


def admit(df: DataFrame, url_col: str, robots: DataFrame,
          allowed_hosts: list[str], cfg: CrawlConfig) -> DataFrame:
    """Filter *df* to admissible URLs (already canonical): http(s)
    scheme, domain restriction (F4), robots disallow prefixes (F5).
    Adds `host` and `path` columns. robots is broadcast (small dim)."""
    u = F.col(url_col)
    out = (
        df.filter(u.rlike(r"^https?://[^/?#]+"))
        .withColumn("host", url_host(u))
        .withColumn("path", url_path(u))
    )
    if cfg.restrict_domains:
        out = out.filter(_domain_ok(F.col("host"), allowed_hosts, cfg))
    out = out.join(F.broadcast(robots.select("host", "disallow_prefixes")),
                   "host", "left")
    return (out.filter(~_robots_blocked(F.col("path")))
            .drop("disallow_prefixes", "path"))


# ---------------------------------------------------------------------------
# link extraction (E2/E5 + F8/F9/F10) as native expressions
# ---------------------------------------------------------------------------

class ExtractPlan:
    """Column trees for the fused fetch+extract+admit pass, built ONCE
    per engine. Plan CONSTRUCTION is driver-side py4j chatter —
    measured ~0.45 s per round on a 95-round politeness crawl, pure
    Amdahl in the scaling-efficiency denominator — and Column objects
    are immutable, so every round reuses the same trees and `apply`
    costs a handful of py4j calls instead of hundreds.

    The pass itself: ONE generator over the joined (batch ⋈ web) rows
    yields, per page, a `kind='page'` marker row (status/title/images
    — the old `fetched` table) AND the admitted `kind='edge'` child
    rows. Trick: prepend one null element to the (tag-filtered,
    sampled) links array, then a single posexplode emits pos=0 → page
    row, pos≥1 → link row. Admission (scheme/domain/robots, reference
    crawler-engine.ts:1368-1412) filters only the link rows; page
    rows always survive. Robots is a broadcast dim keyed on the
    CHILD host."""

    def __init__(self, elem_dt, robots: DataFrame,
                 allowed_hosts: list[str], cfg: CrawlConfig):
        tags = F.array(*[F.lit(t) for t in cfg.follow_link_tags])
        links = F.filter("links",
                         lambda l: F.array_contains(tags, l["element_type"]))
        if cfg.sample_mode:
            links = F.slice(links, 1, 1)
        # status 0 (timeout) aborts extraction (goto throw, :1704) and
        # a null title means no parse — such pages emit ONLY their
        # marker. The null sentinel element is typed from the data's
        # own links schema (fixture link structs can carry extra
        # provenance fields).
        links = F.when((F.col("status_code") != 0)
                       & F.col("title").isNotNull(),
                       links).otherwise(
            F.array().cast(types.ArrayType(elem_dt)))
        marked = F.concat(F.array(F.lit(None).cast(elem_dt)), links)
        self.explode_cols = [
            F.col("url").alias("parent_url"), F.col("depth"),
            F.col("host"), F.col("status_code"),
            F.col("title"), F.col("images"),
            F.regexp_extract("url", r"^(https?://[^/]+)", 1).alias("origin"),
            F.posexplode(marked).alias("pos", "l")]
        href = F.trim(F.col("l.href"))
        abs_url = (
            F.when(href.rlike(r"^[hH][tT][tT][pP][sS]?://"), href)
            .when(href.startswith("/"), F.concat(F.col("origin"), href))
            .otherwise(F.lit(None)))
        self.child = F.when(F.col("pos") > 0, canonicalize_url(abs_url))
        self.child_host = url_host(F.col("child_url"))
        self.child_path = url_path(F.col("child_url"))
        ok = F.col("child_url").rlike(r"^https?://[^/?#]+")
        if cfg.restrict_domains:
            ok = ok & _domain_ok(F.col("child_host"), allowed_hosts, cfg)
        blocked = _robots_blocked(F.col("child_path"))
        self.keep = (F.col("pos") == 0) | (ok & ~blocked)
        self.robots_b = F.broadcast(robots.select(
            F.col("host").alias("child_host"), "disallow_prefixes"))
        self.out_cols = [
            F.when(F.col("pos") == 0, "page").otherwise("edge")
            .alias("kind"),
            F.col("parent_url"), F.col("depth"), F.col("host"),
            F.col("status_code"),
            F.when(F.col("pos") == 0, F.col("title")).alias("title"),
            F.when(F.col("pos") == 0, F.col("images")).alias("images"),
            F.when(F.col("pos") == 0, F.lit(-1))
            .otherwise(F.col("l.link_index")).alias("link_index"),
            F.col("child_url"), F.col("child_host")]

    def apply(self, pages: DataFrame) -> DataFrame:
        return (pages.select(*self.explode_cols)
                .withColumn("child_url", self.child)
                .withColumn("child_host", self.child_host)
                .withColumn("child_path", self.child_path)
                .join(self.robots_b, "child_host", "left")
                .filter(self.keep)
                .select(*self.out_cols))


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------

class FrontierEngine:
    """Micro-batch crawl over a synthetic web table, checkpointed and
    resumable. ``web``/``robots``/``seeds`` are fixture DataFrames
    (sources generated by crawler_spark.sources.fixtures)."""

    def __init__(self, spark: SparkSession, cfg: CrawlConfig,
                 fixture_dir: str, ckpt_dir: str,
                 enforce_politeness: bool = False,
                 ingest_images: bool = False):
        self.spark = spark
        self.cfg = cfg
        self.fixture_dir = fixture_dir
        self.ckpt = ckpt_dir
        self.enforce_politeness = enforce_politeness
        self.web = spark.read.parquet(f"{fixture_dir}/web_pages.parquet")
        self.robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
        self.seeds_raw = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
        self.allowed_hosts = self._seed_hosts() if cfg.restrict_domains else []
        # snapshot tables over the checkpoint dirs (Iceberg-shaped
        # commit protocol, sources/tables.py): every micro-batch round
        # is committed as a fast-append snapshot with per-partition
        # lineage from the parquet footers; resume state and the
        # round history are read FROM the manifest, so a dir that was
        # being written when the driver died is invisible on restart.
        os.makedirs(self.ckpt, exist_ok=True)
        self.frontier_table = SnapshotTable(spark, self._paths("frontier"))
        self.crawl_table = SnapshotTable(spark, self._paths("crawl"))
        # in-loop image ingest (north-star: fetched image bytes are
        # decoded/validated via Arrow UDFs with phash dedup INSIDE the
        # micro-batch loop, committed per round with lineage — see
        # _ingest_images). The byte dim is the sandbox's HTTP stand-in.
        self.ingest_images = ingest_images
        if ingest_images:
            self.images_dim = spark.read.parquet(
                f"{fixture_dir}/images.parquet").select(
                "src", "image_id", "bytes", "w", "h", "fmt", "caption")
            self.images_table = SnapshotTable(spark, self._paths("images"))
        self.timings: dict = {}
        # per-round plan pieces built ONCE: Column trees and slim
        # projections are immutable, and rebuilding them every round
        # was ~1 s/round of driver-side py4j chatter — a core-count-
        # independent term in the scaling-efficiency denominator
        # (measured: 95-round politeness crawl spent 116 s of 148 s in
        # py4j socket reads before this cache)
        # raw-HTML fetch mode (E1 in the loop): a web table WITHOUT
        # pre-parsed `links` structs but WITH an `html` payload column
        # (sources.fixtures.write_html_web; a real cluster's fetch
        # stage returns exactly this shape) flips the engine to parse
        # title/links/images from markup per round via the Arrow-
        # batched HTML-parse stage — same narrow partitioning, one
        # extra Python crossing per fetched page, identical crawl
        # (golden test pins the visit order against the struct web).
        self.parse_from_html = "links" not in self.web.columns
        if self.parse_from_html:
            from ..operators.html_parse import IMG_T, LINK_T
            link_dt, img_dt = LINK_T.elementType, IMG_T
            self._web_slim = self.web.select("url", "status_code", "html")
        else:
            link_dt = self.web.schema["links"].dataType.elementType
            img_dt = self.web.schema["images"].dataType
            self._web_slim = self.web.select("url", "status_code", "title",
                                             "links", "images")
        self._extract_plan = ExtractPlan(
            link_dt, self.robots, self.allowed_hosts, cfg)
        # explicit file schemas: skip per-read footer inference, which
        # grows O(rounds) over a crawl (frontier history is re-read
        # every round)
        self._frontier_schema = types.StructType([
            types.StructField("url", types.StringType()),
            types.StructField("depth", types.IntegerType()),
            types.StructField("host", types.StringType())])
        self._crawl_schema = types.StructType([
            types.StructField("parent_url", types.StringType()),
            types.StructField("depth", types.IntegerType()),
            types.StructField("host", types.StringType()),
            types.StructField("status_code",
                              self.web.schema["status_code"].dataType),
            types.StructField("title", types.StringType()),
            types.StructField("images", img_dt),
            types.StructField("link_index",
                              link_dt["link_index"].dataType),
            types.StructField("child_url", types.StringType()),
            types.StructField("child_host", types.StringType())])

    # ---- seeds ----

    def _seed_hosts(self) -> list[str]:
        rows = (self.seeds_raw
                .select(url_host(canonicalize_url(F.col("url"))).alias("h"))
                .filter(F.col("h") != "").distinct().collect())
        return [r["h"] for r in rows]

    def seed_claims(self) -> DataFrame:
        """Admissible seeds as depth-0 claims; duplicate canonical
        seeds keep the min seed_rank (first crawlPage wins, :556)."""
        s = self.seeds_raw.select(
            canonicalize_url(F.col("url")).alias("url"),
            F.col("seed_rank").cast("int").alias("seed_rank"))
        s = admit(s, "url", self.robots, self.allowed_hosts, self.cfg)
        return (s.groupBy("url")
                 .agg(F.min("seed_rank").alias("seed_rank"))
                 .select("url", _hex_prio(F.col("seed_rank")).alias("prio"),
                         F.lit(0).alias("depth"),
                         F.lit(None).cast("string").alias("parent_url"),
                         F.lit(-1).alias("link_index")))

    # ---- explore phase ----

    def _paths(self, name: str, rnd: int | None = None):
        if rnd is None:
            return os.path.join(self.ckpt, name)
        return os.path.join(self.ckpt, name, f"round={rnd:05d}")

    def _state(self) -> dict:
        """Resume state derived from the frontier table's snapshot
        manifest (NOT a side file): completed_rounds = highest
        committed frontier round; done = a crawl-complete marker
        snapshot exists. A round whose frontier dir was mid-write at
        a crash never committed, so resume replays it idempotently
        (round writes are mode=overwrite)."""
        lineage = self.frontier_table.lineage()
        rounds = [s["round"] for s in lineage if s["op"] == "round"]
        return {"completed_rounds": max(rounds) if rounds else 0,
                "done": any(s["op"] == "complete" for s in lineage)}

    def _politeness_mark(self, frontier: DataFrame) -> DataFrame:
        """Tag each pending frontier row with its politeness verdict for
        the NEXT round: sel='b' (within the per-host budget, fetch now)
        or sel='d' (deferred, re-ranked with next round's arrivals).
        The whole pending set is ranked by (depth, url) within each
        host every window. Mega-host skew: rank within (host, salt)
        with the budget split across salts so no task scans a whole
        host. Column trees are built once (lazily) and reused — plan
        construction is per-round driver py4j chatter otherwise."""
        p = getattr(self, "_polite_plan", None)
        if p is None:
            # Salted per-host ranking for mega-host skew: only hosts
            # whose cap covers all salts are split (budget divides
            # exactly, stays an upper bound); small-cap hosts rank
            # unsalted.
            salt = (F.when(F.col("cap") >= HOST_SALTS,
                           F.pmod(url_hash(F.col("url")),
                                  F.lit(HOST_SALTS)))
                    .otherwise(F.lit(0)))
            salt_cap = (F.when(F.col("cap") >= HOST_SALTS,
                               (F.col("cap") / HOST_SALTS).cast("int"))
                        .otherwise(F.col("cap")))
            w = Window.partitionBy("host", "salt").orderBy("depth", "url")
            p = {
                "robots_b": F.broadcast(
                    self.robots.select("host", "crawl_delay_ms")),
                "cap": _host_cap(self.cfg), "salt": salt, "salt_cap": salt_cap,
                "rn": F.row_number().over(w),
                "sel": (F.when(F.col("rn") <= F.col("salt_cap"), F.lit("b"))
                        .otherwise(F.lit("d"))),
            }
            self._polite_plan = p
        return (frontier.join(p["robots_b"], "host", "left")
                .withColumn("cap", p["cap"])
                .withColumn("salt", p["salt"].cast("int"))
                .withColumn("salt_cap", p["salt_cap"])
                .withColumn("rn", p["rn"])
                .select("url", "depth", "host", p["sel"].alias("sel")))

    def _write_frontier(self, frontier: DataFrame, rnd: int) -> None:
        """Write a frontier round partitioned by the politeness verdict
        (sel=b: next round's batch, sel=d: deferred) and commit it.
        Fusing the budget window into the frontier WRITE (instead of a
        separate cache+count selection job at the start of the next
        round) lets the next round read its batch from sel=b and count
        it from footers, with no selection job. Without politeness
        every row is sel=b.

        A deferred row is rewritten once per window it waits, so a host
        with queue depth Q and per-window cap c costs ~Q²/(2c) extra
        row-writes over its drain. On perfbench's crawl_polite_resume
        (seed 1), 425 of the crawl's 6,253 frontier row-writes are
        deferred rows."""
        if self.enforce_politeness:
            out = self._politeness_mark(frontier)
        else:
            out = frontier.select("url", "depth", "host",
                                  F.lit("b").alias("sel"))
        (out.write.mode("overwrite").partitionBy("sel")
         .parquet(self._paths("frontier", rnd)))
        # snapshot-commit the round (fast-append; per-partition
        # lineage from footers, no extra Spark job). This commit IS
        # the round's progress record — see _state().
        self.frontier_table.commit_dir(
            f"round={rnd:05d}", "round",
            _footer_rows(self._paths("frontier", rnd)),
            extra={"round": rnd})

    def _read_round(self, rnd: int) -> tuple[DataFrame, DataFrame, int]:
        """(batch, deferred, n_batch) for a written frontier round —
        row count from parquet footers, no Spark job."""
        base = self._paths("frontier", rnd)
        bdir = os.path.join(base, "sel=b")
        ddir = os.path.join(base, "sel=d")
        n_batch = (sum(_footer_rows(bdir).values())
                   if os.path.isdir(bdir) else 0)
        rd = self.spark.read.schema(self._frontier_schema)
        batch = (rd.parquet(bdir) if n_batch
                 else self.spark.createDataFrame(
                     [], self._frontier_schema))
        deferred = (rd.parquet(ddir)
                    if os.path.isdir(ddir) else batch.limit(0))
        return batch, deferred, n_batch

    def _pin_config_manifest(self) -> None:
        """Write the full CrawlConfig echo (incl. custom_headers and
        the reference-parity captcha/file-filter surface,
        types/crawler.ts:13-23) into the checkpoint ONCE at crawl
        start, and refuse to resume under a different config — a
        checkpoint replayed with changed max_depth/rate_limit/headers
        would silently mix two schedules' semantics into one exact
        crawl order."""
        mp = os.path.join(self.ckpt, "config.json")
        man = self.cfg.manifest()
        if os.path.exists(mp):
            with open(mp) as f:
                prev = json.load(f)
            if prev != man:
                diff = sorted(k for k in man if prev.get(k) != man[k])
                raise ValueError(
                    f"checkpoint {self.ckpt} was started under a "
                    f"different CrawlConfig (changed: {diff}); resume "
                    "with the original config or start a fresh "
                    "checkpoint")
        else:
            with open(mp, "w") as f:
                json.dump(man, f, indent=1, sort_keys=True)

    def explore(self, max_rounds: int = 10_000) -> None:
        """Run (or resume) the explore loop to completion. Each round:
        politeness-budgeted batch selection → fetch join → edge/image
        extraction → admission → frontier update → checkpoint."""
        os.makedirs(self.ckpt, exist_ok=True)
        if os.path.isdir(os.path.join(self.ckpt, "cursor")):
            # written every politeness round by the retired
            # freeze-and-cursor store, whose frozen rows sit in a
            # partition _read_round does not read: resuming would
            # silently drop them
            raise ValueError(
                f"checkpoint {self.ckpt} was written by the "
                "freeze-and-cursor politeness store (it has a cursor/ "
                "dir); its frozen rows cannot be resumed — start a "
                "fresh checkpoint")
        self._pin_config_manifest()
        st = self._state()
        if st.get("done"):
            return
        rnd = st["completed_rounds"]
        if rnd == 0:
            self._write_frontier(
                self.seed_claims()
                .withColumn("host", url_host(F.col("url")))
                .select("url", "depth", "host"), 0)
        while rnd < max_rounds:
            t_round = time.time()
            steps: dict[str, float] = {}
            t_step = time.time()

            def tick(name: str) -> None:
                nonlocal t_step
                steps[name] = round(time.time() - t_step, 2)
                t_step = time.time()
            # batch/deferred come pre-split from the round's frontier
            # write (politeness fused there); counts from footers — the
            # selection costs ZERO Spark jobs at round start
            batch, deferred, n_batch = self._read_round(rnd)
            tick("select")
            if n_batch == 0:
                self.frontier_table.commit_marker("complete",
                                                  extra={"round": rnd})
                break
            # fetch = join against the synthetic web (deterministic
            # stand-in for a mapInPandas HTTP stage). URLs absent from
            # the web are dead links and need no row — everything
            # downstream (seen anti-join, finalize, errors) defaults an
            # attempted-but-never-materialized URL to 404 (the
            # attempted set IS the union of frontier rounds, so no
            # separate attempted table is written).
            # Join strategy by batch size. Rounds up to 1.5M urls
            # broadcast the batch over the web scan: one plan SHAPE for
            # every such round, so whole-stage codegen compiles once
            # and is reused (a per-round IN-pushdown variant lost: each
            # round's url list forced a fresh InSet codegen). Bigger
            # rounds use a plain AQE-planned join, since the driver-
            # side broadcast build is serial. On a real cluster the
            # fetch is an HTTP mapInPandas over the batch (O(batch), no
            # web scan); the scan is the sandbox stand-in's cost, and
            # it is fully parallel. No cache on the join output:
            # caching web rows (links arrays) thrashes the unified
            # memory manager.
            if n_batch <= 1_500_000:
                fetched = self._web_slim.join(F.broadcast(batch), "url")
            else:
                fetched = batch.join(self._web_slim, "url", "inner")
            if self.parse_from_html:
                # E1 in the loop: derive title/links/images from the
                # raw markup payload — narrow Arrow-batched stage, the
                # join output's partitioning rides through unchanged
                from ..operators.html_parse import parse_pages
                fetched = parse_pages(
                    fetched.select("url", "depth", "host", "status_code",
                                   "html"))
            fetched = fetched.select("url", "depth", "host", "status_code",
                                     "title", "links", "images")
            # fused fetch+extract+admit: the join output feeds ONE
            # generator pass producing page-marker rows (kind=page,
            # the old `fetched` table) and admitted child edges
            # (kind=edge) in a single write — no materialize+re-read
            # of the links arrays, one Spark job instead of two.
            # Parallelism comes from the join output's partitioning
            # (scan splits / shuffle partitions), so the
            # explode+canonicalize hot stage fans out to every core.
            # Admission (scheme/domain/robots on the child url) is
            # fused in (broadcast robots join + native predicates, no
            # shuffle): the checkpointed edge set is admissible-by-
            # construction, so neither the candidate step below nor
            # the resolve phase re-scans 10^10 edge strings through
            # the admission regexes a second time.
            combined = self._extract_plan.apply(fetched)
            (combined.write.mode("overwrite").partitionBy("kind")
             .parquet(self._paths("crawl", rnd)))
            # commit the crawl round BEFORE the next frontier round:
            # resume replays any round whose frontier commit is
            # missing, so the crawl commit must never lag it
            crawl_counts = _footer_rows(self._paths("crawl", rnd))
            self.crawl_table.commit_dir(f"round={rnd:05d}", "round",
                                        crawl_counts,
                                        extra={"round": rnd})
            edge_dir = os.path.join(self._paths("crawl", rnd), "kind=edge")
            if os.path.isdir(edge_dir):
                edges = (self.spark.read.schema(self._crawl_schema)
                         .parquet(edge_dir))
            else:  # round fetched pages but admitted no links
                edges = self.spark.createDataFrame([], self._crawl_schema)
            tick("fetch_extract")
            img_metrics = {}
            if self.ingest_images:
                img_metrics = self._ingest_images(rnd)
                tick("images")

            # candidate admission for the NEXT frontier (BFS depth
            # cap). Parent depth rides along on the edge rows, so no
            # join back to the batch is needed; edges are already
            # admitted, so this is a pure groupBy.
            cand = (edges
                    .select(F.col("child_url").alias("url"),
                            (F.col("depth") + 1).alias("depth"),
                            F.col("child_host").alias("host"))
                    .filter(F.col("depth") <= self.cfg.max_depth)
                    .groupBy("url").agg(F.min("depth").alias("depth"),
                                        F.first("host").alias("host")))
            # THE J1 join: exclude everything already attempted OR
            # currently deferred, unless it is now reached shallower.
            # The union of frontier rounds 0..rnd is exactly that set
            # (every frontier row is either attempted in its round or
            # carried forward as deferred), so ONE manifest-driven read
            # of the frontier history replaces both the attempted table
            # and a second deferred anti-join, and truncates lineage
            # across rounds (an incremental union-DF cache of the
            # history LOST: a 16-deep union of single-dir scans
            # re-analyzes slower than one multi-dir scan lists).
            # Depth-correcting: keep a candidate iff it strictly
            # improves on the best seen depth. Under politeness a URL
            # can be FIRST admitted at a non-minimal depth (its shallow
            # parent sat deferred while a deeper path found it); a
            # plain anti-join would freeze that inflated depth and the
            # max_depth cap would silently truncate the URL's subtree.
            # Re-admitting it re-fetches the page so expansion resumes
            # from the shallower depth; depths are non-negative ints
            # and strictly decrease per re-admit ⇒ terminates. Without
            # politeness nothing is deferred, so round rnd holds exactly
            # the depth-rnd urls, every candidate has depth rnd+1 —
            # deeper than any seen depth — and the filter keeps exactly
            # the unseen ones: the plain anti-join's result.
            seen_best = (self.frontier_table
                         .read(schema=self._frontier_schema)
                         .groupBy("url")
                         .agg(F.min("depth").alias("seen_depth")))
            new_cand = (cand.join(seen_best, "url", "left")
                        .filter(F.col("seen_depth").isNull()
                                | (F.col("depth") < F.col("seen_depth")))
                        .drop("seen_depth"))
            new_frontier = (
                deferred.unionByName(new_cand)
                .groupBy("url").agg(F.min("depth").alias("depth"),
                                    F.first("host").alias("host")))
            self._write_frontier(new_frontier, rnd + 1)
            tick("admit")
            # per-round metrics + per-partition lineage straight from
            # the parquet footers (no Spark job; one footer per
            # written partition, counts sum to the edge total)
            part_counts = {k: v for k, v in crawl_counts.items()
                           if k.startswith("kind=edge")}
            n_edges = sum(part_counts.values())
            # actual fetched rows (dead links produce no fetched row
            # under the inner-join fetch, so fetched < scheduled)
            n_fetched = sum(v for k, v in crawl_counts.items()
                            if k.startswith("kind=page"))
            tick("lineage")
            metrics = dict(round=rnd, scheduled=n_batch, fetched=n_fetched,
                           edges=n_edges,
                           wall_sec=round(time.time() - t_round, 2),
                           partitions=[[i, int(n)] for i, n in
                                       enumerate(part_counts.values())],
                           steps=steps,
                           **img_metrics)
            with open(os.path.join(self.ckpt, "metrics.jsonl"), "a") as f:
                f.write(json.dumps(metrics) + "\n")
            # no separate state write: _write_frontier's snapshot
            # commit of round rnd+1 IS the progress record
            rnd += 1

    # ---- resolve phase ----

    def resolve(self) -> DataFrame:
        """Exact DFS-claim resolution over the explored edge set.
        Returns the visits DataFrame: (url, url_hash, host, depth,
        parent_url, link_index, prio, status_code, visit_rank,
        batch_id) — equal row-for-row to the oracle simulator.

        Lexicographic-first claiming is P-complete — no parallel
        shortcut reproduces the reference's sequential DFS exactly —
        so the engine keeps everything EXPENSIVE distributed (fetch,
        parse, canonicalize, admission, dedup: all upstream of here)
        and resolves ordering over a COMPACT skeleton: edges
        dictionary-encoded to dense int32 ids JVM-side (~12 bytes/edge
        on disk), pulled via Arrow, claimed with an integer
        explicit-stack DFS (~20 ns/edge in C). See _resolve_skeleton.

        The whole skeleton is swept on the driver, which must hold it:
        a skeleton whose sweep would not fit the driver's available
        memory raises SkeletonMemoryError, and a node table of
        MAX_NODES (2^31) or more — past the sweep's int32 ids — raises
        NodeCeilingError before the skeleton is written."""
        # per-call step timings: RESET here so two consecutive
        # resolve() calls on one engine report disjoint,
        # non-accumulating breakdowns (the bug class round-4 ADVICE
        # flagged twice; pinned by
        # test_resolve_timings_disjoint_per_call)
        self.timings = {}
        # edges are admissible-by-construction (admission is fused
        # into the explore-side edge write — scheme/domain/robots run
        # exactly once per edge, there), so resolve needs no second
        # pass through the admission regexes.
        edges = (self.crawl_table.read(with_partition_columns=True,
                                       schema=self._crawl_schema)
                 .filter(F.col("kind") == "edge")
                 .select("parent_url", "link_index", "child_url"))
        return self._finalize_visits(self._resolve_skeleton(edges))

    def _resolve_skeleton(self, edges: DataFrame) -> DataFrame:
        """Exact DFS claiming over the dictionary-encoded skeleton.

        The node table (h, url, host, mono) is written once from the
        committed frontier rounds: it is the one id↔url dictionary of
        the resolve. The edges are encoded against it on hash, the
        seeds look their ids up in it, and the claims map their ids
        back to urls through it (_claims_to_visits).

        Lexicographic-first claiming is plain DFS preorder (the
        priority vectors have the prefix property), so the sweep is an
        integer explicit-stack DFS with no strings; the priority
        vectors are emitted by the claims write (_write_claims)."""
        t0 = time.time()
        # all-numeric skeleton (20 bytes/edge): host identity and
        # politeness are NOT shipped — only the visit ORDER is
        # inherently sequential; the per-host batch schedule is a
        # host-partitioned (distributed) window afterwards. Strings
        # stay JVM-side (string hashes made this collect the dominant
        # resolve cost).
        # Handoff: the grouping runs DISTRIBUTED — hash-partition by
        # parent + sortWithinPartitions(p, i) (the kernel needs each
        # parent's children contiguous in link order, NOT a global
        # sort, so this skips orderBy's range-sampling job and can't
        # skew) — written to parquet by all cores, then read back with
        # a thread pool. A single-stream driver toPandas() collect
        # here was 61 s of the committed 32-core bench (the dominant
        # resolve cost); the parallel write+read path scales with
        # cores on both sides.
        skel_path = self._paths("skeleton")
        npart = max(self.spark.sparkContext.defaultParallelism, 4)
        # node table: the distinct attempted urls — every claimable
        # node: frontier round 0 holds every admitted seed, and a
        # child the DFS can claim at depth ≤ max_depth has BFS depth ≤
        # its DFS depth, so BFS admitted it into a frontier round;
        # edges to deeper children are dead and marked id -1 below —
        # with a DENSE int32 id assigned distributed. Dense ids keep
        # the sweep's random-access state at ~8 bytes/node
        # (L3-resident) instead of an open-addressing hash walk.
        nodes_path = self._paths("nodes")
        # ONE job: dedup on h → hash-partition by h → partition-local
        # sort → store (h, url, host, mono) where mono =
        # monotonically_increasing_id = (pid << 33) | local ordinal,
        # assigned in the sorted row order. The dense id = per-pid
        # offset + ordinal is then DERIVED — offsets come from parquet
        # footers (_node_offsets, zero jobs), and the id projection
        # fuses into each consumer's plan.
        (self.frontier_table.read(schema=self._frontier_schema)
         .select(url_hash(F.col("url")).alias("h"), "url", "host")
         .dropDuplicates(["h"])
         .repartition(npart, "h")
         .sortWithinPartitions("h")
         .withColumn("mono", F.monotonically_increasing_id())
         .write.mode("overwrite").parquet(nodes_path))
        offs, n_nodes = _node_offsets(nodes_path)
        # the per-pid offsets (≤ npart entries) ride in the plan as a
        # literal map, so the consumers of nodes_id start no Python
        # workers (a DataFrame built from a Python list is a pickled
        # RDD, read by a Python worker in every job that scans it)
        off_map = F.create_map(*[
            F.lit(v).cast(t) for pid, off in sorted(offs.items()) or [(0, 0)]
            for v, t in ((pid, "int"), (off, "long"))])
        off = off_map[F.shiftrightunsigned("mono", 33).cast("int")]
        # consumers project only the columns they join on, so parquet
        # pruning keeps the skeleton's node scans to (h, mono)
        nodes_id = (self.spark.read.parquet(nodes_path)
                    .select("h", "url", "host",
                            (off + F.col("mono").bitwiseAND(_MONO_MASK))
                            .cast("int").alias("id")))
        self.timings["nodes_write"] = round(time.time() - t0, 2)
        t0 = time.time()
        # seeds sorted by prio string ≡ seed_rank order: the oracle
        # crawls each seed's subtree to completion before the next.
        # Round 0 of the frontier is seed_claims(), so every seed has
        # a node — unless seeds.parquet changed after the crawl began
        # (the config manifest does not pin it): such a seed was never
        # fetched, and resolving would silently drop or misplace it
        seed_rows = sorted(
            self.seed_claims()
            .select(url_hash(F.col("url")).alias("h"), "url", "prio")
            .join(nodes_id.select("h", "id"), "h", "left").collect(),
            key=lambda r: r["prio"])
        missing = [r["url"] for r in seed_rows if r["id"] is None]
        if missing:
            raise ValueError(
                f"checkpoint {self.ckpt} has no frontier row for seed "
                f"{missing[0]} ({len(missing)} missing): seeds.parquet "
                "changed after the crawl began; resolve with the "
                "original seeds or start a fresh checkpoint")
        self.timings["seed_collect"] = round(time.time() - t0, 2)
        t0 = time.time()
        # skeleton: edges dictionary-encoded to dense int32 ids
        # DISTRIBUTED (two shuffle-hash joins against the node table —
        # round 1 encoded on the driver with a C bsearch pass, which
        # was the largest core-count-independent resolve step at bench
        # scale: ~56-71 s at 80M edges). Children absent from the node
        # table are BFS-unreachable within the depth cap, so the DFS
        # can never claim them either: dead edges, id -1. A parent
        # absent from the table cannot happen for engine-written edges
        # (every fetched parent was a frontier row); the inner join
        # drops such rows instead of corrupting a CSR slot. 12 B/edge
        # on disk, parent-contiguous link-sorted within each part file
        # — exactly the layout the CSR pass needs.
        (edges.select(
            url_hash(F.col("parent_url")).alias("p"),
            F.col("link_index").alias("i"),
            url_hash(F.col("child_url")).alias("c"))
            .join(nodes_id.hint("shuffle_hash")
                  .select(F.col("h").alias("c"), F.col("id").alias("c_id")),
                  "c", "left")
            .join(nodes_id.hint("shuffle_hash")
                  .select(F.col("h").alias("p"), F.col("id").alias("p_id")),
                  "p", "inner")
            .select("p_id", "i",
                    F.coalesce("c_id", F.lit(-1)).cast("int").alias("c_id"))
            .repartition(npart, "p_id")
            .sortWithinPartitions("p_id", "i")
            .write.mode("overwrite").parquet(skel_path))
        self.timings["skeleton_write"] = round(time.time() - t0, 2)
        t0 = time.time()
        n_edges = sum(_footer_rows(skel_path).values())
        check_fits(_SWEEP_EDGE_BYTES * n_edges + _SWEEP_NODE_BYTES * n_nodes,
                   f"resolve sweep of {n_edges} edges over {n_nodes} nodes")
        import pyarrow as pa

        skel_t = _read_parquet_dir(
            skel_path, {"p_id": pa.array([], pa.int32()),
                        "i": pa.array([], pa.int32()),
                        "c_id": pa.array([], pa.int32())})
        self.timings["skeleton_read"] = round(time.time() - t0, 2)
        t0 = time.time()
        import numpy as np

        from ..core.dfs_kernel import csr_runlength, sweep

        p_ids = skel_t["p_id"].to_numpy(zero_copy_only=False)
        i_sorted = skel_t["i"].to_numpy(zero_copy_only=False)
        c_id = np.ascontiguousarray(
            skel_t["c_id"].to_numpy(zero_copy_only=False), np.int32)
        # CSR bounds over the parent-contiguous id column: one linear
        # C pass (kernel csr_bounds; numpy fallback pinned equal in
        # tests). Since the encode ran distributed in Spark, this is
        # the only driver-side pass over the edge set before the sweep
        uniq_p_id, bounds = csr_runlength(p_ids)
        seed_id = np.array([int(r["id"]) for r in seed_rows], np.int32)
        del skel_t, p_ids
        self.timings["csr_pass"] = round(time.time() - t0, 2)
        t0 = time.time()

        # The sweep claims in EXACT visit order, so the global visit
        # rank falls out for free (no global sort afterwards). The
        # kernel (core/dfs_kernel.py) is the engine's one sequential
        # constant: C when a toolchain exists (~20 ns/edge), Python
        # fallback otherwise — both pinned equal in tests.
        n, out_id, out_depth, out_parent_rank, out_li, impl = sweep(
            c_id, i_sorted, uniq_p_id, bounds, seed_id, n_nodes,
            self.cfg.max_depth)
        self.timings["dfs_sweep"] = round(time.time() - t0, 2)
        self.timings["sweep_impl"] = impl
        claims_path = self._paths("claims")
        shutil.rmtree(claims_path, ignore_errors=True)
        t0 = time.time()
        self._write_claims(claims_path, out_id, out_depth, out_parent_rank,
                           out_li,
                           seed_prio_by_id={int(r["id"]): r["prio"].encode()
                                            for r in seed_rows})
        self.timings["claims_write"] = round(time.time() - t0, 2)
        return self._claims_to_visits(claims_path, nodes_id)

    @staticmethod
    def _write_claims(claims_path: str, out_id, out_depth, out_parent_rank,
                      out_li, seed_prio_by_id: dict[int, bytes]) -> None:
        """Hand the sweep's claims back through a pyarrow parquet file:
        ~10× faster than createDataFrame at millions of rows,
        session-independent (no Arrow-vs-fallback divergence on the
        nullable parent_id), and it doubles as the resolve checkpoint
        artifact.

        Claims are written as DENSE IDS (id, parent_id), not urls or
        hashes: _claims_to_visits maps them back through the node
        table the skeleton was encoded with, so the 1-bit/node
        claimed bitmap stays the sweep's only node-indexed driver
        state (an id→hash array would be ~80 GB at 10^10 URLs).

        The priority VECTOR of every claim is emitted here too —
        prio(claim) = prio(parent) ++ hex4(link_index) — in one
        forward pass over the sweep's arrays (core/dfs_kernel
        emit_prios: parents claim before their children, so a
        parent's bytes are complete when its children copy them). The
        claims are driver-resident here by design, so this replaces
        the ⌈log₂ depth⌉ pointer-doubling shuffle joins that used to
        build the vectors afterwards."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..core.dfs_kernel import emit_prios

        n = len(out_id)
        # a parent rank is its row in the sweep's output (seeds: -1)
        parent_row = np.maximum(out_parent_rank, 0)
        parent_id = pa.array(
            (out_id[parent_row] if n else out_id).astype(np.int32),
            pa.int32(), mask=out_parent_rank < 0)
        # ---- prio build: one forward pass in the C kernel ----
        # (numpy twin inside emit_prios when no toolchain; pinned
        # equal in tests/test_dfs_kernel.py)
        srows = np.flatnonzero(out_parent_rank < 0)     # ≤ n_seeds rows
        seed_blob = bytearray()
        seed_ord = np.zeros(n, np.int32)
        for j, i in enumerate(srows):
            p = seed_prio_by_id[int(out_id[i])]
            assert len(p) == _HEX_W
            seed_blob += p
            seed_ord[i] = j
        offsets, data = emit_prios(
            out_depth, out_parent_rank, out_li,
            np.frombuffer(bytes(seed_blob) or b"\0" * _HEX_W, np.uint8),
            seed_ord)
        prio_arr = pa.LargeStringArray.from_buffers(
            n, pa.py_buffer(offsets), pa.py_buffer(data))
        os.makedirs(claims_path, exist_ok=True)
        tbl = pa.table({
            "id": pa.array(out_id.astype(np.int32)),
            "depth": pa.array(out_depth.astype(np.int32)),
            "parent_id": parent_id,
            "link_index": pa.array(out_li.astype(np.int32)),
            "prio": prio_arr,
            "visit_rank": pa.array(np.arange(n, dtype=np.int64)),
        })
        pq.write_table(tbl,
                       os.path.join(claims_path, "claims_00000.parquet"),
                       row_group_size=1 << 20)

    def _claims_to_visits(self, claims_path: str,
                          nodes_id: DataFrame) -> DataFrame:
        """Read the claims parquet (prio vectors already emitted by the
        sweep write — see _write_claims) and map dense ids back through
        the node table the skeleton was encoded against: one keyed
        join on id brings each claim's url, hash and host, one on
        parent_id its parent's url. No driver-side id→url array and
        no re-read of the frontier — the node table is the one
        dictionary."""
        t0 = time.time()
        claims_df = (self.spark.read.parquet(claims_path)
                     .withColumn("prio", F.col("prio").cast("string")))
        out = (claims_df
               .join(nodes_id.select("id", "url",
                                     F.col("h").alias("url_hash"), "host"),
                     "id")
               .join(nodes_id.select(F.col("id").alias("parent_id"),
                                     F.col("url").alias("parent_url")),
                     "parent_id", "left")
               .select("url", "url_hash", "host", "prio", "depth",
                       "parent_url", "link_index", "visit_rank"))
        out = out.localCheckpoint()
        self.timings["claims_rejoin"] = round(time.time() - t0, 2)
        return out

    def _finalize_visits(self, claims: DataFrame) -> DataFrame:
        """Attach statuses to the swept claims (which already carry
        url, url_hash, host and the global visit rank — the sweep
        claims in exact visit order) and the per-host politeness batch
        schedule (a DISTRIBUTED host-partitioned window). Claims of
        never-materialized URLs are 404s (dead links — fetched as
        absent)."""
        fetched = (self.crawl_table.read(with_partition_columns=True,
                                        schema=self._crawl_schema)
                   .filter(F.col("kind") == "page")
                   .select(F.col("parent_url").alias("url"),
                           "status_code").distinct())
        visits = (claims.join(fetched, "url", "left")
                  .withColumn("status_code",
                              F.coalesce("status_code", F.lit(404))))
        # politeness schedule: k-th visit of host h → batch k//cap(h).
        # DISTRIBUTED: the window partitions by host (ordering within
        # a host by prio ≡ visit order), so the only serial artifact
        # of the exact-ordering contract stays the sweep itself.
        visits = (visits.join(F.broadcast(
                      self.robots.select("host", "crawl_delay_ms")),
                      "host", "left")
                  .withColumn("cap", _host_cap(self.cfg))
                  .withColumn(
                      "host_k",
                      F.row_number().over(
                          Window.partitionBy("host").orderBy("prio")) - 1)
                  .withColumn("batch_id",
                              F.floor(F.col("host_k") / F.col("cap")))
                  .drop("crawl_delay_ms", "cap", "host_k"))
        return visits.select("visit_rank", "url", "url_hash", "host", "depth",
                             "parent_url", "link_index", "prio",
                             "status_code", "batch_id")

    # ---- derived outputs ----

    def errors(self, visits: DataFrame) -> DataFrame:
        """CrawlError rows (E9 categorization + P5 capture shape,
        crawler-engine.ts:1704-1709 and 705-711): timeouts (status 0)
        and 404s among VISITED urls, carried with the reference's full
        error-record fields. `retry_attempts` is literal 0 because the
        reference records every failure with retry_attempts: 0 and has
        no retry loop (crawler-engine.ts:710) — the column exists so a
        retrying fetch layer can fill it without a schema change."""
        return (visits.filter(F.col("status_code").isin(0, 404))
                .select("url", "depth",
                        F.when(F.col("status_code") == 0, "timeout")
                        .otherwise("404").alias("error_type"),
                        F.when(F.col("status_code") == 0,
                               F.lit("Navigation timeout"))
                        .otherwise(F.lit("HTTP 404 Not Found"))
                        .alias("error_message"),
                        F.lit(0).alias("retry_attempts")))

    _IMG_INGEST_SCHEMA = types.StructType([
        types.StructField("image_id", types.StringType()),
        types.StructField("src", types.StringType()),
        types.StructField("bytes", types.BinaryType()),
        types.StructField("w", types.IntegerType()),
        types.StructField("h", types.IntegerType()),
        types.StructField("fmt", types.StringType()),
        types.StructField("caption", types.StringType()),
        types.StructField("phash", types.LongType()),
        types.StructField("valid", types.BooleanType())])

    def _ingest_images(self, rnd: int) -> dict:
        """In-loop image ingest for round ``rnd`` (north-star core:
        "fetched image bytes are decoded/validated via vectorized
        pandas/Arrow UDFs with phash dedup" inside the micro-batch
        loop). Per round:

          1. distinct canonical image srcs on the round's fetched
             pages (SO2 in-page distinct + in-round distinct),
          2. src-seen anti-join against every PRIOR round's ingested
             set — strictly prior, so a replayed round never
             anti-joins against its own half-committed output and is
             byte-identical on resume (first-write-wins across
             rounds, the reference's image-already-downloaded skip),
          3. byte fetch — a join against the images dim here (the
             sandbox stand-in, same pattern as the page fetch); a real
             cluster swaps in an HTTP mapInPandas over the src batch,
             O(new srcs), no dim scan,
          4. decode + validate + phash via ONE Arrow-batched
             mapInPandas pass (real PNG/lossy-container decode,
             core/imaging.py; valid = decodes AND matches the
             declared w x h; phash RE-COMPUTED from the fetched
             bytes, never trusted from metadata),
          5. committed as a fast-append snapshot partitioned by
             `valid`, so the per-round decode/dedup metrics (new,
             invalid — the north star's "fetch/dedup metrics") come
             straight from parquet footers, no counting job.

        Scale: one anti-join shuffle keyed by src + one narrow Arrow
        pass per round; the ingested-src history read is
        manifest-driven and column-pruned to `src`."""
        import pandas as pd

        pdir = os.path.join(self._paths("crawl", rnd), "kind=page")
        if not os.path.isdir(pdir):
            return {"images_new": 0, "images_invalid": 0}
        pages = self.spark.read.schema(self._crawl_schema).parquet(pdir)
        refs = (pages.filter(F.col("title").isNotNull()
                             & (F.col("status_code") != 0))
                .select(F.explode("images").alias("im"))
                .select(canonicalize_url(F.col("im.src")).alias("src"))
                .filter(F.col("src") != "")
                .distinct())
        prior = [m for m in (self.images_table.lineage()[-1]["members"]
                             if self.images_table.exists() else [])
                 if m < f"round={rnd:05d}"]
        if prior:
            seen = (self.spark.read.schema("src string")
                    .option("basePath", self._paths("images"))
                    .parquet(*[os.path.join(self._paths("images"), m)
                               for m in prior])
                    .select("src"))
            refs = refs.join(seen, "src", "left_anti")
        # byte fetch: broadcast the round's new refs over the dim scan
        # (one compiled plan shape reused every round)
        fetched = self.images_dim.join(F.broadcast(refs), "src")

        def dec(it):
            from ..core.imaging import decode_image, phash64
            for pdf in it:
                ph, ok = [], []
                for b, fmt, w, h in zip(pdf["bytes"], pdf["fmt"],
                                        pdf["w"], pdf["h"]):
                    try:
                        px = decode_image(bytes(b), fmt)
                        valid = px.shape[:2] == (int(h), int(w))
                        ph.append(phash64(px) if valid else 0)
                    except Exception:
                        valid = False
                        ph.append(0)
                    ok.append(valid)
                yield pd.DataFrame({
                    "image_id": pdf["image_id"], "src": pdf["src"],
                    "bytes": pdf["bytes"], "w": pdf["w"], "h": pdf["h"],
                    "fmt": pdf["fmt"], "caption": pdf["caption"],
                    "phash": pd.Series(ph, dtype="int64"),
                    "valid": pd.Series(ok, dtype="bool")})

        # decode fan-out: the join output inherits the dim SCAN's
        # split count (a handful of tasks), so without the repartition
        # the Arrow decode stage runs on 2-3 cores at any core count;
        # the shuffle moves only the round's NEW srcs' bytes
        npart = max(self.spark.sparkContext.defaultParallelism, 4)
        out = (fetched.repartition(npart)
               .mapInPandas(dec, self._IMG_INGEST_SCHEMA))
        (out.write.mode("overwrite").partitionBy("valid")
         .parquet(self._paths("images", rnd)))
        counts = _footer_rows(self._paths("images", rnd))
        self.images_table.commit_dir(f"round={rnd:05d}", "round", counts,
                                     extra={"round": rnd})
        return {"images_new": sum(counts.values()),
                "images_invalid": sum(v for k, v in counts.items()
                                      if k.startswith("valid=false"))}

    def images(self, visits: DataFrame) -> DataFrame:
        """The FINAL image+caption table — the reference's downloaded
        set. Explore ingests speculatively (a page can be fetched by
        BFS yet end up DFS-claimed at a deeper rank whose children are
        depth-rejected, so the in-loop ingest is a superset exactly
        like the fetched-page set); this narrows it to srcs referenced
        by VISITED pages, the same claims-join narrowing pages get.
        One semi-join against the resolved visit set."""
        refs = self.image_refs(visits).select("src").distinct()
        ing = self.images_table.read(with_partition_columns=True,
                                     schema=self._IMG_INGEST_SCHEMA)
        return ing.join(refs, "src", "left_semi")

    def image_captions(self, visits: DataFrame) -> DataFrame:
        """Caption ATTRIBUTION in reference order: each ingested image
        keeps the alt text of the FIRST page (by DFS visit rank) that
        referenced it — deterministic and independent of which explore
        round happened to fetch the bytes. One min_by aggregate keyed
        by src."""
        refs = self.image_refs(visits)
        ranked = refs.join(
            visits.select(F.col("url").alias("page_url"), "visit_rank"),
            "page_url")
        return (ranked.groupBy("src")
                .agg(F.min_by(F.struct("caption", "page_url"),
                              F.col("visit_rank")).alias("c"),
                     F.min("visit_rank").alias("first_visit_rank"))
                .select("src", F.col("c.caption").alias("caption"),
                        F.col("c.page_url").alias("page_url"),
                        "first_visit_rank"))

    def image_refs(self, visits: DataFrame) -> DataFrame:
        """(page_url, src, caption) for visited, extracted pages —
        the rows that join to the image+caption byte table (E3)."""
        fetched = (self.crawl_table.read(with_partition_columns=True,
                                        schema=self._crawl_schema)
                   .filter(F.col("kind") == "page"))
        pages = (fetched.filter(F.col("title").isNotNull() &
                                (F.col("status_code") != 0))
                 .select(F.col("parent_url").alias("url"), "images")
                 .distinct()
                 .join(visits.select("url"), "url"))
        return (pages.select(F.col("url").alias("page_url"),
                             F.explode("images").alias("im"))
                .select("page_url",
                        canonicalize_url(F.col("im.src")).alias("src"),
                        F.col("im.alt").alias("caption")))

    def screenshots(self, visits: DataFrame, width: int = 64,
                    height: int = 48) -> DataFrame:
        """S6 screenshot sink rows (crawler-engine.ts:1591-1629;
        full-page PNG per successfully processed page): one PNG per
        visited, successfully-fetched page in the north-rule
        image+caption row shape (image_id, bytes, w, h, fmt, caption,
        phash). No browser exists in this container, so the pixel
        render is the repo's deterministic stub (core/imaging.py
        render_image keyed by the page url — the declared screenshot
        stand-in); everything Spark-side is the real path: Arrow-
        batched mapInPandas encode (one Python batch per partition,
        never per-row), image_id = xxhash64(url) (no filesystem naming
        games, SURVEY §2.1 S6), phash computed at write time so ST4 /
        phash-dedup run downstream without re-decoding."""
        import pandas as pd
        from pyspark.sql import types as T

        fetched = (self.crawl_table.read(with_partition_columns=True,
                                        schema=self._crawl_schema)
                   .filter(F.col("kind") == "page")
                   .filter(F.col("title").isNotNull() &
                           (F.col("status_code") != 0))
                   .select(F.col("parent_url").alias("url"), "title")
                   .distinct())
        src = (visits.select("url", "url_hash", "visit_rank")
               .join(fetched, "url"))
        schema = T.StructType([
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("visit_rank", T.LongType()),
        ])

        def enc(it):
            from ..core.imaging import phash64, png_encode, render_image
            for pdf in it:
                ids, blobs, caps, hashes, ranks = [], [], [], [], []
                for uh, title, rank in zip(pdf["url_hash"], pdf["title"],
                                           pdf["visit_rank"]):
                    iid = f"shot-{int(uh) & 0xFFFFFFFFFFFFFFFF:016x}"
                    px = render_image(iid, width, height)
                    ids.append(iid)
                    blobs.append(png_encode(px))
                    caps.append(title)
                    ph = phash64(px)
                    hashes.append(ph - (1 << 64) if ph >= (1 << 63) else ph)
                    ranks.append(int(rank))
                yield pd.DataFrame({
                    "image_id": ids, "bytes": blobs,
                    "w": [width] * len(ids), "h": [height] * len(ids),
                    "fmt": ["png"] * len(ids), "caption": caps,
                    "phash": hashes, "visit_rank": ranks})

        return src.mapInPandas(enc, schema)

    def write_screenshots(self, visits: DataFrame) -> SnapshotTable:
        """Commit S6 screenshot rows to the `screenshots` snapshot
        table, idempotently (first-write-wins on image_id — re-running
        after a resume never duplicates or replaces a page's shot,
        mirroring the reference's screenshot-already-captured skip,
        crawler-engine.ts:697-698)."""
        tbl = SnapshotTable(self.spark,
                            os.path.join(self.ckpt, "screenshots"))
        tbl.insert_if_absent(self.screenshots(visits), ["image_id"],
                             order_col="visit_rank")
        return tbl

    def html_capture(self, pages: DataFrame,
                     url_col: str = "url",
                     html_col: str = "html") -> SnapshotTable:
        """S7 HTML/CSS capture sink (browser-session.ts:3308-3637):
        per page, the sanitized HTML (E13: scripts/handlers stripped,
        href/src absolutized) and the page CSS with url() refs
        absolutized (E14), keyed by the url slug and committed
        FIRST-WRITE-WINS (the reference skips capture when the slug's
        files already exist, browser-session.ts:3400-3407) into the
        `pages_html` snapshot table. `pages` must carry raw HTML (the
        fetch stage's payload on a real cluster; fixture-rendered in
        tests)."""
        import pandas as pd
        from pyspark.sql import types as T

        from ..functions.urls import url_slug

        schema = T.StructType([
            T.StructField("slug", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("html", T.StringType()),
            T.StructField("css", T.StringType()),
        ])

        def capture(it):
            from ..core.html_parse import absolutize_css, parse_page
            from ..operators.html import sanitize_html_str
            for pdf in it:
                slugs, urls, htmls, csss = [], [], [], []
                for u, h, slug in zip(pdf["__u"], pdf["__h"],
                                      pdf["__slug"]):
                    slugs.append(slug)
                    urls.append(u)
                    htmls.append(sanitize_html_str(h, u))
                    csss.append(absolutize_css(parse_page(h, u).css, u))
                yield pd.DataFrame({"slug": slugs, "url": urls,
                                    "html": htmls, "css": csss})

        src = pages.select(F.col(url_col).alias("__u"),
                           F.col(html_col).alias("__h"),
                           url_slug(F.col(url_col)).alias("__slug"))
        tbl = SnapshotTable(self.spark,
                            os.path.join(self.ckpt, "pages_html"))
        tbl.insert_if_absent(src.mapInPandas(capture, schema), ["slug"],
                             order_col="url")
        return tbl

    def run(self) -> DataFrame:
        self.explore()
        return self.resolve()


def fresh_ckpt(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    return path
