"""Deterministic crawl-domain fixture generator (FIXTURES.md §B).

Generates the synthetic web the fetch stage serves — `seeds`,
`web_pages`, `robots`, `images` — as parquet, purely as a function of
(seed-string, scale). Every decision derives from xxhash64 of a
namespaced key, NOT from draw-ordered RNG, so adding a column or
reordering generation never perturbs existing values.

The link hrefs are written in deliberately non-canonical forms
(uppercase hosts, unsorted query params, fragments, trailing slashes,
relative paths, javascript:/mailto: junk, off-domain targets, missing
pages, button-onclick URLs) so every admission-filter branch of
SURVEY.md §2.2 is exercised; image src URLs include seeded
near-duplicate clusters for phash dedup (§1.3).

No Spark here — pyarrow only — so the oracle simulator and the engine
read identical bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..core.imaging import (avgpool_resize, decode_image, fake_lossy_encode,
                            mean_luma, phash64, png_encode, render_image)
from ..core.urls import canonicalize_url
from ..core.xxhash64 import xxhash64

TIERS = {
    # n_pages, n_hosts, mega_pct, images, max_img_px
    "t-smoke": dict(n_pages=1000, n_hosts=10, mega_pct=50, images=True, max_px=96),
    "t-correct": dict(n_pages=100_000, n_hosts=100, mega_pct=50, images=False, max_px=64),
}


def _xx(key: str) -> int:
    return xxhash64(key.encode("utf-8"), 0)


class WebGen:
    def __init__(self, tier: str = "t-smoke", salt: str = "v1"):
        cfg = TIERS[tier]
        self.n = cfg["n_pages"]
        self.n_hosts = cfg["n_hosts"]
        self.mega_pct = cfg["mega_pct"]
        self.with_images = cfg["images"]
        self.max_px = cfg["max_px"]
        self.salt = salt
        self.hosts = ["big.example.com"] + [
            f"s{i}.example.org" for i in range(1, self.n_hosts)
        ]
        # page -> host (host 0 is the mega-host with ~mega_pct% of pages)
        self.page_host = np.empty(self.n, dtype=np.int32)
        for j in range(self.n):
            r = _xx(f"{salt}:hostpick:{j}") % 100
            if r < self.mega_pct:
                self.page_host[j] = 0
            else:
                self.page_host[j] = 1 + _xx(f"{salt}:hostalt:{j}") % (self.n_hosts - 1)
        self.host_pages: list[list[int]] = [[] for _ in range(self.n_hosts)]
        for j in range(self.n):
            self.host_pages[self.page_host[j]].append(j)

    # ---------------- URLs ----------------

    def page_url(self, j: int) -> str:
        """Canonical URL of page j."""
        host = self.hosts[self.page_host[j]]
        scheme = "https" if _xx(f"{self.salt}:sch:{j}") % 3 == 0 else "http"
        sec = _xx(f"{self.salt}:sec:{j}") % 8
        r = _xx(f"{self.salt}:form:{j}") % 10
        if r < 2:  # query-carrying page (params already key-sorted)
            return f"{scheme}://{host}/sec{sec}/p{j}?id={j}&v=2"
        if r < 3:  # page under a robots-disallowed prefix
            return f"{scheme}://{host}/private/p{j}"
        if r < 4:  # deep path
            return f"{scheme}://{host}/sec{sec}/sub{r}/p{j}"
        return f"{scheme}://{host}/sec{sec}/p{j}"

    def _noncanonical_href(self, target: int, variant: int, from_j: int) -> str:
        u = self.page_url(target)
        scheme, rest = u.split("://", 1)
        host, _, path = rest.partition("/")
        path = "/" + path
        if variant == 0:
            return u
        if variant == 1:  # SHOUTING host
            return f"{scheme}://{host.upper()}{path}"
        if variant == 2:  # fragment
            return f"{u}#section-{variant}"
        if variant == 3:  # unsorted query + trailing slash
            if "?" in u:
                base, q = u.split("?", 1)
                parts = q.split("&")
                return base + "?" + "&".join(reversed(parts))
            return u + "/"
        if variant == 4:  # relative path when same host
            if self.page_host[target] == self.page_host[from_j]:
                return path
            return u
        return u  # variant 5: exact duplicate of canonical

    # ---------------- tables ----------------

    def seeds(self) -> pa.Table:
        """A few seed URLs in non-canonical form: the mega-host root
        plus one page from each of the first few other hosts."""
        urls, ranks = [], []
        s0 = self.page_url(self.host_pages[0][0])
        urls.append(s0.replace("://", "://").replace("big.", "BIG.") + "#home")
        ranks.append(0)
        for k, hp in enumerate(self.host_pages[1:4], start=1):
            if hp:
                urls.append(self.page_url(hp[0]) + "/")
                ranks.append(k)
        return pa.table({"url": urls, "seed_rank": pa.array(ranks, pa.int32())})

    def _page_links(self, j: int) -> list[dict]:
        links = []
        idx = 0

        def add(href, label, etype):
            nonlocal idx
            links.append(
                dict(
                    href=href,
                    label=label,
                    selector=f"a.l{idx}" if etype == "a" else f"button.b{idx}",
                    element_type=etype,
                    pos_x=(idx * 37) % 1280,
                    pos_y=(idx * 91) % 2048,
                    link_index=idx,
                )
            )
            idx += 1

        nl = _xx(f"{self.salt}:nl:{j}") % 6 + 2
        same_host = self.host_pages[self.page_host[j]]
        for i in range(nl):
            r = _xx(f"{self.salt}:lk:{j}:{i}")
            if r % 100 < 80 and len(same_host) > 1:
                target = same_host[r % len(same_host)]
            else:
                target = r % self.n
            variant = _xx(f"{self.salt}:lv:{j}:{i}") % 6
            add(self._noncanonical_href(target, variant, j), f"link {i}", "a")
        # junk + special branches, deterministic per page
        r = _xx(f"{self.salt}:junk:{j}") % 8
        if r < 3:
            add("#top", "to top", "a")
        if r < 2:
            add("javascript:void(0)", "js", "a")
        if r == 5:
            add("mailto:x@example.com", "mail", "a")
        if r in (1, 4):
            add(f"http://external{r}.example.xyz/off", "offsite", "a")
        if r in (2, 6):
            add(f"http://{self.hosts[self.page_host[j]]}/missing/m{j}", "dead", "a")
        if r in (0, 3, 7):  # button[onclick] navigation (E5 regex branch)
            target = same_host[_xx(f"{self.salt}:bt:{j}") % len(same_host)]
            add(self.page_url(target), f"go {j}", "button")
        return links

    def _page_images(self, j: int) -> list[dict]:
        if not self.with_images:
            return []
        m = _xx(f"{self.salt}:ni:{j}") % 4
        out = []
        host = self.hosts[self.page_host[j]]
        n_bases = max(16, self.n // 8)
        for i in range(m):
            base = _xx(f"{self.salt}:imgb:{j}:{i}") % n_bases
            variant = _xx(f"{self.salt}:imgv:{j}:{i}") % 3  # near-dup cluster member
            fmt = ("png", "jpeg", "webp")[_xx(f"{self.salt}:imgf:{base}") % 3]
            ext = {"png": "png", "jpeg": "jpg", "webp": "webp"}[fmt]
            src = f"http://{host}/img/base{base}_v{variant}.{ext}"
            out.append(dict(src=src, alt=f"caption for base{base} v{variant}"))
        return out

    def web_pages(self) -> pa.Table:
        urls, hostcol, status, titles, metas, texts = [], [], [], [], [], []
        headings, links, images, forms, load_ms = [], [], [], [], []
        for j in range(self.n):
            u = self.page_url(j)
            urls.append(u)
            hostcol.append(self.hosts[self.page_host[j]])
            r = _xx(f"{self.salt}:st:{j}") % 100
            st = 200 if r < 92 else (404 if r < 96 else 0)  # 0 == timeout
            status.append(st)
            titles.append(f"Page {j} — section content")
            metas.append(f"meta description for page {j}")
            base_text = f"Body text of page {j}. " * (3 + _xx(f"{self.salt}:tl:{j}") % 40)
            if r >= 98:  # long-text rows exercise the 5000-char cap
                base_text = base_text * 20
            texts.append(base_text)
            nh = 1 + _xx(f"{self.salt}:nh:{j}") % 5
            headings.append([f"H{k} of page {j}" for k in range(nh)])
            links.append(self._page_links(j))
            images.append(self._page_images(j))
            nf = _xx(f"{self.salt}:nf:{j}") % 2
            forms.append(
                [
                    dict(action=f"/submit{j}", method="post" if j % 2 else "get",
                         fields=["q", "email"][: 1 + j % 2])
                    for _ in range(nf)
                ]
            )
            load_ms.append(50 + _xx(f"{self.salt}:lt:{j}") % 1950)
        link_t = pa.list_(
            pa.struct(
                [
                    ("href", pa.string()),
                    ("label", pa.string()),
                    ("selector", pa.string()),
                    ("element_type", pa.string()),
                    ("pos_x", pa.int32()),
                    ("pos_y", pa.int32()),
                    ("link_index", pa.int32()),
                ]
            )
        )
        img_t = pa.list_(pa.struct([("src", pa.string()), ("alt", pa.string())]))
        form_t = pa.list_(
            pa.struct(
                [
                    ("action", pa.string()),
                    ("method", pa.string()),
                    ("fields", pa.list_(pa.string())),
                ]
            )
        )
        return pa.table(
            {
                "url": urls,
                "host": hostcol,
                "status_code": pa.array(status, pa.int32()),
                "title": titles,
                "meta_description": metas,
                "text_content": texts,
                "headings": pa.array(headings, pa.list_(pa.string())),
                "links": pa.array(links, link_t),
                "images": pa.array(images, img_t),
                "forms": pa.array(forms, form_t),
                "load_time_ms": pa.array(load_ms, pa.int32()),
            }
        )

    def robots(self) -> pa.Table:
        rows = {"host": [], "disallow_prefixes": [], "crawl_delay_ms": []}
        for i, h in enumerate(self.hosts):
            r = _xx(f"{self.salt}:rb:{i}") % 4
            dis = ["/private"]
            if r == 1:
                dis.append("/sec7")
            if r == 2:
                dis = []  # permissive host
            rows["host"].append(h)
            rows["disallow_prefixes"].append(dis)
            rows["crawl_delay_ms"].append([0, 0, 500, 1000][r])
        return pa.table(
            {
                "host": rows["host"],
                "disallow_prefixes": pa.array(rows["disallow_prefixes"], pa.list_(pa.string())),
                "crawl_delay_ms": pa.array(rows["crawl_delay_ms"], pa.int64()),
            }
        )

    def images(self, web: pa.Table) -> pa.Table:
        """One row per distinct image src in the web — THE graft input
        table, exact `input_hint` shape: (image_id, bytes, w, h, fmt,
        caption, phash). Near-duplicate cluster members render the same
        base pattern with small seeded noise."""
        seen: dict[str, dict] = {}
        img_col = web.column("images").to_pylist()
        for page_imgs in img_col:
            for im in page_imgs:
                src = canonicalize_url(im["src"])
                if src in seen:
                    continue
                name = src.rsplit("/", 1)[-1]  # baseN_vM.ext
                stem = name.rsplit(".", 1)[0]
                base, _, var = stem.rpartition("_v")
                variant = int(var)
                fmt = {"png": "png", "jpg": "jpeg", "webp": "webp"}[name.rsplit(".", 1)[1]]
                w = 16 + _xx(f"{self.salt}:iw:{base}") % (self.max_px - 16)
                h = 16 + _xx(f"{self.salt}:ih:{base}") % (self.max_px - 16)
                px = render_image(
                    f"{self.salt}:{base}", w, h,
                    noise_seed=variant, noise_amp=6 if variant else 0,
                )
                data = png_encode(px) if fmt == "png" else fake_lossy_encode(px, fmt)
                seen[src] = dict(
                    image_id=f"{_xx('img:' + src):016x}",
                    bytes=data,
                    w=w,
                    h=h,
                    fmt=fmt,
                    caption=im["alt"],
                    phash=phash64(px),
                    # thumbnail-stat oracle column: mean 16x16-box
                    # luma of the DECODED bytes, precomputed at
                    # generation so the driver's DuckDB check can
                    # verify the distributed thumbnail stage
                    mean_luma=mean_luma(avgpool_resize(
                        decode_image(data, fmt), 16, 16)),
                    src=src,
                )
        rows = list(seen.values())
        return pa.table(
            {
                "image_id": [r["image_id"] for r in rows],
                "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
                "w": pa.array([r["w"] for r in rows], pa.int32()),
                "h": pa.array([r["h"] for r in rows], pa.int32()),
                "fmt": [r["fmt"] for r in rows],
                "caption": [r["caption"] for r in rows],
                "phash": pa.array([r["phash"] for r in rows], pa.int64()),
                "mean_luma": pa.array([r["mean_luma"] for r in rows],
                                      pa.float64()),
                "src": [r["src"] for r in rows],
            }
        )


def render_page_html(row: dict) -> str:
    """Deterministic raw-HTML rendering of one web_pages row — the
    inverse of crawler_spark.core.html_parse.parse_page, so the E1
    HTML-parse stage can be driven (and round-trip-tested) from real
    markup instead of the pre-parsed structs. Anchor/button link
    provenance (class ⇒ selector, data-x/data-y ⇒ position, text ⇒
    label) renders exactly the fields the reference's DOM evaluate
    reads (crawler-engine.ts:1504-1589); a <style> block with
    relative url() refs exercises the E14 absolutize path."""
    import html as _html

    def esc(s):
        return _html.escape(str(s), quote=True)

    parts = ["<!DOCTYPE html><html><head>",
             f"<title>{esc(row['title'])}</title>"]
    if row.get("meta_description"):
        parts.append(f'<meta name="description" '
                     f'content="{esc(row["meta_description"])}">')
    # css with relative url() refs (absolutized by the parser, E14)
    parts.append('<style>body { background: url("/assets/bg.png"); }\n'
                 ".hero { background-image: url('../img/hero.jpg'); }"
                 "</style>")
    parts.append("</head><body>")
    for k, htext in enumerate(row.get("headings") or []):
        lvl = min(k + 1, 6)
        parts.append(f"<h{lvl}>{esc(htext)}</h{lvl}>")
    for ln in row.get("links") or []:
        cls = ln["selector"].split(".", 1)[1] if "." in ln["selector"] else ""
        pos = (f'data-x="{ln["pos_x"]}" data-y="{ln["pos_y"]}"')
        if ln["element_type"] == "a":
            parts.append(f'<a href="{esc(ln["href"])}" class="{cls}" {pos}>'
                         f"{esc(ln['label'])}</a>")
        else:  # button[onclick] navigation
            parts.append(f'<button class="{cls}" {pos} '
                         f"onclick=\"location.href='{esc(ln['href'])}'\">"
                         f"{esc(ln['label'])}</button>")
    for im in row.get("images") or []:
        parts.append(f'<img src="{esc(im["src"])}" alt="{esc(im["alt"])}">')
    for fm in row.get("forms") or []:
        inputs = "".join(f'<input name="{esc(f)}">'
                         for f in fm.get("fields") or [])
        parts.append(f'<form action="{esc(fm["action"])}" '
                     f'method="{esc(fm["method"])}">{inputs}</form>')
    # clickable-element URL-mining surface (crawler-engine.ts:1387-1412)
    if row.get("links"):
        first = row["links"][0]["href"]
        parts.append(f'<div data-href="{esc(first)}" '
                     f'onclick="track()">promo</div>')
    parts.append(f"<p>{esc(row.get('text_content') or '')}</p>")
    parts.append("</body></html>")
    return "".join(parts)


def write_html_web(spark, fixture_dir: str, out_dir: str) -> str:
    """Materialize a RAW-HTML web table from a struct-web fixture dir:
    (url, host, status_code, html, load_time_ms), html rendered per
    page by render_page_html — the payload shape a real fetch stage
    returns. The frontier engine auto-detects this shape (no `links`
    column) and runs the E1 HTML-parse stage inside its fetch path,
    so the crawl derives link structs from markup instead of
    pre-parsed fixtures. Timeout pages (status 0) and unparsed pages
    (null title — reference aborts extraction, crawler-engine.ts:1704)
    carry html=NULL, matching a fetch that returned no body. Render is
    a distributed mapInPandas over the struct web (pure-Python
    renderer, Arrow-batched); writes parquet to out_dir and returns
    out_dir."""
    import pandas as pd

    from pyspark.sql import types as T

    web = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("status_code", web.schema["status_code"].dataType),
        T.StructField("html", T.StringType()),
        T.StructField("load_time_ms", web.schema["load_time_ms"].dataType),
    ])

    def plain(v):
        # Arrow hands list columns back as numpy arrays (and struct
        # elements as dicts holding more of them); the renderer wants
        # plain Python truthiness
        if hasattr(v, "tolist"):
            v = v.tolist()
        if isinstance(v, list):
            return [plain(x) for x in v]
        if isinstance(v, dict):
            return {k: plain(x) for k, x in v.items()}
        return v

    def render(it):
        for pdf in it:
            htmls = []
            for row in pdf.to_dict("records"):
                if row["status_code"] == 0 or row["title"] is None:
                    htmls.append(None)
                else:
                    htmls.append(render_page_html(plain(row)))
            yield pd.DataFrame({
                "url": pdf["url"], "host": pdf["host"],
                "status_code": pdf["status_code"], "html": htmls,
                "load_time_ms": pdf["load_time_ms"]})

    web.mapInPandas(render, schema=schema).write.mode("overwrite") \
        .parquet(out_dir)
    return out_dir


def generate(tier: str, out_dir: str, salt: str = "v1") -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    g = WebGen(tier, salt)
    counts = {}
    web = g.web_pages()
    for name, tbl in [
        ("seeds", g.seeds()),
        ("web_pages", web),
        ("robots", g.robots()),
    ] + ([("images", g.images(web))] if g.with_images else []):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", default="t-smoke", choices=sorted(TIERS))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "fixtures",
        args.tier,
    )
    print(generate(args.tier, out))
