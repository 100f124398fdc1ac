"""Vectorized synthetic-web generator for BENCH tiers.

The oracle-grade fixture generator (sources/fixtures.py) derives every
value from pure-Python xxhash64 so the sequential simulator can replay
it bit-exactly — that costs ~40 hash calls per page and caps out
around 10^5 pages. Bench tiers need 10^6-10^7 pages, so this generator
is fully vectorized (numpy splitmix64 lanes + pyarrow compute string
ops) and emits only the columns the engine's hot path touches
(url, host, status_code, title, links{href, element_type, link_index},
images, load_time_ms). Still a pure function of (seed, shape) —
byte-identical across runs — just not oracle-replayable (bench runs
measure throughput, not golden order).

Graph shape mirrors the scale hazards the north rule names:
  * one mega-host owning ~`mega_pct`% of all pages (skew),
  * ~85% same-host links (politeness pressure), rest uniform,
  * a slice of hrefs carry fragments / SHOUTING hosts so the
    canonicalization path does real work,
  * 1% timeouts + 1% dead links for the error path,
  * per-page image refs (0-3, 20% drawn from a hot head of ~1% of
    the pool — the shared-logo shape that makes src-seen dedup real
    work) against an image+caption byte dim (`images.parquet`) whose
    payloads are real encoded PNG / lossy-container bytes, so the
    in-loop ingest bench decodes genuinely.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 (public-domain mixer, Steele et al.)."""
    z = (x.astype(_U64) + _U64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _lane(j: np.ndarray, salt: int) -> np.ndarray:
    mixed = (salt * 0x9E3779B97F4A7C15 + 1) & 0xFFFFFFFFFFFFFFFF
    return splitmix64(j.astype(_U64) ^ _U64(mixed))


def generate_bench_web(out_dir: str, n_pages: int = 1_000_000,
                       n_hosts: int = 1000, mega_pct: int = 30,
                       seed: int = 42, n_seeds: int = 64,
                       n_images: int | None = None) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    j = np.arange(n_pages, dtype=np.int64)
    if n_images is None:
        n_images = max(256, n_pages // 8)

    # hosts: host 0 is the mega-host
    h_pick = _lane(j, seed + 1)
    host_id = np.where((h_pick % _U64(100)) < mega_pct, 0,
                       1 + (_lane(j, seed + 2) % _U64(n_hosts - 1))
                       ).astype(np.int64)

    host_str = pc.binary_join_element_wise(
        "h", pc.cast(pa.array(host_id), pa.string()), ".bench.org", "")
    url = pc.binary_join_element_wise(
        "http://", host_str, "/p", pc.cast(pa.array(j), pa.string()), "")

    st = _lane(j, seed + 3) % _U64(100)
    status = np.where(st < 98, 200, np.where(st < 99, 0, 404)).astype(np.int32)

    # ---- links (flattened then wrapped as ListArray) ----
    n_links = (3 + (_lane(j, seed + 4) % _U64(5))).astype(np.int64)
    offsets = np.zeros(n_pages + 1, dtype=np.int64)
    np.cumsum(n_links, out=offsets[1:])
    total = int(offsets[-1])
    page_of = np.repeat(j, n_links)
    link_index = (np.arange(total, dtype=np.int64)
                  - np.repeat(offsets[:-1], n_links)).astype(np.int32)

    lh = splitmix64(page_of.astype(_U64) * _U64(0x100000001B3)
                    ^ link_index.astype(_U64) ^ _U64(seed + 7))
    same_host = (lh % _U64(100)) < 85

    # same-host targets: pages grouped by host, pick hashed offset
    order = np.argsort(host_id, kind="stable")
    sorted_hosts = host_id[order]
    host_starts = np.searchsorted(sorted_hosts, np.arange(n_hosts))
    host_ends = np.searchsorted(sorted_hosts, np.arange(n_hosts), side="right")
    host_count = np.maximum(host_ends - host_starts, 1)
    link_host = host_id[page_of]
    pos = (splitmix64(lh ^ _U64(0xABCD)) %
           host_count[link_host].astype(_U64)).astype(np.int64)
    same_target = order[host_starts[link_host] + pos]
    cross_target = (splitmix64(lh ^ _U64(0x5555)) % _U64(n_pages)
                    ).astype(np.int64)
    target = np.where(same_host, same_target, cross_target)

    load_ms = (50 + (_lane(j, seed + 8) % _U64(1950))).astype(np.int32)
    img_t = pa.list_(pa.struct([("src", pa.string()), ("alt", pa.string())]))

    # ---- image refs (flattened like links) ----
    # 0-3 refs per page; 20% of refs hit a hot head of ~1% of the pool
    # (the shared-logo shape: the src-seen anti-join must kill real
    # duplicates, not a uniform trickle). 10% of refs carry a fragment
    # so the ingest's canonicalization collapses distinct ref strings
    # onto one dim src.
    n_refs = (_lane(j, seed + 9) % _U64(4)).astype(np.int64)
    ioffsets = np.zeros(n_pages + 1, dtype=np.int64)
    np.cumsum(n_refs, out=ioffsets[1:])
    total_refs = int(ioffsets[-1])
    ref_page = np.repeat(j, n_refs)
    ref_idx = (np.arange(total_refs, dtype=np.int64)
               - np.repeat(ioffsets[:-1], n_refs))
    rh = splitmix64(ref_page.astype(_U64) * _U64(0x100000001B3)
                    ^ ref_idx.astype(_U64) ^ _U64(seed + 11))
    head_size = max(1, n_images // 100)
    src_id = np.where((rh % _U64(5)) == 0,
                      splitmix64(rh ^ _U64(0x1111)) % _U64(head_size),
                      splitmix64(rh ^ _U64(0x2222)) % _U64(n_images)
                      ).astype(np.int64)

    # MULTIPLE files: a single parquet file caps Spark's scan
    # parallelism at file-size/maxPartitionBytes tasks (measured: a
    # 148 MB single-file 2M-page web ran the fetch stage 2-wide and
    # froze scaling efficiency at 0.32). String columns are
    # materialized PER FILE — the flattened link hrefs exceed Arrow's
    # 2 GiB single-array cap beyond ~10M pages if built in one shot.
    web_dir = os.path.join(out_dir, "web_pages.parquet")
    os.makedirs(web_dir, exist_ok=True)
    rows_per_file = 62_500
    n_files = max(1, (n_pages + rows_per_file - 1) // rows_per_file)
    for f in range(n_files):
        p0 = f * rows_per_file
        p1 = min(p0 + rows_per_file, n_pages)
        if p1 <= p0:
            break
        l0, l1 = int(offsets[p0]), int(offsets[p1])
        lh_c = lh[l0:l1]
        tgt_c = target[l0:l1]
        t_host = pc.binary_join_element_wise(
            "h", pc.cast(pa.array(host_id[tgt_c]), pa.string()),
            ".bench.org", "")
        href = pc.binary_join_element_wise(
            "http://", t_host, "/p", pc.cast(pa.array(tgt_c), pa.string()),
            "")
        # 10% fragment suffix, 5% SHOUTING host → canonicalization work
        href = pc.if_else(pa.array((lh_c % _U64(10)) == 0),
                          pc.binary_join_element_wise(href, "#sec", ""),
                          href)
        href = pc.if_else(pa.array((lh_c % _U64(20)) == 1),
                          pc.utf8_upper(href), href)
        etype = pc.if_else(pa.array((lh_c % _U64(10)) < 9),
                           pa.scalar("a"), pa.scalar("button"))
        link_struct = pa.StructArray.from_arrays(
            [href, etype, pa.array(link_index[l0:l1])],
            names=["href", "element_type", "link_index"])
        links = pa.ListArray.from_arrays(
            pa.array(offsets[p0:p1 + 1] - offsets[p0]), link_struct)
        i0, i1 = int(ioffsets[p0]), int(ioffsets[p1])
        sid_c = src_id[i0:i1]
        rh_c = rh[i0:i1]
        src = pc.binary_join_element_wise(
            "http://h", pc.cast(pa.array(sid_c % n_hosts), pa.string()),
            ".bench.org/img", pc.cast(pa.array(sid_c), pa.string()), "")
        src = pc.if_else(pa.array((rh_c % _U64(10)) == 3),
                         pc.binary_join_element_wise(src, "#logo", ""),
                         src)
        alt = pc.binary_join_element_wise(
            "alt ", pc.cast(pa.array(sid_c), pa.string()), "")
        img_struct = pa.StructArray.from_arrays([src, alt],
                                                names=["src", "alt"])
        images = pa.ListArray.from_arrays(
            pa.array(ioffsets[p0:p1 + 1] - ioffsets[p0]), img_struct)
        web = pa.table({
            "url": url.slice(p0, p1 - p0),
            "host": host_str.slice(p0, p1 - p0),
            "status_code": pa.array(status[p0:p1]),
            "title": pc.binary_join_element_wise(
                "Page ", pc.cast(pa.array(j[p0:p1]), pa.string()), ""),
            "links": links,
            "images": images.cast(img_t),
            "load_time_ms": pa.array(load_ms[p0:p1]),
        })
        pq.write_table(web, os.path.join(web_dir, f"part-{f:05d}.parquet"),
                       row_group_size=31250)

    # seeds: spread across hosts (includes the mega-host root), many
    # distinct pages per host for wide seed frontiers — a web-scale
    # crawl starts from a large seed list, so the bench's round 0
    # should carry real work, not 2^6 urls
    seed_pages = []
    for k in range(n_seeds):
        h = k % n_hosts
        off = (k // n_hosts) % int(host_count[h])
        seed_pages.append(int(order[host_starts[h] + off]))
    seeds = pa.table({
        "url": pa.array([f"http://h{host_id[p]}.bench.org/p{p}#home"
                         for p in seed_pages]),
        "seed_rank": pa.array(list(range(len(seed_pages))), pa.int32()),
    })
    pq.write_table(seeds, os.path.join(out_dir, "seeds.parquet"))

    robots = pa.table({
        "host": pa.array([f"h{k}.bench.org" for k in range(n_hosts)]),
        "disallow_prefixes": pa.array([["/private"]] * n_hosts,
                                      pa.list_(pa.string())),
        "crawl_delay_ms": pa.array([0] * n_hosts, pa.int64()),
    })
    pq.write_table(robots, os.path.join(out_dir, "robots.parquet"))

    # ---- image+caption byte dim (the ingest's HTTP stand-in) ----
    # Real encoded bytes, but drawn from a bounded PAYLOAD pool: the
    # same logo/banner bytes get served from many URLs on a real web,
    # and decode cost in the ingest is per-src-row regardless, so a
    # few thousand distinct pixel patterns keep generation O(pool)
    # while every dim row still decodes genuinely.
    from ..core.imaging import fake_lossy_encode, phash64, render_image

    n_payloads = int(min(4096, n_images))
    pay_bytes, pay_w, pay_h, pay_fmt, pay_ph = [], [], [], [], []
    for p in range(n_payloads):
        w, h = 16 + p % 17, 12 + p % 13
        px = render_image(f"bench-{p}", w, h)
        fmt = ("png", "jpeg", "webp")[0 if p % 10 < 8 else 1 + p % 2]
        if fmt == "png":
            from ..core.imaging import png_encode
            data = png_encode(px)
        else:
            data = fake_lossy_encode(px, fmt)
        pay_bytes.append(data)
        pay_w.append(w)
        pay_h.append(h)
        pay_fmt.append(fmt)
        pay_ph.append(phash64(px))  # pre-encode, like the fixture dim
    img_dir = os.path.join(out_dir, "images.parquet")
    os.makedirs(img_dir, exist_ok=True)
    ids = np.arange(n_images, dtype=np.int64)
    pay_of = (splitmix64(ids.astype(_U64) ^ _U64(seed + 13))
              % _U64(n_payloads)).astype(np.int64)
    dim_rows_per_file = 131_072
    for f in range((n_images + dim_rows_per_file - 1) // dim_rows_per_file):
        a = f * dim_rows_per_file
        b = min(a + dim_rows_per_file, n_images)
        ic, pc_of = ids[a:b], pay_of[a:b]
        pq.write_table(pa.table({
            "src": pc.binary_join_element_wise(
                "http://h", pc.cast(pa.array(ic % n_hosts), pa.string()),
                ".bench.org/img", pc.cast(pa.array(ic), pa.string()), ""),
            "image_id": pc.binary_join_element_wise(
                "im", pc.cast(pa.array(ic), pa.string()), ""),
            "bytes": pa.array([pay_bytes[k] for k in pc_of], pa.binary()),
            "w": pa.array([pay_w[k] for k in pc_of], pa.int32()),
            "h": pa.array([pay_h[k] for k in pc_of], pa.int32()),
            "fmt": pa.array([pay_fmt[k] for k in pc_of], pa.string()),
            "caption": pc.binary_join_element_wise(
                "caption ", pc.cast(pa.array(ic), pa.string()), ""),
            "phash": pa.array([pay_ph[k] for k in pc_of], pa.int64()),
        }), os.path.join(img_dir, f"part-{f:05d}.parquet"),
            row_group_size=32768)

    return {"pages": n_pages, "links": total, "hosts": n_hosts,
            "seeds": len(seed_pages), "image_refs": total_refs,
            "images": n_images}
