"""Vectorized bench-web generator: deterministic output, valid graph
shape (mega-host skew, same-host bias, canonicalizable hrefs)."""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq

from crawler_spark.core.urls import canonicalize_url, url_host
from crawler_spark.sources.synth_web import generate_bench_web


def _digest(path):
    t = pq.read_table(path)
    h = hashlib.sha256()
    for batch in t.to_batches():
        for col in batch.columns:
            h.update(str(col).encode())
    return h.hexdigest()


def test_deterministic(tmp_path):
    a = generate_bench_web(str(tmp_path / "a"), 5000, n_hosts=50)
    b = generate_bench_web(str(tmp_path / "b"), 5000, n_hosts=50)
    assert a == b
    for f in ("web_pages", "seeds", "robots"):
        assert _digest(str(tmp_path / f"a/{f}.parquet")) == \
            _digest(str(tmp_path / f"b/{f}.parquet"))


def test_graph_shape(tmp_path):
    stats = generate_bench_web(str(tmp_path / "w"), 8000, n_hosts=100,
                               mega_pct=30)
    web = pq.read_table(str(tmp_path / "w/web_pages.parquet")).to_pylist()
    hosts = {}
    same = cross = 0
    for r in web:
        hosts[r["host"]] = hosts.get(r["host"], 0) + 1
        for l in r["links"]:
            child = canonicalize_url(l["href"])
            assert child.startswith("http://h")
            if url_host(child) == r["host"]:
                same += 1
            else:
                cross += 1
    mega = max(hosts.values())
    assert 0.2 < mega / len(web) < 0.4  # mega-host skew
    assert same / (same + cross) > 0.7  # politeness pressure
    assert stats["links"] == same + cross
    # status mix: some timeouts/404s
    st = {r["status_code"] for r in web}
    assert st == {200, 0, 404}
