"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of (workload shape, seed) and runs
outside every timed region: the synthetic webs come from
``crawler_spark.sources.synth_web.generate_bench_web`` and the crawl
goldens from the sequential ``crawler_spark.oracle.simulator``; the
corpus is built here with a planted cluster structure, so its expected
dedup result is known by construction.

Inputs and goldens are cached under the work dir keyed by shape and
seed: a repeated seed reuses them, a new seed generates them once.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

_U64 = np.uint64
_MASK = (1 << 64) - 1


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over uint64 lanes."""
    z = x.astype(_U64) ^ _U64((salt * 0x9E3779B97F4A7C15 + 1) & _MASK)
    with np.errstate(over="ignore"):
        z = z + _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _cached(path: str, build) -> str:
    """Build ``path`` once: a ``.done`` marker is written last, so a
    run killed mid-build regenerates instead of reading half a dir."""
    if not os.path.exists(path + ".done"):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        with open(path + ".done", "w"):
            pass
    return path


# ---------------------------------------------------------------- crawl

def web_dir(work: str, shape: dict, seed: int) -> str:
    """The synthetic web of ``shape`` for ``seed`` (generated once)."""
    from crawler_spark.sources.synth_web import generate_bench_web

    key = "web-{pages}p-{hosts}h-{seeds}s".format(**shape)

    def build(path):
        generate_bench_web(path, shape["pages"], n_hosts=shape["hosts"],
                           mega_pct=shape["mega_pct"], seed=seed,
                           n_seeds=shape["seeds"])
    return _cached(os.path.join(work, "inputs", f"{key}-seed{seed}"), build)


def crawl_golden(web: str, cfg) -> dict:
    """The oracle's visits (the ten compared fields), URL-seen set and
    image refs for ``web`` under ``cfg``, cached beside the web."""
    import hashlib

    tag = hashlib.sha1(json.dumps(cfg.manifest(), sort_keys=True)
                       .encode()).hexdigest()[:12]
    path = f"{web}-golden-{tag}.json"
    if not os.path.exists(path):
        from crawler_spark.oracle.simulator import run_oracle

        o = run_oracle(web, cfg)
        gold = {
            "visits": [[v.rank, v.url, v.url_hash, v.host, v.depth,
                        v.parent_url, v.link_index, v.prio, v.status_code,
                        v.batch_id] for v in o.visits],
            "seen": sorted(o.seen),
            "image_refs": sorted({(i["page_url"], i["src"], i["caption"])
                                  for i in o.images}),
        }
        with open(path + ".tmp", "w") as f:
            json.dump(gold, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        gold = json.load(f)
    gold["visits"] = [tuple(v) for v in gold["visits"]]
    gold["seen"] = set(gold["seen"])
    gold["image_refs"] = {tuple(r) for r in gold["image_refs"]}
    return gold


# --------------------------------------------------------------- corpus

def corpus_dir(work: str, shape: dict, seed: int) -> str:
    """Seeded documents + embeddings with a planted dedup structure.

    Documents: ``bases`` topic docs of 40-79 words over a 4096-word
    vocabulary, each followed by ``variants`` near-duplicates (the
    base text plus a ' vNN' suffix: 3-gram Jaccard >= 0.95, so MinHash
    LSH joins them to the base), ``exact`` copies of every base that
    differ only in case and whitespace (removed by the exact
    fingerprint dedup), and ``salad`` distinct 120-word docs over a
    65536-word vocabulary (singletons). The layout mirrors the
    near-dup + word-salad inflation of tools/bench_corpus_scaling.

    Embeddings: ``groups`` random 64-dim base vectors, each with
    ``members`` copies perturbed by 1e-3 noise (cosine ~1 inside a
    group, |cosine| < 0.5 across groups at 64 dims).

    Writes ``expected.json``: the run_corpus stats and the canonical id
    of every doc and vector."""
    key = "corpus-{bases}b-{variants}v-{exact}x-{salad}s-{groups}g".format(
        **shape)
    return _cached(os.path.join(work, "inputs", f"{key}-seed{seed}"),
                   lambda path: _write_corpus(path, shape, seed))


def _write_corpus(path: str, shape: dict, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    nb, nv, nx, ns = (shape[k] for k in ("bases", "variants", "exact",
                                         "salad"))
    vocab = np.array([f"w{i:03x}" for i in range(4096)])
    salad_vocab = np.array([f"t{i:04x}" for i in range(1 << 16)])
    langs = np.array(["en", "de", "fr", "es", "zh"])
    b = np.arange(nb, dtype=np.int64)
    lens = 40 + (_mix(b, seed * 7 + 1) % _U64(40)).astype(np.int64)
    ids, texts, canon = [], [], []
    per_base = 1 + nv + nx
    for i in range(nb):
        pos = np.arange(lens[i], dtype=np.int64)
        words = vocab[(_mix(pos + i * 1000, seed * 7 + 2)
                       % _U64(4096)).astype(np.int64)]
        base = " ".join(words)
        first = i * per_base
        ids.append(first)
        texts.append(base)
        for k in range(nv):
            ids.append(first + 1 + k)
            texts.append(f"{base} v{k:02d}")
        for k in range(nx):
            ids.append(first + 1 + nv + k)
            texts.append("  ".join(base.upper().split(" ")) if k % 2 == 0
                         else base.title() + " ")
        canon += [first] * per_base
    s0 = nb * per_base
    sal = (_mix(np.arange(ns * 120, dtype=np.int64), seed * 7 + 3)
           % _U64(1 << 16)).astype(np.int64).reshape(ns, 120)
    for j in range(ns):
        ids.append(s0 + j)
        texts.append(" ".join(salad_vocab[sal[j]]))
        canon.append(s0 + j)
    ids_a = np.array(ids, np.int64)
    lang = langs[(_mix(ids_a, seed * 7 + 4) % _U64(5)).astype(np.int64)]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids_a),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{d % 20}" for d in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"), row_group_size=2048)

    ng, nm, dim = shape["groups"], shape["members"], 64
    g = np.arange(ng * dim, dtype=np.int64)
    base_v = ((_mix(g, seed * 7 + 5) >> _U64(11)).astype(np.float64)
              / float(1 << 53) * 2.0 - 1.0).reshape(ng, dim)
    vec_ids = np.arange(ng * nm, dtype=np.int64)
    noise = ((_mix(np.arange(ng * nm * dim, dtype=np.int64), seed * 7 + 6)
              >> _U64(11)).astype(np.float64) / float(1 << 53) - 0.5)
    vecs = (np.repeat(base_v, nm, axis=0)
            + 2e-3 * noise.reshape(ng * nm, dim)).astype(np.float32)
    vec_canon = (vec_ids // nm) * nm
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array((vec_ids // nm).astype(np.int32)),
    }), os.path.join(path, "embeddings.parquet"), row_group_size=1024)

    expected = {
        "stats": {"docs_in": len(ids),
                  "docs_after_exact": nb * (1 + nv) + ns,
                  "docs_canonical": nb + ns,
                  "vecs_in": ng * nm,
                  "vecs_canonical": ng},
        # exact copies never reach the near-dup stage, so they are
        # absent from doc_clusters
        "doc_canonical": {str(d): c for d, c in zip(ids, canon)
                          if not (d < s0 and d % per_base > nv)},
        "vec_canonical": {str(v): int(c)
                          for v, c in zip(vec_ids, vec_canon)},
    }
    with open(os.path.join(path, "expected.json"), "w") as f:
        json.dump(expected, f)

