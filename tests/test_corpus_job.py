"""The corpus pipeline end to end: jobs.corpus_job.run_corpus over a
tiny corpus with a planted duplicate structure must return the
planted stats and write the planted canonical id of every doc and
vector; its text features must equal the DuckDB doc_stats oracle;
and the feature pass must tokenize each document once."""

from __future__ import annotations

import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from crawler_spark.operators.textstats import text_features
from jobs.corpus_job import run_corpus
from tools.check_oracle import parse_args

BASES, VARIANTS, EXACT, SALAD = 6, 2, 2, 8
GROUPS, MEMBERS, DIM = 4, 3, 64


def _write_corpus(path: str) -> dict:
    """Documents: BASES topic docs, each followed by VARIANTS ' vNN'
    near-duplicates (joined by MinHash LSH), EXACT case/whitespace
    copies (dropped by the exact fingerprint) and SALAD word-salad
    singletons. Embeddings: GROUPS random 64-dim vectors with MEMBERS
    near-identical copies each. Returns the expected stats and
    canonical ids."""
    rng = random.Random(7)
    vocab = [f"w{i:03x}" for i in range(4096)]
    salad_vocab = [f"t{i:04x}" for i in range(1 << 16)]
    ids, texts, doc_canon = [], [], {}
    per_base = 1 + VARIANTS + EXACT
    for b in range(BASES):
        base = " ".join(rng.choice(vocab) for _ in range(rng.randint(40, 60)))
        first = b * per_base
        copies = ([f"{base} v{k:02d}" for k in range(VARIANTS)]
                  + ["  ".join(base.upper().split(" ")),
                     base.title() + " "][:EXACT])
        for k, text in enumerate([base] + copies):
            ids.append(first + k)
            texts.append(text)
            if k <= VARIANTS:   # exact copies never reach doc_clusters
                doc_canon[first + k] = first
    for j in range(SALAD):
        d = BASES * per_base + j
        ids.append(d)
        texts.append(" ".join(rng.choice(salad_vocab) for _ in range(120)))
        doc_canon[d] = d
    # two uneven row groups, like a single-file export
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts)}),
                   os.path.join(path, "documents.parquet"),
                   row_group_size=len(ids) - 5)

    gen = np.random.default_rng(7)
    base_v = gen.uniform(-1, 1, (GROUPS, DIM))
    vecs = (np.repeat(base_v, MEMBERS, axis=0)
            + 1e-3 * gen.uniform(-1, 1, (GROUPS * MEMBERS, DIM)))
    vec_ids = np.arange(GROUPS * MEMBERS, dtype=np.int64)
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32()))}),
        os.path.join(path, "embeddings.parquet"))
    return {
        "stats": {"docs_in": len(ids),
                  "docs_after_exact": BASES * (1 + VARIANTS) + SALAD,
                  "docs_canonical": BASES + SALAD,
                  "vecs_in": GROUPS * MEMBERS,
                  "vecs_canonical": GROUPS},
        "doc_canonical": doc_canon,
        "vec_canonical": {int(v): int(v // MEMBERS * MEMBERS)
                          for v in vec_ids},
    }


def _canonical(path: str, key: str) -> dict:
    t = pq.read_table(path, columns=[key, "canonical_id"])
    return dict(zip(t[key].to_pylist(), t["canonical_id"].to_pylist()))


def test_run_corpus_finds_planted_clusters(spark, tmp_path):
    src = tmp_path / "corpus"
    src.mkdir()
    want = _write_corpus(str(src))
    out = str(tmp_path / "out")
    stats = run_corpus(spark, str(src / "documents.parquet"), out,
                       embeddings=str(src / "embeddings.parquet"),
                       minhash_threshold=0.5, cosine_threshold=0.9)
    assert stats == want["stats"]
    assert (_canonical(os.path.join(out, "doc_clusters"), "doc_id")
            == want["doc_canonical"])
    assert (_canonical(os.path.join(out, "vec_clusters"), "vec_id")
            == want["vec_canonical"])
    canon_docs = pq.read_table(os.path.join(out, "docs"),
                               columns=["doc_id"])["doc_id"].to_pylist()
    assert sorted(canon_docs) == sorted(set(want["doc_canonical"].values()))


# one document per feature corner: each language, the tie orders
# (en > de > fr > es), shouting, punctuation soup, a long doc past the
# length cap, non-ASCII letters, tabs and newlines, no markers
FEATURE_DOCS = [
    "The cat is on the mat, and it is a fine day for a walk.",
    "Der Hund und die Katze ist das Tier der Familie.",
    "Le chat et la souris sont les amis de la maison.",
    "El perro y los gatos es las mascotas de casa.",
    "the der apple pie",
    "der le banana split",
    "le el cherry tart",
    "WARNING!!! READ THIS NOW!!! THE END.",
    "a, b; c: d! e? f. g, h;",
    " ".join(["the", "quick", "brown", "fox"] * 60),
    "Café 2024 — naïve façade, über Straße!",
    "tab\tand\nnewline  text",
    "lorem ipsum dolor sit amet",
]
# DuckDB divides 0/0 to NULL, so these two are pinned to recorded
# values: (lang, quality, tokens, subwords, fingerprint)
EDGE_DOCS = {
    "": ("unk", 0.3, 0, 0, "d41d8cd98f00b204e9800998ecf8427e"),
    "...!?,;:": ("unk", 0.0, 0, 8, "3afecd2f36cf046dcc2b1c36b82edffc"),
}


def test_run_corpus_features_match_oracle(spark, tmp_path):
    texts = FEATURE_DOCS + list(EDGE_DOCS)
    src = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["xx"] * len(texts))}), src)
    out = str(tmp_path / "out")
    stats = run_corpus(spark, src, out)
    assert stats["docs_canonical"] == len(texts)
    t = pq.read_table(os.path.join(out, "docs"))
    # names, order and types of the canonical docs table; the input's
    # lang column is overwritten in place
    assert [(f.name, str(f.type)) for f in t.schema] == [
        ("doc_id", "int64"), ("fingerprint", "string"), ("text", "string"),
        ("lang", "string"), ("quality", "double"), ("tokens", "int32"),
        ("subwords", "int32")]
    cols = ["lang", "quality", "tokens", "subwords", "fingerprint"]
    got = {r["doc_id"]: tuple(r[c] for c in cols) for r in t.to_pylist()}

    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
        want = {r[0]: r[1:] for r in con.execute(
            "SELECT doc_id, pred_lang, quality, n_tokens, n_subwords, "
            f"fingerprint FROM ({entry.oracle_sql()['doc_stats']})")
            .fetchall()}
    for i, text in enumerate(texts):
        if text in EDGE_DOCS:
            assert got[i] == EDGE_DOCS[text], text
        else:
            assert got[i] == want[i], text
    assert {lang for lang, *_ in got.values()} == {"en", "de", "fr", "es",
                                                    "unk"}


def _tokenizers(df) -> int:
    return (df._jdf.queryExecution().optimizedPlan().toString()
            .count("split(lower("))


def test_text_features_tokenize_once(spark):
    docs = spark.createDataFrame([(0, FEATURE_DOCS[0])],
                                 "doc_id long, text string")
    feats = ("n_tokens", "stopword_ratio", "punct_ratio", "quality",
             "n_subwords", "lang", "fingerprint")
    assert _tokenizers(text_features(docs, {f: f for f in feats})) == 1
    assert _tokenizers(entry.q_doc_stats(spark, parse_args([]).sf)) == 1
