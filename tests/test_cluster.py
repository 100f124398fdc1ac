"""Cluster assignment (near-dup dedup end-to-end): connected
components (one driver union-find pass) match a pure-Python union-find over
the same candidate pairs, for the MinHash document graph and the
embedding-cosine graph, under different partitionings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.cluster import (connected_components,
                                             embedding_dedup,
                                             minhash_dedup)
from crawler_spark.operators.dedup import minhash_lsh_pairs
from crawler_spark.operators.similarity import cosine_pairs

SF = "/root/testdata/sf0.001"


def _uf_canon(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id in component
    return {i: find(i) for i in ids}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_minhash_dedup_matches_union_find(spark, docs):
    pairs = [(r["id_a"], r["id_b"])
             for r in minhash_lsh_pairs(docs, threshold=0.3).collect()]
    assert pairs, "fixture should contain near-dup docs"
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    exp = _uf_canon(ids, pairs)

    out = minhash_dedup(docs, threshold=0.3)
    got = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert got == exp
    canon = {r["doc_id"] for r in out.filter("is_canonical").collect()}
    assert canon == set(exp.values())
    # dedup actually removes something on this fixture
    assert len(canon) < len(ids)


def test_embedding_dedup_matches_union_find(spark, emb):
    # sf0.001's embeddings top out below 0.5 pairwise cosine; 0.3
    # yields ~900 pairs — plenty of non-trivial components for CC
    thr = 0.3
    pairs = [(r["id_a"], r["id_b"])
             for r in cosine_pairs(emb, thr).collect()]
    assert pairs, "fixture should contain near-dup embeddings"
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    exp = _uf_canon(ids, pairs)
    got = {r["vec_id"]: r["canonical_id"]
           for r in embedding_dedup(emb, thr).collect()}
    assert got == exp


def test_cc_partitioning_independent(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.3)
    ids = docs.select("doc_id")
    a = {(r["doc_id"], r["canonical_id"]) for r in
         connected_components(ids, pairs, "doc_id").collect()}
    b = {(r["doc_id"], r["canonical_id"]) for r in
         connected_components(ids.repartition(7), pairs.repartition(3),
                              "doc_id").collect()}
    assert a == b