"""Randomized property tests for the exact-recall claims optimized
in the dedup path: the PPJoin prefix/length/positional filters in
jaccard_pairs must lose NO qualifying pair on adversarial random
corpora (brute-force cross-check, multiple thresholds), and
connected_components must match union-find on random graphs whose
components are long CHAINS with shuffled ids — the large diameters
that round-based label propagation handles worst."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.cluster import connected_components
from crawler_spark.operators.dedup import jaccard_pairs
from crawler_spark.oracle import text_oracle as TO


def _random_docs(seed: int, n_docs: int = 120, vocab: int = 40):
    """Small vocabulary + mutated copies → lots of borderline-similar
    pairs right around the thresholds (the regime the positional
    filter could get wrong)."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    docs = []
    for i in range(n_docs):
        if docs and rng.random() < 0.5:
            # mutate an earlier doc: drop/insert a few tokens
            base = docs[rng.randrange(len(docs))][1].split()
            k = rng.randint(1, 4)
            for _ in range(k):
                if base and rng.random() < 0.5:
                    base.pop(rng.randrange(len(base)))
                else:
                    base.insert(rng.randrange(len(base) + 1),
                                rng.choice(words))
            text = " ".join(base)
        else:
            text = " ".join(rng.choice(words)
                            for _ in range(rng.randint(4, 30)))
        docs.append((i, text))
    return docs


@pytest.mark.parametrize("seed,threshold,n", [
    (1, 0.3, 1), (2, 0.5, 1), (3, 0.8, 1),
    (4, 0.5, 3), (5, 0.7, 3),
])
def test_jaccard_pairs_match_bruteforce(spark, seed, threshold, n):
    rows = _random_docs(seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text):
        return (TO.tokens(text, distinct=True) if n == 1
                else TO.ngrams(text, n))

    sets = {i: set(grams(t)) for i, t in rows}
    exp = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if not sets[a] or not sets[b]:
                continue
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= threshold:
                exp[(a, b)] = round(j, 6)

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(docs, threshold, n).collect()}
    assert set(got) == set(exp), (
        f"missing={sorted(set(exp) - set(got))[:5]} "
        f"extra={sorted(set(got) - set(exp))[:5]}")
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)
    # the regime is non-trivial: some pairs qualify, most don't
    assert exp, "seed produced no qualifying pairs — weak test"


def _uf(ids, pairs):
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
    return {i: find(i) for i in ids}


@pytest.mark.parametrize("seed", [11, 12])
def test_connected_components_long_chains(spark, seed):
    """Chains of length up to ~40 (diameters that would force many
    min-label rounds); mixed with random extra edges, singletons, and
    shuffled ids so the min-label is in the middle of some chains."""
    rng = random.Random(seed)
    ids = list(range(300))
    rng.shuffle(ids)
    pairs, pos = [], 0
    while pos + 1 < 250:
        ln = rng.randint(2, 40)
        chain = ids[pos:pos + ln]
        pairs += list(zip(chain, chain[1:]))
        pos += ln
    # a few random extra edges inside the chained prefix
    for _ in range(10):
        a, b = rng.sample(ids[:250], 2)
        pairs.append((a, b))
    exp = _uf(ids, pairs)

    ids_df = spark.createDataFrame([(i,) for i in ids], "node long")
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["node"]: r["canonical_id"]
           for r in connected_components(ids_df, pairs_df,
                                         "node").collect()}
    assert got == exp
    # non-trivial: at least one component deeper than 8 label rounds
    assert max(len([1 for v in exp.values() if v == c])
               for c in set(exp.values())) > 8
