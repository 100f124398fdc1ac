"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting — all native column
expressions over `documents(doc_id, text, ...)`.

The reference crawler's text surface is extraction + truncation; these
are the standard corpus-curation extensions built on the same scalar
toolbox (E-series operators). Every feature here has a DuckDB-SQL
twin in __spark_entry__.oracle_sql() — the semantics are pinned by
that cross-engine equality, not just by unit tests."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_col

# stopword marker sets for the n-gram-free language heuristic:
# tiny, deterministic, shared verbatim with the DuckDB oracle
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}

EN_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "it", "on", "for")

_TOKS = "_toks"


def text_features(df: DataFrame, cols: dict[str, str],
                  text: str = "text") -> DataFrame:
    """*df* with per-document features of its *text* column attached.
    *cols* maps each output column name to one of the features:

      n_tokens        word tokens (tokens_col, duplicates kept)
      stopword_ratio  English stopword tokens / tokens (0 if none)
      punct_ratio     '.,;:!?' characters / characters (0 if empty)
      quality         [0,1] score: rewards mid-length docs with
                      healthy stopword presence, penalizes
                      punctuation soup (rounded to 6 places)
      n_subwords      BPE-ish count: tokens + every character that is
                      neither alphanumeric nor whitespace
      lang            argmax of LANG_MARKERS hits, earlier language
                      wins ties, 'unk' when no marker hits
      fingerprint     doc_fingerprint (the exact-dedup key)

    An output named like an existing column replaces it in place; new
    ones are appended in *cols* order. Ratios are exact integer-ratio
    doubles, so every feature is bit-stable against the DuckDB twin.

    The text is tokenized once: the token array is projected to a
    named column that every feature reads, then dropped. Catalyst's
    CollapseProject does not inline a non-cheap expression referenced
    more than once, so the optimized plan keeps that one tokenizer
    (pinned by tests/test_corpus_job.py)."""
    txt = F.col(text)
    toks = F.col(_TOKS)
    n_tok = F.size(toks)
    n_char = F.length(txt)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    n_punct = F.length(F.regexp_replace(txt, r"[^.,;:!?]", ""))
    stopword_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(0.0)
    len_term = F.least(n_tok / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio * 5.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 10.0)
    # argmax as the max of (hits, -position, lang) structs: the most
    # hits win, then the earlier language; ('unk', 0 hits) outranks
    # every language only when none of them hits
    best = F.array_max(F.array(
        F.struct(F.lit(0).alias("hits"), F.lit(0).alias("pos"),
                 F.lit("unk").alias("lang")),
        *[F.struct(F.size(F.filter(toks, lambda t: t.isin(*ms)))
                   .alias("hits"),
                   F.lit(-i).alias("pos"), F.lit(lang).alias("lang"))
          for i, (lang, ms) in enumerate(LANG_MARKERS.items(), 1)]))
    feats = {
        "n_tokens": n_tok,
        "stopword_ratio": stopword_ratio,
        "punct_ratio": punct_ratio,
        "quality": F.round(0.4 * len_term + 0.3 * stop_term
                           + 0.3 * punct_pen, 6),
        "n_subwords": n_tok + F.length(
            F.regexp_replace(F.lower(txt), r"[a-z0-9\s]", "")),
        "lang": best["lang"],
        "fingerprint": doc_fingerprint(txt),
    }
    return (df.withColumn(_TOKS, tokens_col(txt, distinct=False))
            .withColumns({out: feats[f] for out, f in cols.items()})
            .drop(_TOKS))


def doc_fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 of the normalized text
    (lowercase, whitespace collapsed) — the exact-dedup key that both
    Spark and DuckDB compute byte-identically."""
    text = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm)


def winnow_fingerprints(text: Column | str, k: int = 5,
                        window: int = 8) -> Column:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling
    k-gram hashes, per-window minima, distinct+sorted. Returns
    array<bigint> — the plagiarism/near-dup sketch.

    Structured so no large subexpression is referenced twice: the
    k-gram hash array is materialized ONCE inside a single lambda
    scope via a wrapping transform-over-singleton (referencing a big
    expression tree from several places makes Catalyst re-expand it
    each time — quadratic analysis blowup at best)."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(text, distinct=False)

    def kgrams(ts: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(ts) - k)
        return F.when(F.size(ts) >= k, F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(
                "_", *[F.element_at(ts, i + j + 1) for j in range(k)]))
        )).otherwise(F.array().cast("array<bigint>"))

    def window_mins(kh: Column) -> Column:
        widx = F.sequence(F.lit(0), F.size(kh) - window)
        return F.when(F.size(kh) >= window, F.transform(
            widx, lambda i: F.array_min(F.slice(kh, i + 1, window))
        )).otherwise(kh)

    # bind each stage once: wrap in transform over a 1-element array
    # so the lambda variable (a cheap reference) is what gets reused.
    staged = F.transform(
        F.array(toks),
        lambda ts: F.transform(F.array(kgrams(ts)),
                               lambda kh: window_mins(kh))[0])[0]
    return F.array_sort(F.array_distinct(staged))
