"""Text-analysis operators for training-data pipelines.

- ``ext_text_stats``   per-document quality metrics (token counts, length
                       ratios, stopword ratio) — the signals behind
                       quality filtering.
- ``ext_token_count``  whitespace + BPE-ish regex token counting.
- ``ext_fingerprint``  document fingerprinting: whole-text digest + a
                       rolling-window min-hash (winnowing-style) over
                       character 8-grams.
- ``ext_lang_id``      n-gram-profile language heuristic (rows-only: the
                       corpus' lang labels are synthetic, so the heuristic
                       is scored against itself, not the label).

All expressions are built-in Catalyst functions over the tokenized array —
one narrow projection pass, no shuffle, no Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

_STOPWORDS = ("the", "a", "of", "and")
_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "ext_text_stats",
    oracle=f"""
SELECT doc_id, lang, source,
       len(str_split(text, ' ')) AS n_tokens,
       len(list_distinct(str_split(text, ' '))) AS n_distinct,
       length(text) AS text_len,
       n_chars,
       round(list_sum(list_transform(str_split(text, ' '),
                                     t -> CAST(length(t) AS DOUBLE)))
             / len(str_split(text, ' ')), 4) AS avg_token_len,
       round(CAST(len(list_filter(str_split(text, ' '),
                                  t -> t IN {_STOPWORDS})) AS DOUBLE)
             / len(str_split(text, ' ')), 4) AS stopword_ratio
FROM documents
""",
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token/distinct counts, lengths, mean
    token length, stopword ratio — the standard quality-scoring features,
    all as codegen'd array expressions in a single projection."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("text_len"),
        "n_chars",
        F.round(tok_len_sum / n_tokens, 4).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
    )


@register(
    "ext_token_count",
    oracle=f"""
SELECT doc_id,
       len(str_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_tokens
FROM documents
""",
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single punctuation) — the cheap proxy for
    tokenizer cost used to budget training corpora."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).alias("re_tokens"),
    )


@register(
    "ext_fingerprint",
    oracle="""
SELECT doc_id,
       md5(text) AS digest,
       list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                               i -> md5(text[i:i+7]))) AS rolling_min_hash
FROM documents
""",
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text md5 plus a rolling min-hash
    over character 8-grams (the winnowing primitive — the minimum digest
    over a sliding window is shift-invariant, so near-identical documents
    collide).  The window fold is a JVM-side transform over a position
    sequence; no UDF."""
    docs = table(spark, sf_dir, "documents")
    rolling = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1))),
            lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
        )
    )
    return docs.select(
        "doc_id",
        F.md5("text").alias("digest"),
        rolling.alias("rolling_min_hash"),
    )


# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
_LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "fast", "slow"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
    "zh": ("zh",),
}


def _lang_id_oracle() -> str:
    """DuckDB twin of the greatest-struct argmax: list_max over
    (score, lang) structs compares lexicographically — same score-then-
    lang-descending tie-break as Spark's greatest()."""
    items = ",\n           ".join(
        "{'score': CAST(len(list_intersect(toks, ["
        + ", ".join(f"'{w}'" for w in words)
        + f"])) AS INT), 'lang': '{lang}'}}"
        for lang, words in sorted(_LANG_PROFILES.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(str_split(text, ' ')) AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         list_max([
           {items}
         ]) AS best
  FROM t
)
SELECT doc_id,
       lang AS label_lang,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang,
       best.score AS profile_hits
FROM scored
"""


@register("ext_lang_id", oracle=_lang_id_oracle())
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each document's token set against
    per-language stopword profiles, predict the argmax (ties → 'und').
    The scoring is fully deterministic (array-intersect counts, argmax
    via greatest-struct with score-then-lang tie-break), so the oracle
    hash-checks it: DuckDB's list_max over the same (score, lang) structs
    reproduces Spark's greatest() ordering exactly.  The corpus' lang
    labels are synthetic word-soup — predicted_lang is graded against the
    PROFILES, not the labels; the operator shape is the production
    pattern."""
    docs = table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(_LANG_PROFILES.items())
    ]
    best = F.greatest(*scores)
    return docs.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("predicted_lang"),
        best["score"].alias("profile_hits"),
    )


_MIN_TOKENS = 5
_MAX_AVG_TOKEN_LEN = 12.0
_MAX_PUNCT_RATIO = 0.2
_MIN_DISTINCT_RATIO = 0.3


@register(
    "ext_quality_score",
    oracle=f"""
WITH feats AS (
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_tokens,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> CAST(length(t) AS DOUBLE)))
               / len(str_split(text, ' ')) AS avg_tok,
           CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
               / len(str_split(text, ' ')) AS distinct_ratio
    FROM documents
)
SELECT doc_id,
       round((CASE WHEN n_tokens >= {_MIN_TOKENS} THEN 0.25 ELSE 0 END)
           + (CASE WHEN avg_tok <= {_MAX_AVG_TOKEN_LEN} THEN 0.25 ELSE 0 END)
           + (CASE WHEN punct_ratio <= {_MAX_PUNCT_RATIO} THEN 0.25 ELSE 0 END)
           + (CASE WHEN distinct_ratio >= {_MIN_DISTINCT_RATIO} THEN 0.25 ELSE 0 END),
             2) AS quality,
       (n_tokens >= {_MIN_TOKENS} AND avg_tok <= {_MAX_AVG_TOKEN_LEN}
        AND punct_ratio <= {_MAX_PUNCT_RATIO}
        AND distinct_ratio >= {_MIN_DISTINCT_RATIO}) AS keep
FROM feats
""",
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score + keep/drop gate — the filtering
    pass of a training-data pipeline.  Four heuristic signals (enough
    tokens, sane token length, low punctuation density, lexical diversity)
    each contribute 0.25; `keep` is the conjunctive gate.  One codegen'd
    projection, no shuffle: at 100 TB this runs scan-speed and the `keep`
    filter feeds directly into the dedup/sink stages downstream."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_tok = (
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    c_tok = n_tokens >= _MIN_TOKENS
    c_avg = avg_tok <= _MAX_AVG_TOKEN_LEN
    c_punct = punct_ratio <= _MAX_PUNCT_RATIO
    c_dist = distinct_ratio >= _MIN_DISTINCT_RATIO
    quarter = lambda c: F.when(c, F.lit(0.25)).otherwise(F.lit(0.0))  # noqa: E731
    return docs.select(
        "doc_id",
        F.round(quarter(c_tok) + quarter(c_avg) + quarter(c_punct) + quarter(c_dist), 2).alias(
            "quality"
        ),
        (c_tok & c_avg & c_punct & c_dist).alias("keep"),
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_DIGITS_RE = r"[0-9]{6,}"


@register(
    "ext_pii_mask",
    oracle=f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_DIGITS_RE}', '<NUM>', 'g') AS masked,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{_DIGITS_RE}')) AS n_long_numbers
FROM documents
""",
)
def ext_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: mask email addresses and long digit runs
    (phone/account-number shaped), and count what was masked for audit.
    Pure regexp_replace/extract_all projections — scan-speed, no shuffle;
    the per-doc hit counts are what a compliance report aggregates."""
    docs = table(spark, sf_dir, "documents")
    masked = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _DIGITS_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        masked.alias("masked"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_DIGITS_RE), 0)).alias(
            "n_long_numbers"
        ),
    )


_TOP_NGRAMS = 20


@register(
    "ext_ngram_profile",
    oracle=f"""
SELECT bigram, n
FROM (
  SELECT bigram, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, bigram) AS rn
  FROM (
    SELECT unnest(list_transform(
             range(1, len(str_split(text, ' '))),
             i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i + 1]
           )) AS bigram
    FROM documents
  )
  GROUP BY bigram
)
WHERE rn <= {_TOP_NGRAMS}
""",
)
def ext_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram profile: top-20 adjacent-token pairs by frequency —
    the n-gram census behind contamination checks and boilerplate
    detection.  Bigrams are formed JVM-side by zipping the token array
    with its own tail (no window, no per-token shuffle); only the bigram
    counts shuffle, and the top-k is a TakeOrdered, not a global sort."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(_TOP_NGRAMS)
    )


@register(
    "ext_dataset_split",
    oracle="""
SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
            WHEN doc_id % 10 = 8 THEN 'valid'
            ELSE 'test' END AS split,
       lang,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
)
def ext_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split keyed on doc_id —
    reproducible across runs and engines with no RNG state to ship (for
    unkeyed data, hash a stable column first).  Returns the split x lang
    census, the table a data card reports.  The split column is a pure
    projection, so downstream training readers filter on it scan-side."""
    docs = table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "valid")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_TFIDF_TOP_TERMS = 3


@register(
    "ext_tfidf",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, tok,
       round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
FROM (
  SELECT t.doc_id, t.tok,
         t.tf, d.df, n.n_docs,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)) DESC, t.tok
         ) AS rn
  FROM tf t JOIN df d ON t.tok = d.tok CROSS JOIN n
)
WHERE rn <= {_TFIDF_TOP_TERMS}
""",
)
def ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 highest-scoring terms per document (smoothed IDF).
    Term frequencies shuffle on (doc, term); document frequencies on term;
    the IDF side is vocabulary-sized, so it BROADCASTS back onto the TF
    rows — the fact table is never reshuffled for the join.  The standard
    keyword-extraction / relevance primitive of a text pipeline."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size folds into the SAME plan as a broadcast 1-row aggregate
    # (no separate docs.count() job / extra corpus scan).
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_TOP_TERMS)
        .select("doc_id", "tok", F.round("score", 6).alias("tfidf"))
    )


@register(
    "ext_canonicalize",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS canonical,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS canonical_hash
FROM documents
""",
)
def ext_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization before dedup: lowercase, strip non-alnum,
    collapse whitespace, trim — then hash the canonical form.  Dedup on
    canonical_hash catches case/punctuation-variant duplicates that
    byte-exact dedup misses; one codegen projection, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    canonical = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        canonical.alias("canonical"),
        F.md5(canonical).alias("canonical_hash"),
    )


_CONTAM_NGRAM = 3
_CONTAM_BENCH_SOURCE = "src0"


@register(
    "ext_contamination_check",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, len(str_split(text, ' ')) - {_CONTAM_NGRAM - 2}),
           i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i + 1]
                || ' ' || str_split(text, ' ')[i + 2]
         ))) AS gram
  FROM documents
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE source = '{_CONTAM_BENCH_SOURCE}'
),
corpus AS (
  SELECT doc_id, gram FROM grams WHERE source <> '{_CONTAM_BENCH_SOURCE}'
)
SELECT c.doc_id,
       count(*)                                    AS n_grams,
       count(*) FILTER (b.gram IS NOT NULL)        AS n_contaminated,
       round(CAST(count(*) FILTER (b.gram IS NOT NULL) AS DOUBLE)
             / count(*), 4)                        AS contamination
FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
GROUP BY c.doc_id
""",
)
def ext_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: fraction of each training doc's
    distinct 3-grams that also appear in the held-out benchmark set
    (here: documents from src0).  The benchmark n-gram set is DISTINCT
    and vocabulary-sized, so it broadcasts; each corpus doc then scores
    with a broadcast left join + conditional count — the corpus never
    reshuffles on the n-gram key.  This is the decontamination gate every
    training pipeline runs before release."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    grams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.greatest(n - 2, F.lit(0))),
            F.zip_with(
                F.slice(toks, 2, F.greatest(n - 2, F.lit(0))),
                F.slice(toks, 3, F.greatest(n - 2, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda a, bc: F.concat_ws(" ", a, bc),
        )
    )
    exploded = docs.select("doc_id", "source", F.explode(grams).alias("gram"))
    bench = (
        exploded.filter(F.col("source") == _CONTAM_BENCH_SOURCE)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = exploded.filter(F.col("source") != _CONTAM_BENCH_SOURCE)
    return (
        corpus.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 4).alias(
                "contamination"
            ),
        )
    )


@register(
    "ext_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_corpus,
         CAST(count(*) AS BIGINT) AS vocab
  FROM counts
)
SELECT t.doc_id,
       count(*)                                                  AS n_tokens,
       round(-avg(ln((c + 1.0) / (n_corpus + vocab))), 4)        AS lm_score
FROM toks t JOIN counts USING (tok) CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document (the CCNet/
    Gopher-style "LM perplexity" gate, with the n-gram LM trained on the
    corpus itself): per-token negative mean log-likelihood under a
    Laplace-smoothed unigram model, ``-avg(ln((c_w + 1) / (N + V)))``.
    Low scores = likely-natural text, high scores = rare-token noise —
    the standard cheap proxy where a real pipeline would plug a KenLM.

    Scale shape: ONE token shuffle builds the count table; the model is
    vocabulary-sized (Zipf: ~sqrt-ish of corpus tokens), so it BROADCASTS
    back onto the token stream — the corpus is never reshuffled for the
    scoring join, exactly the ext_tfidf vocabulary-join layout.  Corpus
    totals (N, V) fold in as a broadcast 1-row aggregate, not a separate
    count job."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n_corpus"), F.count(F.lit(1)).alias("vocab")
    )
    return (
        toks.join(F.broadcast(counts), "tok")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.avg(
                    F.log(
                        (F.col("c") + 1.0)
                        / (F.col("n_corpus") + F.col("vocab"))
                    )
                ),
                4,
            ).alias("lm_score"),
        )
    )


# Gopher rule battery (Rae et al. 2021, Table A1) — published bounds,
# adjusted only where the synthetic corpus makes a bound degenerate.
_GR_MIN_WORDS = 40
_GR_MAX_WORDS = 100_000
_GR_MIN_MEAN_WLEN = 3.0
_GR_MAX_MEAN_WLEN = 10.0
_GR_MIN_ALPHA_RATIO = 0.8
_GR_MIN_STOPWORD_HITS = 2
_GR_STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "ext_gopher_rules",
    oracle=f"""
WITH feats AS (
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_words,
           list_sum(list_transform(str_split(text, ' '),
                                   w -> CAST(length(w) AS DOUBLE)))
               / len(str_split(text, ' ')) AS mean_wlen,
           CAST(list_sum(list_transform(str_split(text, ' '),
                    w -> CASE WHEN regexp_full_match(w, '[a-z]+')
                              THEN 1 ELSE 0 END)) AS DOUBLE)
               / len(str_split(text, ' ')) AS alpha_ratio,
           list_sum(list_transform(str_split(text, ' '),
                    w -> CASE WHEN w IN {_GR_STOPWORDS}
                              THEN 1 ELSE 0 END)) AS stopword_hits
    FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT)                    AS n_words,
       round(mean_wlen, 4)                        AS mean_wlen,
       round(alpha_ratio, 4)                      AS alpha_ratio,
       CAST(stopword_hits AS BIGINT)              AS stopword_hits,
       n_words BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS}    AS r_words,
       mean_wlen BETWEEN {_GR_MIN_MEAN_WLEN} AND {_GR_MAX_MEAN_WLEN}
                                                  AS r_word_len,
       alpha_ratio >= {_GR_MIN_ALPHA_RATIO}       AS r_alpha,
       stopword_hits >= {_GR_MIN_STOPWORD_HITS}   AS r_stopwords,
       (n_words BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS}
        AND mean_wlen BETWEEN {_GR_MIN_MEAN_WLEN} AND {_GR_MAX_MEAN_WLEN}
        AND alpha_ratio >= {_GR_MIN_ALPHA_RATIO}
        AND stopword_hits >= {_GR_MIN_STOPWORD_HITS}) AS keep
FROM feats
""",
)
def ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 Table A1 — the
    published heuristic gate most open-corpus pipelines start from):
    word-count bounds, mean-word-length bounds, alphabetic-word ratio,
    and minimum stop-word hits, each emitted as its own flag plus the
    conjunctive ``keep`` so downstream can audit WHICH rule fired, not
    just that one did (the operational difference from the composite
    ``ext_quality_score``).

    All four signals fold over one ``split(text)`` array in a single
    codegen'd projection — no shuffle, no UDF; at 100 TB this is a
    scan-speed map pass whose `keep` feeds the dedup/mix stages."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    mean_wlen = (
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_words
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$"))).cast("double")
        / n_words
    )
    stop_arr = F.array(*[F.lit(s) for s in _GR_STOPWORDS])
    stopword_hits = F.size(
        F.filter(toks, lambda w: F.array_contains(stop_arr, w))
    ).cast("long")
    r_words = n_words.between(_GR_MIN_WORDS, _GR_MAX_WORDS)
    r_word_len = mean_wlen.between(_GR_MIN_MEAN_WLEN, _GR_MAX_MEAN_WLEN)
    r_alpha = alpha_ratio >= _GR_MIN_ALPHA_RATIO
    r_stop = stopword_hits >= _GR_MIN_STOPWORD_HITS
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_wlen"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        stopword_hits.alias("stopword_hits"),
        r_words.alias("r_words"),
        r_word_len.alias("r_word_len"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        (r_words & r_word_len & r_alpha & r_stop).alias("keep"),
    )


@register(
    "ext_data_card",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)               AS n_docs,
       round(avg(n_chars), 4)                 AS avg_chars,
       round(median(CAST(n_chars AS DOUBLE)), 4) AS p50_chars,
       CAST(count(DISTINCT text) AS BIGINT)   AS n_unique,
       round(1 - count(DISTINCT text)
               / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM documents
GROUP BY lang
""",
)
def ext_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset DATA CARD (the datasheet every released corpus ships):
    per-language volume, mean and median document length, unique-content
    count, and exact duplicate rate — one grouped aggregate, one
    shuffle.  ``percentile`` here is the EXACT interpolated median
    (matching DuckDB's quantile_cont), not the approximate sketch; the
    distinct-count term shares the same exchange.  At 100 TB this is
    the audit a corpus release runs nightly; every number hash-matches
    the relational recompute."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(
            F.expr("percentile(CAST(n_chars AS DOUBLE), 0.5)"), 4
        ).alias("p50_chars"),
        F.countDistinct("text").cast("long").alias("n_unique"),
        F.round(
            1
            - F.countDistinct("text")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("dup_rate"),
    )


@register(
    "ext_vocab_topk",
    oracle="""
WITH tok AS (
  SELECT unnest(str_split(text, ' ')) AS token FROM documents
),
tok2 AS (SELECT token FROM tok WHERE token <> ''),
freq AS (SELECT token, count(*) AS n FROM tok2 GROUP BY token),
tot AS (SELECT count(*) AS total FROM tok2),
top AS (SELECT token, n FROM freq ORDER BY n DESC, token LIMIT 100)
SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank,
       token,
       n,
       round(n * 1.0 / tot.total, 6) AS share,
       round(sum(n) OVER (ORDER BY n DESC, token
                          ROWS UNBOUNDED PRECEDING) * 1.0 / tot.total,
             6) AS cum_share
FROM top, tot
""",
)
def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building: global token frequencies, the top-K
    tokens (count-desc, token-asc tie-break), and each one's share +
    cumulative coverage of the corpus token volume — the
    coverage-vs-vocab-size curve that sizes a tokenizer's vocab.

    Scale shape: one map-side-combined groupBy(token) is the only
    corpus-sized shuffle; the top-K is ``orderBy().limit(K)`` — Catalyst
    plans TakeOrderedAndProject (per-partition heaps + driver merge of
    K-row heads), NEVER a global sort.  The coverage window then runs
    over K rows, so the single-partition window cost is bounded by K,
    not the corpus.  The corpus total is one post-aggregation scalar.
    Contrast the reference, which has no corpus-level text analytics at
    all (per-slot rasters only, ``main.py:29``)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n")).collect()[0][0]
    top = freq.orderBy(F.desc("n"), F.asc("token")).limit(100)
    order = Window.orderBy(F.desc("n"), F.asc("token"))
    cum = order.rowsBetween(Window.unboundedPreceding, 0)
    return top.select(
        F.row_number().over(order).alias("rank"),
        "token",
        "n",
        F.round(F.col("n") / F.lit(total), 6).alias("share"),
        F.round(F.sum("n").over(cum) / F.lit(total), 6).alias("cum_share"),
    )


_SWEEP_THRESHOLDS = [0.0, 0.25, 0.5, 0.75, 1.0]


@register(
    "ext_quality_threshold_sweep",
    oracle=f"""
WITH feats AS (
    SELECT doc_id, lang,
           len(str_split(text, ' ')) AS n_tokens,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> CAST(length(t) AS DOUBLE)))
               / len(str_split(text, ' ')) AS avg_tok,
           CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
               / len(str_split(text, ' ')) AS distinct_ratio
    FROM documents
), scored AS (
    SELECT lang,
           round((CASE WHEN n_tokens >= {_MIN_TOKENS} THEN 0.25 ELSE 0 END)
               + (CASE WHEN avg_tok <= {_MAX_AVG_TOKEN_LEN} THEN 0.25 ELSE 0 END)
               + (CASE WHEN punct_ratio <= {_MAX_PUNCT_RATIO} THEN 0.25 ELSE 0 END)
               + (CASE WHEN distinct_ratio >= {_MIN_DISTINCT_RATIO} THEN 0.25 ELSE 0 END),
                 2) AS quality
    FROM feats
), census AS (
    SELECT lang, quality, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
)
SELECT t.threshold, c.lang,
       CAST(sum(c.n) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN c.quality >= t.threshold THEN c.n ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN c.quality >= t.threshold THEN c.n ELSE 0 END) AS DOUBLE)
             / sum(c.n), 6) AS kept_frac
FROM census c
CROSS JOIN (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in _SWEEP_THRESHOLDS)}]) AS threshold) t
GROUP BY 1, 2
""",
)
def ext_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate CALIBRATION curve: for every candidate threshold,
    the per-language kept count and fraction — the sweep a pipeline
    owner reads before choosing the cut (too high starves low-resource
    languages; the per-lang view exposes exactly that disparity, the
    known failure mode of quality filters on non-English text).

    Scale shape: the corpus is touched ONCE (the same shuffle-free
    quality projection as ``ext_quality_score``) and reduced to a
    |langs| x |score-levels| census (<= 25 rows); the threshold
    cross-product and cumulative sums run on that census, so sweeping
    50 thresholds costs the same as 5."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_tok = (
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    quarter = lambda c: F.when(c, F.lit(0.25)).otherwise(F.lit(0.0))  # noqa: E731
    quality = F.round(
        quarter(n_tokens >= _MIN_TOKENS)
        + quarter(avg_tok <= _MAX_AVG_TOKEN_LEN)
        + quarter(punct_ratio <= _MAX_PUNCT_RATIO)
        + quarter(distinct_ratio >= _MIN_DISTINCT_RATIO),
        2,
    )
    census = (
        docs.select("lang", quality.alias("quality"))
        .groupBy("lang", "quality")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    thresholds = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in _SWEEP_THRESHOLDS])
        ).alias("threshold")
    )
    kept = F.when(F.col("quality") >= F.col("threshold"), F.col("n")).otherwise(
        F.lit(0)
    )
    return (
        census.crossJoin(F.broadcast(thresholds))
        .groupBy("threshold", "lang")
        .agg(
            F.sum("n").cast("long").alias("n_total"),
            F.sum(kept).cast("long").alias("n_kept"),
        )
        .select(
            "threshold",
            "lang",
            "n_total",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_total"), 6
            ).alias("kept_frac"),
        )
    )


@register(
    "ext_kl_divergence",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents
), lt AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n_lt FROM toks GROUP BY 1, 2
), l AS (
  SELECT lang, CAST(sum(n_lt) AS BIGINT) AS n_l FROM lt GROUP BY 1
), t AS (
  SELECT tok, CAST(sum(n_lt) AS BIGINT) AS n_t FROM lt GROUP BY 1
), n AS (
  SELECT CAST(sum(n_t) AS BIGINT) AS n_corpus FROM t
), terms AS (
  SELECT lt.lang, lt.tok,
         (CAST(lt.n_lt AS DOUBLE) / l.n_l)
         * ln((CAST(lt.n_lt AS DOUBLE) / l.n_l)
              / (CAST(t.n_t AS DOUBLE) / n.n_corpus)) AS term
  FROM lt JOIN l USING (lang) JOIN t USING (tok) CROSS JOIN n
)
SELECT lang,
       (SELECT n_l FROM l WHERE l.lang = terms.lang) AS n_tokens,
       floor(list_reduce(list_prepend(0.0, list(term ORDER BY tok)),
                         (acc, x) -> acc + x) * 1000000 + 0.5) / 1000000.0 AS kl
FROM terms
GROUP BY lang
""",
)
def ext_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KL divergence of the token distribution vs the whole
    corpus, KL(P_lang || P_corpus) — the mixture diagnostic that says
    WHICH slice is distributionally farthest from the blend (DSIR's
    importance weights are the per-document version of this quantity,
    llm/sampling.py; at the slice level it drives mixture re-weighting
    decisions).

    Float-determinism discipline beyond the usual: a KL is a SUM of
    double terms, and aggregate-sum order is engine- and
    partitioning-dependent — so each language's terms are folded
    SEQUENTIALLY over the token-sorted array (Spark ``aggregate`` HOF ==
    DuckDB ``list_reduce``, both left folds over the same order), making
    the sum bit-identical.  The fold runs over |vocab| elements per
    language — vocabulary-sized, never corpus-sized.

    Scale shape: one (lang, tok) shuffle with map-side combine; language
    and corpus marginals derive from that aggregate and broadcast back;
    the per-lang fold array is |vocab| long."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # The (lang, tok) aggregate feeds FOUR subplans (terms + three
    # marginals); DataFrame lineage has no subplan sharing, so without
    # materialization the corpus explode would run four times.  Lazy
    # localCheckpoint (the llm/dedup.py pattern), NOT persist(): persist
    # pins the frame in the session CacheManager until an explicit
    # unpersist that a lazily-returned DataFrame has no place to issue,
    # leaking vocab×lang-sized blocks across a multi-query session —
    # checkpoint blocks are freed by the ContextCleaner on GC instead.
    lt = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lt"))
        .localCheckpoint(eager=False)
    )
    l = lt.groupBy("lang").agg(F.sum("n_lt").cast("long").alias("n_l"))
    t = lt.groupBy("tok").agg(F.sum("n_lt").cast("long").alias("n_t"))
    n = t.agg(F.sum("n_t").cast("long").alias("n_corpus"))
    terms = (
        lt.join(F.broadcast(l), "lang")
        .join(F.broadcast(t), "tok")
        .join(F.broadcast(n))
        .select(
            "lang",
            "n_l",
            "tok",
            (
                (F.col("n_lt").cast("double") / F.col("n_l"))
                * F.log(
                    (F.col("n_lt").cast("double") / F.col("n_l"))
                    / (F.col("n_t").cast("double") / F.col("n_corpus"))
                )
            ).alias("term"),
        )
    )
    folded = (
        terms.groupBy("lang", "n_l")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tok", "term"))),
                    lambda s: s.getField("term"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("kl_raw")
        )
    )
    return folded.select(
        "lang",
        F.col("n_l").alias("n_tokens"),
        (F.floor(F.col("kl_raw") * 1000000 + 0.5) / 1000000.0).alias("kl"),
    )


_PMI_MIN_PAIRS = 5  # drop pairs seen in fewer docs (noise floor)


@register(
    "ext_pmi_cooccurrence",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt
), df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT p.tok_a, p.tok_b, p.n_ab,
       floor(ln((CAST(p.n_ab AS DOUBLE) / n.n_docs)
                / ((CAST(da.df AS DOUBLE) / n.n_docs)
                   * (CAST(db.df AS DOUBLE) / n.n_docs))) * 1000000 + 0.5)
         / 1000000.0 AS pmi
FROM pairs p
JOIN df da ON p.tok_a = da.tok
JOIN df db ON p.tok_b = db.tok
CROSS JOIN n
WHERE p.n_ab >= {_PMI_MIN_PAIRS}
""",
)
def ext_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level token
    co-occurrence, PMI(a,b) = ln(p(a,b) / (p(a)p(b))) — the classic
    distributional-semantics statistic (Church & Hanks 1990) behind
    collocation mining and count-based embeddings; negative PMI = tokens
    that avoid each other, a data-curation signal for topic leakage.

    The pair space is VOCABULARY-bounded, not corpus-bounded: distinct
    tokens per doc first (the DISTINCT is the safety rail — token
    multiplicity inside a doc must not multiply pairs), then a within-doc
    self-join producing at most |V|(|V|-1)/2 pairs per doc, aggregated
    with map-side combine.  Marginal document frequencies broadcast back
    onto the |V|^2-bounded pair table.  At a real web vocabulary this
    becomes the top-K-per-token variant (prefix-filter the self-join by
    per-doc token rank) — the bounding DISCIPLINE is the same."""
    docs = table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    n = dt.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    df = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    a = dt.withColumnRenamed("tok", "tok_a")
    b = dt.withColumnRenamed("tok", "tok_b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    return (
        pairs.join(
            F.broadcast(df.withColumnRenamed("tok", "tok_a").withColumnRenamed("df", "df_a")),
            "tok_a",
        )
        .join(
            F.broadcast(df.withColumnRenamed("tok", "tok_b").withColumnRenamed("df", "df_b")),
            "tok_b",
        )
        .join(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            (
                F.floor(
                    F.log(
                        (F.col("n_ab").cast("double") / F.col("n_docs"))
                        / (
                            (F.col("df_a").cast("double") / F.col("n_docs"))
                            * (F.col("df_b").cast("double") / F.col("n_docs"))
                        )
                    )
                    * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("pmi"),
        )
    )


@register(
    "ext_token_dispersion",
    oracle="""
WITH tf AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
), per_doc AS (
  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY 1, 2
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), stats AS (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS ssq
  FROM per_doc GROUP BY 1
)
SELECT s.tok, s.df, s.total,
       floor((CAST(s.total AS DOUBLE) / n.n_docs) * 1000000 + 0.5) / 1000000.0 AS mean_tf,
       floor((((CAST(s.ssq AS DOUBLE) - CAST(s.total AS DOUBLE)
                * (CAST(s.total AS DOUBLE) / n.n_docs)) / (n.n_docs - 1))
              / (CAST(s.total AS DOUBLE) / n.n_docs)) * 10000 + 0.5)
         / 10000.0 AS dispersion
FROM stats s CROSS JOIN n
""",
)
def ext_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token BURSTINESS / dispersion index (variance-to-mean ratio of
    per-document counts, docs without the token counting as zero):
    dispersion ≈ 1 = Poisson-scattered filler words; >> 1 = bursty,
    topical tokens that cluster in few documents — the
    corpus-linguistics screen feeding stopword lists and topic-leak
    checks (Church & Gale 1995 on word burstiness).  Zero-count docs
    enter the moments via the marginal identity (sum over present docs
    + zeros contribute nothing to sums), so no dense doc×token table
    ever exists.

    One (doc, tok) shuffle with map-side combine, then a per-token
    1-row reduction broadcast against the corpus size.  Exact integer
    sums; explicit half-up rounds."""
    docs = table(spark, sf_dir, "documents")
    tf = docs.select(F.explode(F.split("text", " ")).alias("tok"), "doc_id")
    per_doc = tf.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    stats = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq"),
    )
    mean_tf = F.col("total").cast("double") / F.col("n_docs")
    var = (
        F.col("ssq").cast("double") - F.col("total").cast("double") * mean_tf
    ) / (F.col("n_docs") - 1)

    def r(x, scale):
        return F.floor(x * scale + 0.5) / float(scale)

    return stats.join(F.broadcast(n)).select(
        "tok",
        "df",
        "total",
        r(mean_tf, 1000000).alias("mean_tf"),
        r(var / mean_tf, 10000).alias("dispersion"),
    )


_BIGRAM_TOP_K = 100


@register(
    "ext_bigram_freq",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS ts FROM documents
), bg AS (
  SELECT ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS bigram
  FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks)
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bg
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT {_BIGRAM_TOP_K}
""",
)
def ext_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM frequency table (top-{k}) — the n-gram statistic under
    every count-based LM, collocation extractor, and the
    contamination-check's shingle units (``ext_contamination_check``
    compares exactly these across splits); ``ext_vocab_topk`` is the
    n=1 case, ``ext_pmi_cooccurrence`` the order-free doc-level
    cousin — this one preserves ADJACENCY.

    Bigrams form INSIDE the token array (a transform over the index
    sequence — no position self-join, no second explode), then one
    map-side-combined groupBy; top-k is TakeOrderedAndProject.  The
    31-token vocabulary bounds distinct bigrams at |V|² — at web scale
    the same plan hash-partitions fine because bigram keys are
    short strings with heavy combine."""
    docs = table(spark, sf_dir, "documents")
    # Bind the token array ONCE: referencing split(text) inside the
    # transform lambda re-tokenizes per element access (measured 2.7 s
    # -> 0.9 s at sf0.1).
    ts = docs.select(F.split("text", " ").alias("ts"))
    # sequence(1, 0) generates a DESCENDING [1, 0] in Spark (not empty),
    # so a single-token doc would emit null bigrams via out-of-range
    # ts[i] access that the DuckDB oracle (generate_series(1, 0) = empty)
    # never produces — guard degenerate docs so they yield zero bigrams.
    bigrams = F.expr(
        "CASE WHEN size(ts) >= 2 THEN transform(sequence(1, size(ts) - 1), "
        "i -> concat(ts[i - 1], ' ', ts[i])) ELSE array() END"
    )
    return (
        ts.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(_BIGRAM_TOP_K)
    )


ext_bigram_freq.__doc__ = ext_bigram_freq.__doc__.format(k=_BIGRAM_TOP_K)


@register("ext_compression_ratio")  # rows-only BY DESIGN — see manifest
def ext_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO quality signal: deflate each document (zlib
    level 6, stdlib) and report compressed/raw byte ratio — the cheap
    entropy proxy web-scale filters use alongside the heuristic gates
    (extremely compressible = boilerplate/repetition, incompressible =
    high-entropy gibberish or binary-in-text; both tails get cut).
    Quantized to integer basis points so the output is float-free.

    ROWS-ONLY BY DESIGN: no SQL engine exposes deflate, and pinning
    exact byte counts to a re-implementation would just be zlib calling
    itself; instead the property tests pin the INVARIANTS (ratio
    bounds, repetition compresses further, ratio reproducibility).

    Scale shape: one partition-preserving mapInPandas (zlib releases
    the GIL, so Arrow batches compress in parallel across executor
    threads); output is 2 ints per doc."""
    import zlib

    import pandas as pd

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def ratio(batches):
        out_rows = []
        for pdf in batches:
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, 6)
                bp = (len(comp) * 10000) // max(1, len(raw))
                out_rows.append((int(did), len(raw), int(bp)))
        yield pd.DataFrame(
            out_rows, columns=["doc_id", "n_bytes", "ratio_bp"]
        )

    return docs.mapInPandas(
        ratio, schema="doc_id long, n_bytes long, ratio_bp long"
    )


@register(
    "ext_unigram_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS ts FROM documents
), terms AS (
  SELECT doc_id,
         len(ts) AS n,
         list_sort(list_transform(list_distinct(ts), t ->
           CAST(len(list_filter(ts, x -> x = t)) AS DOUBLE))) AS cnts
  FROM toks
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       floor((-list_reduce(list_prepend(0.0,
           list_transform(cnts, c -> (c / n) * ln(c / n))),
           (acc, x) -> acc + x)) * 1000000 + 0.5) / 1000000.0 AS entropy
FROM terms
""",
)
def ext_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document UNIGRAM ENTROPY (Shannon, nats): the
    lexical-diversity quality signal between ``ext_quality_score``'s
    distinct-ratio (too coarse) and ``ext_compression_ratio``'s deflate
    proxy (byte-level) — near-zero entropy = one token repeated
    (spam/boilerplate), max ln(V) = uniform usage.

    Determinism: the -p·ln p terms fold SEQUENTIALLY over the
    COUNT-SORTED term list (Spark aggregate HOF == DuckDB list_reduce;
    sorting by count makes the fold order engine-independent even
    though distinct-token order is not).  All work happens inside the
    token array per row — vocabulary-bounded, no explode, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n"),
        F.expr(
            "array_sort(transform(array_distinct(split(text, ' ')), "
            "t -> cast(size(filter(split(text, ' '), x -> x = t)) as double)))"
        ).alias("cnts"),
    )
    entropy = F.expr(
        "-aggregate(transform(cnts, c -> (c / n) * ln(c / n)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return terms.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (F.floor(entropy * 1000000 + 0.5) / 1000000.0).alias("entropy"),
    )


@register(
    "ext_type_token_ratio",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents
), s AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_types
  FROM toks GROUP BY 1
)
SELECT lang, n_tokens, n_types,
       floor((CAST(n_types AS DOUBLE) / n_tokens) * 1000000 + 0.5)
         / 1000000.0 AS ttr,
       floor((ln(CAST(n_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)))
             * 1000000 + 0.5) / 1000000.0 AS herdan_c
FROM s
""",
)
def ext_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL RICHNESS battery per language: raw type-token ratio and
    Herdan's C (ln V / ln N — the length-invariant richness law; raw
    TTR shrinks mechanically with corpus size, which is why cross-slice
    comparisons need C) — the slice-level companion of the per-document
    ``ext_unigram_entropy``, feeding the same mixture-quality reviews
    as ``ext_kl_divergence``.

    One (lang, tok) explode with map-side combine to exact integer
    type/token counts; two deterministic double formulas, half-up
    rounded."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    s = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )

    def r6(x):
        return F.floor(x * 1000000 + 0.5) / 1000000.0

    return s.select(
        "lang",
        "n_tokens",
        "n_types",
        r6(F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
        r6(
            F.log(F.col("n_types").cast("double"))
            / F.log(F.col("n_tokens").cast("double"))
        ).alias("herdan_c"),
    )


@register(
    "ext_js_divergence",
    oracle="""
WITH lt AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
), l AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM lt GROUP BY 1
), pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b FROM l a JOIN l b ON a.lang < b.lang
), cells AS (
  SELECT p.lang_a, p.lang_b, v.tok,
         coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb,
         la.n AS na, lb.n AS nb
  FROM pairs p
  CROSS JOIN (SELECT DISTINCT tok FROM lt) v
  LEFT JOIN lt ca ON ca.lang = p.lang_a AND ca.tok = v.tok
  LEFT JOIN lt cb ON cb.lang = p.lang_b AND cb.tok = v.tok
  JOIN l la ON la.lang = p.lang_a
  JOIN l lb ON lb.lang = p.lang_b
), terms AS (
  SELECT lang_a, lang_b, tok,
         CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / na)
              * ln((CAST(ca AS DOUBLE) / na)
                   / (((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)) / 2))
              ELSE 0.0 END
         + CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / nb)
              * ln((CAST(cb AS DOUBLE) / nb)
                   / (((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)) / 2))
              ELSE 0.0 END AS t
  FROM cells
)
SELECT lang_a, lang_b,
       floor(list_reduce(list_prepend(0.0, list(t ORDER BY tok)),
                         (acc, x) -> acc + x) * 1000000 + 0.5)
         / 1000000.0 AS js
FROM terms GROUP BY 1, 2
""",
)
def ext_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JENSEN-SHANNON divergence between language token
    distributions — the bounded, symmetric corpus-comparison metric
    (KL's practical replacement in data work: JS ∈ [0, ln 2], defined
    even with disjoint support) over every language pair.  Which slices
    are interchangeable and which need their own mixture weight reads
    straight off the matrix; ``ext_kl_divergence`` is the
    slice-vs-blend asymmetric view.

    Per-pair terms fold SEQUENTIALLY over the token-sorted list (the
    established cross-engine float-sum discipline); zero-count sides
    contribute zero by the 0·ln0 = 0 convention, stated as explicit
    CASEs in both engines.  All inputs are exact integer counts; the
    cell table is |pairs|×|vocab|-bounded."""
    docs = table(spark, sf_dir, "documents")
    lt = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # Lazy localCheckpoint, not persist(): see ext_kl_divergence —
        # no unpersist site exists in a lazily-returned frame, and the
        # CacheManager would pin the blocks for the whole session.
        .localCheckpoint(eager=False)
    )
    l = lt.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    a = l.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    b = l.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    pairs = a.crossJoin(b).filter(F.col("lang_a") < F.col("lang_b"))
    v = lt.select("tok").distinct()
    ca = lt.select(
        F.col("lang").alias("lang_a"), F.col("tok"), F.col("c").alias("ca")
    )
    cb = lt.select(
        F.col("lang").alias("lang_b"), F.col("tok"), F.col("c").alias("cb")
    )
    cells = (
        pairs.crossJoin(F.broadcast(v))
        .join(F.broadcast(ca), ["lang_a", "tok"], "left")
        .join(F.broadcast(cb), ["lang_b", "tok"], "left")
        .fillna(0, subset=["ca", "cb"])
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (p + q) / 2
    term = F.when(F.col("ca") > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    terms = cells.select("lang_a", "lang_b", "tok", term.alias("t"))
    folded = terms.groupBy("lang_a", "lang_b").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tok", "t"))),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("js_raw")
    )
    return folded.select(
        "lang_a",
        "lang_b",
        (F.floor(F.col("js_raw") * 1000000 + 0.5) / 1000000.0).alias("js"),
    )


@register(
    "ext_readability",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '[aeiou]+', '#', 'g'))
              - length(regexp_replace(text, '[aeiou]+', '', 'g')) AS BIGINT)
           AS n_syllables,
         greatest(CAST(1 AS BIGINT),
                  CAST(length(text)
                       - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT))
           AS n_sentences
  FROM documents
)
SELECT doc_id, n_words, n_syllables, n_sentences,
       floor((206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
             * 10000 + 0.5) / 10000.0 AS flesch
FROM d
WHERE n_words > 0
""",
)
def ext_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE score per document with a deterministic
    vowel-group syllable heuristic — the classic readability gate
    (alongside ``ext_quality_score``'s length/punct signals and
    ``ext_gopher_rules``): extremely low scores flag run-on machine
    text, implausibly high ones flag fragment soup.

    Syllables ≈ vowel groups: length(regexp_replace(text, '[aeiou]+',
    '#')) − length(all-vowels-removed) counts maximal vowel runs — one
    pure-projection formula both engines evaluate identically (no
    dictionary, no Python).  Sentences = terminal-punctuation count
    floored at 1 (the synthetic corpus has none — every doc is one
    "sentence", which the score definition handles).  All inputs exact
    integers; one half-up-rounded double per doc.

    Scale shape: a single codegen projection over the scan — no
    shuffle, no UDF; output is doc-grain."""
    docs = table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    n_syl = (
        F.length(F.regexp_replace("text", "[aeiou]+", "#"))
        - F.length(F.regexp_replace("text", "[aeiou]+", ""))
    ).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        (F.length("text") - F.length(F.regexp_replace("text", "[.!?]", ""))).cast(
            "long"
        ),
    )
    d = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
        n_sent.alias("n_sentences"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        (F.floor(flesch * 10000 + 0.5) / 10000.0).alias("flesch"),
    )


@register(
    "ext_zipf_fit",
    oracle="""
WITH f AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rk,
         ln(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS lx,
         ln(CAST(n AS DOUBLE)) AS ly
  FROM f
), arr AS (
  SELECT CAST(count(*) AS BIGINT) AS v,
         list(lx ORDER BY rk) AS lxs,
         list(ly ORDER BY rk) AS lys,
         list(lx * ly ORDER BY rk) AS lxys,
         list(lx * lx ORDER BY rk) AS lxxs
  FROM r
), s AS (
  SELECT v,
         list_reduce(lxs,  (a, b) -> a + b) AS sx,
         list_reduce(lys,  (a, b) -> a + b) AS sy,
         list_reduce(lxys, (a, b) -> a + b) AS sxy,
         list_reduce(lxxs, (a, b) -> a + b) AS sxx
  FROM arr
)
SELECT v,
       floor(((v * sxy - sx * sy) / (v * sxx - sx * sx)) * 1000000 + 0.5)
         / 1000000.0 AS zipf_slope,
       floor(((sy - ((v * sxy - sx * sy) / (v * sxx - sx * sx)) * sx) / v)
             * 1000000 + 0.5) / 1000000.0 AS log_intercept
FROM s
""",
)
def ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT of the corpus token frequency distribution: OLS of
    ln(freq) on ln(rank) — natural text sits near slope -1, and a
    corpus whose slope drifts far from it is boilerplate-heavy (too
    flat) or template-degenerate (too steep); the one-number cousin of
    ``ext_vocab_topk``'s cumulative-coverage table and a standard data
    -card statistic (``ext_data_card``).

    Float discipline: the ln-moment sums are genuinely order-sensitive
    doubles, so all four (Σlx, Σly, Σlx·ly, Σlx²) fold SEQUENTIALLY
    over the rank-sorted vocab array — Spark ``aggregate`` HOF ==
    DuckDB ``list_reduce``, both left folds over the same order (the
    ext_kl_divergence recipe) — then slope and intercept are single
    closed-form double expressions.

    Scale shape: one map-side-combined token groupBy; the global rank
    comes from ``distributed_rank`` (range-partition + local windows +
    broadcast offsets — web-scale vocabulary is 1e7–1e8 types, too big
    for one WindowExec task); the collected fold array is the one
    remaining vocab-sized single row (float-determinism requirement —
    at web scale the fit runs over the top-N vocab slice, same plan)."""
    from ..operators.ranking import distributed_rank

    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    r = distributed_rank(freq, [F.desc("n"), F.asc("tok")]).select(
        F.col("_rk").alias("rk"),
        F.log(F.col("_rk").cast("double")).alias("lx"),
        F.log(F.col("n").cast("double")).alias("ly"),
    )

    def fold(expr_col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rk"), expr_col.alias("val")))),
                lambda s: s.getField("val"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        fold(F.col("lx")).alias("sx"),
        fold(F.col("ly")).alias("sy"),
        fold(F.col("lx") * F.col("ly")).alias("sxy"),
        fold(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope = (F.col("v") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("v") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("v")
    return s.select(
        "v",
        (F.floor(slope * 1000000 + 0.5) / 1000000.0).alias("zipf_slope"),
        (F.floor(intercept * 1000000 + 0.5) / 1000000.0).alias("log_intercept"),
    )


_KWIC_TERM = "merge"
_KWIC_WIN = 2  # context tokens each side


@register(
    "ext_kwic",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), hits AS (
  SELECT doc_id, t, i AS pos
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
  WHERE t[i] = '{_KWIC_TERM}'
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       coalesce(array_to_string(t[greatest(1, pos - {_KWIC_WIN}):pos - 1], ' '), '')
         AS left_ctx,
       coalesce(array_to_string(t[pos + 1:least(len(t), pos + {_KWIC_WIN})], ' '), '')
         AS right_ctx
FROM hits
""",
)
def ext_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD-IN-CONTEXT concordance for the query term '{term}': every
    occurrence with ±{w} tokens of context — the corpus-inspection tool
    behind contamination triage (``ext_contamination_check`` says WHICH
    docs overlap; KWIC shows the analyst the actual usage) and PII
    spot-checks after ``ext_pii_mask``.

    Occurrence positions come from a ``sequence``/``filter`` transform
    INSIDE the token array (no position self-join); context windows are
    ``slice`` projections with explicit clamps, so the whole operator
    is one explode of match positions — output is occurrence-
    proportional, never corpus².  1-based positions match the DuckDB
    twin exactly."""
    docs = table(spark, sf_dir, "documents")
    ts = docs.select("doc_id", F.split("text", " ").alias("t"))
    # 1-based positions of the query term, found inside the array.
    positions = F.filter(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: F.element_at("t", i) == F.lit(_KWIC_TERM),
    )
    hits = ts.select("doc_id", "t", F.explode(positions).alias("pos"))
    left_start = F.greatest(F.lit(1), F.col("pos") - _KWIC_WIN)
    left_len = F.col("pos") - left_start
    right_len = F.least(F.size("t"), F.col("pos") + _KWIC_WIN) - F.col("pos")
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.when(left_len > 0, F.slice("t", left_start, left_len)).otherwise(
                F.array().cast("array<string>")
            ),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.when(right_len > 0, F.slice("t", F.col("pos") + 1, right_len)).otherwise(
                F.array().cast("array<string>")
            ),
            " ",
        ).alias("right_ctx"),
    )


ext_kwic.__doc__ = ext_kwic.__doc__.format(term=_KWIC_TERM, w=_KWIC_WIN)


_G2_TOP_K = 20


@register(
    "ext_collocation_g2",
    oracle=f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS ts FROM documents
), bg AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks)
  WHERE len(ts) >= 2
), bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11 FROM bg GROUP BY 1, 2
), m1 AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1
), m2 AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS tot FROM bg
), cells AS (
  SELECT bc.w1, bc.w2, k11,
         c1 - k11 AS k12, c2 - k11 AS k21,
         tot - c1 - c2 + k11 AS k22,
         c1, c2, tot
  FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
), g AS (
  SELECT w1, w2, k11,
    2.0 * (
      (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * tot
            / (CAST(c1 AS DOUBLE) * c2)) ELSE 0.0 END)
    + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * tot
            / (CAST(c1 AS DOUBLE) * (tot - c2))) ELSE 0.0 END)
    + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * tot
            / (CAST(tot - c1 AS DOUBLE) * c2)) ELSE 0.0 END)
    + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * tot
            / (CAST(tot - c1 AS DOUBLE) * (tot - c2))) ELSE 0.0 END)
    ) AS g2
  FROM cells
)
SELECT w1, w2, k11, floor(g2 * 10000 + 0.5) / 10000.0 AS g2
FROM g
ORDER BY floor(g2 * 10000 + 0.5) / 10000.0 DESC, w1, w2
LIMIT {_G2_TOP_K}
""",
)
def ext_collocation_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION extraction by log-likelihood ratio G² (Dunning 1993)
    — the statistic that replaced PMI for finding significant word
    pairs because it doesn't explode on rare events
    (``ext_pmi_cooccurrence`` is the order-free document-level cousin;
    this is the ADJACENT-bigram test): per bigram, the 2×2 contingency
    (bigram vs marginals) scored 2·Σ k·ln(k·N/(row·col)) with the
    0·ln0 = 0 convention as explicit CASEs in both engines.

    All counts are exact integers from the adjacency machinery of
    ``ext_bigram_freq`` (transform inside the token array, no position
    self-join); the G² sum is a FIXED 4-term expression (no fold
    needed — the addition order is written out identically in both
    engines); top-{k} is TakeOrderedAndProject."""
    docs = table(spark, sf_dir, "documents")
    ts = docs.select(F.split("text", " ").alias("ts"))
    bigrams = F.expr(
        "CASE WHEN size(ts) >= 2 THEN transform(sequence(1, size(ts) - 1), "
        "i -> struct(ts[i - 1] AS w1, ts[i] AS w2)) "
        "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
    )
    bg = ts.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("k11"))
    m1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    n = bg.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    cells = (
        bc.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .join(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("c1") - F.col("k11")).alias("k12"),
            (F.col("c2") - F.col("k11")).alias("k21"),
            (F.col("tot") - F.col("c1") - F.col("c2") + F.col("k11")).alias("k22"),
            "c1",
            "c2",
            "tot",
        )
    )

    def term(k, row, col):
        return F.when(
            F.col(k) > 0,
            F.col(k)
            * F.log(F.col(k).cast("double") * F.col("tot") / (row.cast("double") * col)),
        ).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (
        term("k11", F.col("c1"), F.col("c2"))
        + term("k12", F.col("c1"), F.col("tot") - F.col("c2"))
        + term("k21", F.col("tot") - F.col("c1"), F.col("c2"))
        + term("k22", F.col("tot") - F.col("c1"), F.col("tot") - F.col("c2"))
    )
    scored = cells.select(
        "w1", "w2", "k11", (F.floor(g2 * 10000 + 0.5) / 10000.0).alias("g2")
    )
    return scored.orderBy(F.desc("g2"), "w1", "w2").limit(_G2_TOP_K)


ext_collocation_g2.__doc__ = ext_collocation_g2.__doc__.format(k=_G2_TOP_K)


_BP_PREFIX_TOKENS = 5
_BP_MIN_GROUP = 3


@register(
    "ext_boilerplate_prefix",
    oracle=f"""
WITH p AS (
  SELECT doc_id, source,
         array_to_string(string_split(text, ' ')[1:{_BP_PREFIX_TOKENS}], ' ')
           AS prefix
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_BP_PREFIX_TOKENS}
)
SELECT prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(doc_id) AS BIGINT) AS example_doc
FROM p
GROUP BY 1
HAVING count(*) >= {_BP_MIN_GROUP}
""",
)
def ext_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPLATE/BOILERPLATE detection by shared leading {k}-token
    prefix: document groups opening with the exact same words are
    mirror pages, license headers, or generator templates — the cheap
    screen run before the heavier near-dup passes
    (``ext_substring_dedup`` catches shared runs at ANY alignment;
    this one keys ONLY on the head, which is where templates live, at
    groupBy cost instead of pair cost).  Cross-source groups
    (``n_sources`` > 1) are the mirror-site signal
    ``ext_source_overlap`` quantifies pairwise.

    One projection (array slice + join — no explode) and one map-side
    -combined groupBy; output is |template|-sized."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    p = docs.filter(F.size(toks) >= _BP_PREFIX_TOKENS).select(
        "doc_id",
        "source",
        F.array_join(F.slice(toks, 1, _BP_PREFIX_TOKENS), " ").alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= _BP_MIN_GROUP)
    )


ext_boilerplate_prefix.__doc__ = ext_boilerplate_prefix.__doc__.format(
    k=_BP_PREFIX_TOKENS
)


def _confusion_oracle() -> str:
    items = ",\n           ".join(
        "{'score': CAST(len(list_intersect(toks, ["
        + ", ".join(f"'{w}'" for w in words)
        + f"])) AS INT), 'lang': '{lang}'}}"
        for lang, words in sorted(_LANG_PROFILES.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(str_split(text, ' ')) AS toks
  FROM documents
),
scored AS MATERIALIZED (
  SELECT doc_id, lang,
         list_max([
           {items}
         ]) AS best
  FROM t
),
pred AS (
  SELECT lang AS label_lang,
         CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang
  FROM scored
), cells AS (
  SELECT label_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), tp AS (
  SELECT label_lang AS cls,
         CAST(sum(CASE WHEN predicted_lang = label_lang THEN n ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(n) AS BIGINT) AS support
  FROM cells GROUP BY 1
), pp AS (
  SELECT predicted_lang AS cls, CAST(sum(n) AS BIGINT) AS n_pred
  FROM cells GROUP BY 1
)
SELECT tp.cls, tp.support, coalesce(pp.n_pred, 0) AS n_pred, tp.tp,
       floor(CASE WHEN coalesce(pp.n_pred, 0) > 0
                  THEN CAST(tp.tp AS DOUBLE) / pp.n_pred ELSE 0.0 END
             * 1000000 + 0.5) / 1000000.0 AS precision,
       floor(CAST(tp.tp AS DOUBLE) / tp.support * 1000000 + 0.5)
         / 1000000.0 AS recall,
       floor(CASE WHEN coalesce(pp.n_pred, 0) > 0 AND tp.tp > 0
                  THEN 2.0 * CAST(tp.tp AS DOUBLE)
                       / (pp.n_pred + tp.support) ELSE 0.0 END
             * 1000000 + 0.5) / 1000000.0 AS f1
FROM tp LEFT JOIN pp ON tp.cls = pp.cls
"""


@register("ext_classifier_confusion", oracle=_confusion_oracle())
def ext_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER EVALUATION: per-class support / predictions / true
    positives / precision / recall / F1 of the ``ext_lang_id``
    heuristic against the corpus labels — the evaluation harness shape
    every labeling-model loop needs (label-quality audits, heuristic-
    gate calibration), computed WITHOUT collecting predictions.

    The prediction projection is ``ext_lang_id``'s deterministic
    argmax; the confusion cells, class marginals and the three metrics
    are exact-integer aggregates and closed-form ratios with explicit
    zero-denominator guards identical in both engines (F1 written as
    2·tp/(n_pred+support) — one division, no precision·recall float
    chaining).  Scale: one scan, two map-side-combined groupBys over
    the |classes|² cell grid."""
    pred = ext_lang_id(spark, sf_dir).select(
        "label_lang", "predicted_lang"
    )
    cells = pred.groupBy("label_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tp = cells.groupBy(F.col("label_lang").alias("cls")).agg(
        F.sum(
            F.when(F.col("predicted_lang") == F.col("label_lang"), F.col("n")).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
        F.sum("n").cast("long").alias("support"),
    )
    pp = cells.groupBy(F.col("predicted_lang").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    j = tp.join(pp, "cls", "left").select(
        "cls",
        "support",
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        "tp",
    )

    def r6f(x):
        return F.floor(x * 1000000 + 0.5) / 1000000.0

    return j.select(
        "cls",
        "support",
        "n_pred",
        "tp",
        r6f(
            F.when(
                F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
            ).otherwise(0.0)
        ).alias("precision"),
        r6f(F.col("tp").cast("double") / F.col("support")).alias("recall"),
        r6f(
            F.when(
                (F.col("n_pred") > 0) & (F.col("tp") > 0),
                2.0 * F.col("tp").cast("double") / (F.col("n_pred") + F.col("support")),
            ).otherwise(0.0)
        ).alias("f1"),
    )


_CAL_BINS = 10  # equal-width confidence bins
_EN_PROFILE_LEN = len(_LANG_PROFILES["en"])

# Shared SQL fragment: per-doc (score_micro, y) for the "is English"
# binary classifier — score = fraction of the en stopword profile
# present in the doc's distinct tokens, label = corpus lang tag.
def _cal_scored_cols():
    """The is-English confidence as (micro-int score, label) column pair —
    the SPARK twin of ``_CAL_SCORED_SQL``, shared by all four calibration
    ops (bins, Brier, isotonic, ECE) so the score expression cannot drift
    from the oracle constant (round-14 review)."""
    toks = F.array_distinct(F.split("text", " "))
    hits = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(w) for w in _LANG_PROFILES["en"]])
        )
    )
    sm = F.floor(hits.cast("double") / _EN_PROFILE_LEN * 1000000 + 0.5).cast("long")
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    return sm, y


_CAL_SCORED_SQL = f"""
scored AS MATERIALIZED (
  SELECT doc_id,
         CAST(floor(CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
                          [{", ".join(f"'{w}'" for w in _LANG_PROFILES["en"])}]))
                     AS DOUBLE) / {_EN_PROFILE_LEN} * 1000000 + 0.5) AS BIGINT)
           AS sm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
)"""


@register(
    "ext_calibration_bins",
    oracle=f"""
WITH {_CAL_SCORED_SQL}
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum(sm) AS DOUBLE) / count(*) + 0.5) / 1000000.0
         AS confidence,
       floor(CAST(sum(y) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000.0
         AS accuracy
FROM (SELECT least(CAST(floor(sm / 100000.0) AS BIGINT), {_CAL_BINS - 1})
        AS bin, sm, y FROM scored)
GROUP BY 1 ORDER BY 1
""",
)
def ext_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability diagram) of the "is English" score —
    fraction of the en stopword profile present — against the corpus
    labels: per equal-width confidence bin, count, mean predicted
    confidence, observed accuracy.  The standard readout before a
    quality/lang classifier's scores gate a corpus (a threshold on an
    uncalibrated score silently shifts the kept distribution);
    completes the eval family with ``ext_classifier_confusion``.

    Float discipline: scores quantize to micro-int at the doc grain, so
    per-bin confidence is an exact integer sum with ONE final division
    (the pooled mean — order-free), and accuracy is an integer count
    ratio.  One scan, one |bins|-row map-side-combined aggregate."""
    docs = table(spark, sf_dir, "documents")
    sm, y = _cal_scored_cols()
    scored = docs.select(sm.alias("sm"), y.alias("y"))
    binned = scored.select(
        F.least(F.floor(F.col("sm") / 100000.0).cast("long"), F.lit(_CAL_BINS - 1)).alias("bin"),
        "sm",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.floor(F.sum("sm").cast("double") / F.count(F.lit(1)) + 0.5)
                / 1000000.0
            ).alias("confidence"),
            (
                F.floor(F.sum("y").cast("double") / F.count(F.lit(1)) * 1000000 + 0.5)
                / 1000000.0
            ).alias("accuracy"),
        )
        .orderBy("bin")
    )


@register(
    "ext_brier_score",
    oracle=f"""
WITH {_CAL_SCORED_SQL}
SELECT CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum((sm - y * 1000000) * (sm - y * 1000000)) AS DOUBLE)
             / count(*) / 1000000.0 + 0.5) / 1000000.0 AS brier
FROM scored
""",
)
def ext_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE of the "is English" confidence (mean squared error of
    probability vs outcome) — the single-number proper scoring rule
    complementing the per-bin reliability diagram: calibration AND
    sharpness in one figure.  (sm - y·1e6)² is an exact integer per doc
    (≤ 1e12), summed as DECIMAL(38,0) (Spark) == HUGEINT (DuckDB) so the
    corpus sum is exact and order-free at ANY scale — no int64 overflow
    cliff — with ONE cast-to-double before the divisions; one scan, one
    1-row aggregate."""
    docs = table(spark, sf_dir, "documents")
    sm, y = _cal_scored_cols()
    d = sm - y * 1000000
    return docs.select((d * d).cast("decimal(38,0)").alias("sq")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.floor(
                F.sum("sq").cast("double") / F.count(F.lit(1)) / 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("brier"),
    )


_FH_DIM = 32  # hashed feature dimensionality


@register(
    "ext_feature_hashing",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
),
b AS (
  SELECT doc_id, t,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {_FH_DIM} AS bucket
  FROM tok
)
SELECT bucket,
       CAST(count(DISTINCT t) AS BIGINT) AS n_tokens_mapped,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b GROUP BY 1 ORDER BY 1
""",
)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick, Weinberger et al. 2009): every
    token maps to one of {d} buckets by hash — the fixed-width,
    vocabulary-free featurizer behind Vowpal Wabbit / fastText input
    layers, the standard way to featurize unbounded vocabularies without
    a dictionary shuffle.  Reported at the BUCKET grain: occupancy,
    occurrence mass, and collision count per bucket (n_tokens_mapped > 1
    = collision — the accuracy/width tradeoff made visible, which is
    the number you size {d} with).

    The bucket id is the shared cross-engine md5 recipe so the mapping
    is engine-reproducible.  One explode + one {d}-row map-side-combined
    aggregate; per-doc vectors never materialize here (they are a
    groupBy(doc_id, bucket) away, same plan shape)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % _FH_DIM
    )
    return (
        tok.select("doc_id", "t", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.countDistinct("t").cast("long").alias("n_tokens_mapped"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("bucket")
    )


ext_feature_hashing.__doc__ = ext_feature_hashing.__doc__.format(d=_FH_DIM)


# fastText-shape quality classifier (VERDICT r13 task 3): linear model over
# hashed word n-gram features.  B buckets bound the model; deterministic
# 2/3 train split; target class = lang='en' (the target-vs-raw framing of
# ext_dsir_sample, standing in for "curated corpus vs raw crawl").
_QC_BUCKETS = 256
_QC_SPLIT = 3  # doc_id % _QC_SPLIT > 0 trains; == 0 is held out
_QC_TARGET_LANG = "en"


@register(
    "ext_quality_classifier",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, str_split(text, ' ') AS tt FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(tt) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang,
         tt[CAST(i AS INT)] || ' ' || tt[CAST(i AS INT) + 1] AS g
  FROM (SELECT doc_id, lang, tt, unnest(generate_series(1, len(tt) - 1)) AS i
        FROM toks)
), feat AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)
           % {_QC_BUCKETS} AS b
  FROM grams
), model AS (
  SELECT b,
         CAST(sum(CASE WHEN doc_id % {_QC_SPLIT} > 0
                        AND lang = '{_QC_TARGET_LANG}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(sum(CASE WHEN doc_id % {_QC_SPLIT} > 0
                        AND lang <> '{_QC_TARGET_LANG}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS q
  FROM feat GROUP BY 1
), tot AS (
  SELECT sum(p) AS pt, sum(q) AS qt FROM model
), bias AS (
  SELECT ln(1 + sum(CASE WHEN lang = '{_QC_TARGET_LANG}' THEN 1 ELSE 0 END))
         - ln(1 + sum(CASE WHEN lang <> '{_QC_TARGET_LANG}' THEN 1 ELSE 0 END))
           AS b0
  FROM documents WHERE doc_id % {_QC_SPLIT} > 0
), w AS (
  SELECT b, ln(p + 1) - ln(pt + {_QC_BUCKETS}.0)
            - ln(q + 1) + ln(qt + {_QC_BUCKETS}.0) AS w
  FROM model, tot
)
SELECT f.doc_id, f.lang,
       f.doc_id % {_QC_SPLIT} = 0 AS heldout,
       round(b0 + sum(w), 4) AS logit,
       round(b0 + sum(w), 4) > 0 AS keep
FROM feat f JOIN w USING (b), bias
GROUP BY f.doc_id, f.lang, b0
""",
)
def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED QUALITY FILTER, the GPT-3/LLaMA curation gate shape
    (Brown et al. 2020 §A; Touvron et al. 2023): a LINEAR classifier
    over hashed word 1/2-gram features — the fastText input layer
    (Joulin et al. 2016: bag of hashed n-grams → linear) — scoring
    every document with a keep/drop verdict.  Weights are Naive-Bayes
    log-odds with Laplace smoothing (the deterministic, shuffle-free
    stand-in for fastText's SGD — NB over bag-of-ngrams IS a linear
    model in log space, so the scoring plan is bit-identical to a
    trained fastText's), fit on a deterministic 2/3 split
    (doc_id % {s} > 0) with target = lang='{t}' docs standing in for
    the curated corpus and the rest for the raw crawl — the
    target-vs-raw framing of ``ext_dsir_sample``.  Docs with
    ``heldout`` true never influenced the weights, so their keep flags
    are a real out-of-sample gate (enrichment pinned in tests).

    Scale shape: fitting is ONE gram-histogram shuffle (conditional
    map-side-combined sums, {b} result rows); the weight table and the
    1-row bias broadcast back onto a second gram scan, so scoring is a
    broadcast-hash join + one map-side-combined per-doc sum — the
    grams are recomputed rather than cached (recompute beats
    materializing 100 TB of exploded grams), and the corpus never
    shuffles for scoring, the ext_dsir_sample / ext_lm_score
    discipline.  At 100 TB
    the model stays {b} rows regardless of corpus size.  Bigrams build
    inside the token array with the size>=2 guard (the ext_bleu
    1-token lesson); the logit rounds to 4 decimals before the
    threshold so both engines rank identical keys."""
    docs = table(spark, sf_dir, "documents")
    tt = F.split("text", " ")
    bigrams = F.when(
        F.size("tt") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tt") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("tt"), i), F.element_at(F.col("tt"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        docs.select("doc_id", "lang", tt.alias("tt"))
        .select("doc_id", "lang", F.explode(F.concat(F.col("tt"), bigrams)).alias("g"))
    )
    feat = grams.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % _QC_BUCKETS).alias("b"),
    )
    is_train = F.col("doc_id") % _QC_SPLIT > 0
    is_pos = F.col("lang") == _QC_TARGET_LANG
    model = feat.groupBy("b").agg(
        F.sum(F.when(is_train & is_pos, 1).otherwise(0)).cast("long").alias("p"),
        F.sum(F.when(is_train & ~is_pos, 1).otherwise(0)).cast("long").alias("q"),
    )
    tot = model.agg(F.sum("p").alias("pt"), F.sum("q").alias("qt"))
    bias = (
        docs.filter(is_train)
        .agg(
            (
                F.log(1 + F.sum(F.when(is_pos, 1).otherwise(0)))
                - F.log(1 + F.sum(F.when(~is_pos, 1).otherwise(0)))
            ).alias("b0")
        )
    )
    w = model.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log(F.col("p") + 1)
            - F.log(F.col("pt") + float(_QC_BUCKETS))
            - F.log(F.col("q") + 1)
            + F.log(F.col("qt") + float(_QC_BUCKETS))
        ).alias("w"),
    )
    logit = F.round(F.col("b0") + F.sum("w"), 4)
    return (
        feat.join(F.broadcast(w), "b")
        .crossJoin(F.broadcast(bias))
        .groupBy("doc_id", "lang", "b0")
        .agg(logit.alias("logit"))
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % _QC_SPLIT == 0).alias("heldout"),
            "logit",
            (F.col("logit") > 0).alias("keep"),
        )
    )


ext_quality_classifier.__doc__ = ext_quality_classifier.__doc__.format(
    s=_QC_SPLIT, t=_QC_TARGET_LANG, b=_QC_BUCKETS
)


_VC_CHECKPOINTS = (1, 2, 4, 8, 16, 32)  # vocab-size checkpoints


@register(
    "ext_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest(str_split(text, ' ')) AS t FROM documents
),
v AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
),
r AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk,
         CAST(sum(c) OVER (ORDER BY c DESC, t) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS tot
  FROM v
)
SELECT k, CAST(max(cum) AS BIGINT) AS covered, CAST(max(tot) AS BIGINT) AS total,
       floor(CAST(max(cum) AS DOUBLE) / max(tot) * 1000000 + 0.5) / 1000000.0
         AS coverage
FROM r CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _VC_CHECKPOINTS)}]) AS k)
WHERE rk <= k
GROUP BY k ORDER BY k
""",
)
def ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE: what share of total token mass the
    top-k vocabulary covers, at doubling checkpoints — THE
    tokenizer-vocab-sizing readout (pick the k where the curve's
    marginal gain collapses; the Zipf fit says the exponent, this says
    the actual budget) and the OOV-rate complement (1 − coverage =
    mass a k-entry vocab cannot represent).

    The rank/cumsum runs on the VOCAB grain (distinct tokens — the
    corpus-compressed frame; here 31, at web scale still ~1e8 types),
    via ``distributed_rank`` with a running sum — range-partitioned
    local windows plus broadcast prefix offsets, never one WindowExec
    task over the whole vocabulary; the checkpoint expansion is a
    |checkpoints|-row cross join.  Exact integer masses, one division
    per checkpoint."""
    from ..operators.ranking import distributed_rank

    docs = table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    r = distributed_rank(v, [F.desc("c"), F.asc("t")], sum_cols=("c",)).select(
        F.col("_rk").alias("rk"),
        F.col("_cum_c").cast("long").alias("cum"),
        F.col("_tot_c").cast("long").alias("tot"),
    )
    kdf = spark.createDataFrame(
        [(k,) for k in _VC_CHECKPOINTS], "k long"
    )
    return (
        r.crossJoin(F.broadcast(kdf))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max("cum").cast("long").alias("covered"),
            F.max("tot").cast("long").alias("total"),
            (
                F.floor(
                    F.max("cum").cast("double") / F.max("tot") * 1000000 + 0.5
                )
                / 1000000.0
            ).alias("coverage"),
        )
        .orderBy("k")
    )


@register(
    "ext_ngram_novelty",
    oracle="""
WITH bg AS (
  SELECT doc_id, bigram FROM (
    SELECT doc_id,
           CASE WHEN len(str_split(text, ' ')) >= 2 THEN
             list_transform(generate_series(1, len(str_split(text, ' ')) - 1),
               i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i + 1])
           ELSE [] END AS bgs
    FROM documents
  ), unnest(bgs) AS u(bigram)
),
d AS (
  SELECT DISTINCT doc_id, bigram FROM bg
),
first_seen AS (
  SELECT bigram, CAST(min(doc_id) AS BIGINT) AS first_doc FROM d GROUP BY 1
),
scored AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM d JOIN first_seen f USING (bigram)
  GROUP BY 1
)
SELECT CAST(floor(CAST(n_novel AS DOUBLE) / n_bigrams * 10) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS bigrams,
       CAST(sum(n_novel) AS BIGINT) AS novel
FROM scored GROUP BY 1 ORDER BY 1
""",
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY (McCoy et al. 2023's memorization-vs-novelty
    lens, corpus-side): for each document, the share of its DISTINCT
    bigrams whose FIRST corpus occurrence (min doc_id) is this document
    — low-novelty docs are recombinations of earlier material
    (boilerplate, templates, near-copies below the dedup threshold),
    and the novelty-decile census is the screen that finds them without
    any pairwise stage.

    Scale shape: one explode to the (doc, bigram) DISTINCT grain feeding
    a first-occurrence aggregate on the bigram key (map-side combined) —
    the only corpus-grain shuffle; per-doc denominators are doc-LOCAL
    (size of the distinct-bigram array), novelty numerators are a
    doc-grain regroup of the first-seen frame, and the census joins two
    doc-grain frames — no pair joins, no windows, no bigram-keyed join.  The single-token guard mirrors the ext_bigram_freq
    degenerate-doc fix (Spark sequence() descends for size<2).  Exact
    integer counts; one division at the census grain."""
    docs = table(spark, sf_dir, "documents")
    # Tokenize ONCE into a column and build bigrams with element_at over
    # it: the old `split(text)[i-1] || split(text)[i]` lambda re-ran the
    # full split per ELEMENT (guide §1.2 "per-task work" — measured 3.7x
    # on the first-seen stage alone at sf0.1).
    tk = docs.select("doc_id", F.split("text", " ").alias("tk"))
    bgs = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("tk", i), F.element_at("tk", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The (doc, distinct-bigram) grain materializes ONCE (lazy local
    # checkpoint: tokenize + array_distinct are the per-task hot spot —
    # guide §1.2/§2.4) and BOTH counts regroup it: n_bigrams(doc) is a
    # doc-keyed count, and n_novel(doc) = #{bigrams whose min doc_id is
    # doc} is a regroup of first_seen — the old d JOIN first_seen back
    # on the BIGRAM key counted exactly these rows (the first-seeing doc
    # always contains its bigram), so the corpus-grain join is gone
    # entirely.  Measured 7.0 s -> 1.0 s warm at sf0.1.
    d = tk.select(
        "doc_id", F.explode(F.array_distinct(bgs)).alias("bigram")
    ).localCheckpoint(eager=False)
    first_seen = d.groupBy("bigram").agg(F.min("doc_id").cast("long").alias("first_doc"))
    novel = first_seen.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    nb = d.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams")
    )
    scored = nb.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    return (
        scored.groupBy(
            F.floor(F.col("n_novel").cast("double") / F.col("n_bigrams") * 10)
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("bigrams"),
            F.sum("n_novel").cast("long").alias("novel"),
        )
        .orderBy("decile")
    )


@register(
    "ext_cross_lingual_overlap",
    oracle="""
WITH lv AS (
  SELECT DISTINCT lang, unnest(str_split(text, ' ')) AS t FROM documents
),
m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM lv GROUP BY 1),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(count(*) AS BIGINT) AS n_both
  FROM lv a JOIN lv b ON a.t = b.t AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT lang_a, lang_b, ma.n AS n_a, mb.n AS n_b, n_both,
       floor(CAST(n_both AS DOUBLE) / (ma.n + mb.n - n_both)
             * 1000000 + 0.5) / 1000000.0 AS jaccard
FROM pairs
JOIN m ma ON ma.lang = pairs.lang_a
JOIN m mb ON mb.lang = pairs.lang_b
ORDER BY lang_a, lang_b
""",
)
def ext_cross_lingual_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LINGUAL VOCABULARY OVERLAP: exact Jaccard of the distinct
    token vocabularies for every language pair — the contamination /
    code-switching signal a multilingual corpus audit reads (high
    overlap between tags means either shared script+loanwords or
    mislabeled documents; ``ext_js_divergence`` compares the
    DISTRIBUTIONS, this compares the SETS).

    The join runs on the TOKEN key over the distinct (lang, token)
    frame — vocab-grain, corpus-compressed; each token contributes at
    most |langs|² pair rows so volume is |vocab|·|langs|², never
    corpus² (the ext_audience_overlap shape on the vocabulary).
    Exact integer set sizes, one Jaccard division."""
    docs = table(spark, sf_dir, "documents")
    lv = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    ).distinct()
    m = lv.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = lv.select(F.col("lang").alias("lang_a"), "t")
    b = lv.select(F.col("lang").alias("lang_b"), "t")
    pairs = (
        a.join(b, "t")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ma = m.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    mb = m.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "lang_a")
        .join(F.broadcast(mb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.floor(
                    F.col("n_both").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                    * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


@register(
    "ext_vocab_richness",
    oracle="""
WITH tok AS (
  SELECT unnest(str_split(text, ' ')) AS t FROM documents
),
tc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY 1
),
fof AS (
  SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY 1
),
agg AS (
  SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
         CAST(sum(n_r) AS BIGINT) AS vocab,
         CAST(coalesce(max(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1,
         CAST(coalesce(max(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT) AS n2
  FROM fof
)
SELECT n_tokens, vocab, n1, n2,
       floor(CAST(n1 AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000.0
         AS unseen_mass_gt,
       floor((vocab + CASE WHEN n2 > 0
                           THEN CAST(n1 AS DOUBLE) * n1 / (2.0 * n2)
                           ELSE CAST(n1 AS DOUBLE) * (n1 - 1) / 2.0 END)
             * 10000 + 0.5) / 10000.0 AS chao1,
       floor(ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS herdan_c
FROM agg
""",
)
def ext_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY-RICHNESS estimators from the frequency-of-frequencies
    profile: Good-Turing unseen mass (n₁/N — the probability the NEXT
    token is a new type, i.e. how un-saturated the corpus vocabulary
    is), the Chao1 richness floor (V + n₁²/2n₂, bias-corrected form when
    n₂ = 0), and Herdan's C (ln V / ln N) — the corpus-coverage triad a
    data card reports next to ``ext_vocab_coverage``'s curve (coverage
    says what a FIXED vocab captures; these say how much vocabulary is
    still unseen).

    Two map-side-combined groupBys (token grain, then the ~log-sized
    frequency-of-frequencies grain) and one 4-number aggregate — every
    moment an exact integer, three shared double expressions."""
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fof = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    agg = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab"),
        F.coalesce(
            F.max(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n1"),
        F.coalesce(
            F.max(F.when(F.col("r") == 2, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n2"),
    )
    chao1 = F.col("vocab") + F.when(
        F.col("n2") > 0,
        F.col("n1").cast("double") * F.col("n1") / (2.0 * F.col("n2")),
    ).otherwise(F.col("n1").cast("double") * (F.col("n1") - 1) / 2.0)
    return agg.select(
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        (
            F.floor(F.col("n1").cast("double") / F.col("n_tokens") * 1000000 + 0.5)
            / 1000000.0
        ).alias("unseen_mass_gt"),
        (F.floor(chao1 * 10000 + 0.5) / 10000.0).alias("chao1"),
        (
            F.floor(
                F.log(F.col("vocab").cast("double"))
                / F.log(F.col("n_tokens").cast("double"))
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("herdan_c"),
    )


# ---------------------------------------------------------------------------
# Generation-eval metrics (round 13): corpus BLEU, ROUGE-L, RAKE keywords.
# Candidate/reference pairs are the deterministic (doc_id % 10 == 0,
# doc_id + 1) neighbor pairing — the structure of an eval harness without
# needing model output columns in the corpus.
# ---------------------------------------------------------------------------

_BLEU_STRIDE = 10  # every 10th doc is a "candidate", its successor the "reference"


@register(
    "ext_bleu",
    oracle=f"""
WITH pairs AS (
  SELECT c.doc_id AS pid,
         str_split(c.text, ' ') AS ct, str_split(r.text, ' ') AS rt
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % {_BLEU_STRIDE} = 0
), u1 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS c FROM
    (SELECT pid, unnest(ct) AS g FROM pairs) GROUP BY 1, 2
), v1 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS r FROM
    (SELECT pid, unnest(rt) AS g FROM pairs) GROUP BY 1, 2
), u2 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS c FROM
    (SELECT pid, ct[CAST(i AS INT)] || ' ' || ct[CAST(i AS INT) + 1] AS g
     FROM (SELECT pid, ct, unnest(generate_series(1, len(ct) - 1)) AS i
           FROM pairs)) GROUP BY 1, 2
), v2 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS r FROM
    (SELECT pid, rt[CAST(i AS INT)] || ' ' || rt[CAST(i AS INT) + 1] AS g
     FROM (SELECT pid, rt, unnest(generate_series(1, len(rt) - 1)) AS i
           FROM pairs)) GROUP BY 1, 2
), t AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
         (SELECT CAST(sum(len(ct)) AS BIGINT) FROM pairs) AS clen,
         (SELECT CAST(sum(len(rt)) AS BIGINT) FROM pairs) AS rlen,
         (SELECT CAST(sum(least(u1.c, v1.r)) AS BIGINT)
          FROM u1 JOIN v1 ON u1.pid = v1.pid AND u1.g = v1.g) AS clip1,
         (SELECT CAST(sum(c) AS BIGINT) FROM u1) AS tot1,
         (SELECT CAST(sum(least(u2.c, v2.r)) AS BIGINT)
          FROM u2 JOIN v2 ON u2.pid = v2.pid AND u2.g = v2.g) AS clip2,
         (SELECT CAST(sum(c) AS BIGINT) FROM u2) AS tot2
)
SELECT n_pairs, clen, rlen,
       floor(CAST(clip1 AS DOUBLE) / tot1 * 1000000 + 0.5) / 1000000.0 AS p1,
       floor(CAST(clip2 AS DOUBLE) / tot2 * 1000000 + 0.5) / 1000000.0 AS p2,
       CASE WHEN COALESCE(clip1, 0) = 0 OR COALESCE(clip2, 0) = 0 THEN 0.0
            ELSE floor((CASE WHEN clen > rlen THEN 1.0
                        ELSE exp(1.0 - CAST(rlen AS DOUBLE) / clen) END)
                 * exp(0.5 * (ln(CAST(clip1 AS DOUBLE) / tot1)
                              + ln(CAST(clip2 AS DOUBLE) / tot2)))
                 * 1000000 + 0.5) / 1000000.0 END AS bleu2
FROM t
""",
)
def ext_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS BLEU-2 between candidate docs (every {s}th) and their
    successor-doc references: clipped 1/2-gram precision with brevity
    penalty — THE n-gram generation-eval metric, here wired over
    corpus pairs so the whole harness (pairing → clipping → corpus
    pooling → BP) is exercised without model-output columns;
    ``ext_rouge_l`` is the recall-oriented sibling, and a real eval
    run only swaps the pair source.

    Corpus BLEU, not sentence BLEU: clip/total counts pool over ALL
    pairs before the ratio (the standard Papineni formulation — robust
    to zero sentence overlaps).  Every count is an exact int64 from
    per-pair n-gram counts; BLEU is one closed-form double (exp/ln of
    exact-int ratios) evaluated identically both engines.

    Scale shape: n-grams form INSIDE the token arrays (no position
    self-join).  The pairing is one equi join on pid; each pair row then
    explodes both sides' 1- and 2-grams once into (pid, n, g) rows,
    which ONE groupBy counts per side (grain proportional to corpus
    tokens, never pairs×vocab), and ONE global aggregate pools the
    clipped and total counts.  An n = 0 row per pair carries the two
    side lengths, so the pair count and lengths come from that same
    aggregate.  100 TB: identical — the pair frame is the eval set,
    orders of magnitude under the training corpus."""
    docs = table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % _BLEU_STRIDE == 0).select(
        F.col("doc_id").alias("pid"), F.split("text", " ").alias("ct")
    )
    ref = docs.select((F.col("doc_id") - 1).alias("pid"), F.split("text", " ").alias("rt"))
    pairs = cand.join(ref, "pid")

    def bigrams(col):
        # size<=1 => no bigrams: sequence(1, 0) would be the DESCENDING
        # array [1, 0] on this Spark build and element_at(col, 2) throws,
        # while DuckDB's generate_series(1, 0) is empty — guard to match.
        return (
            f"CASE WHEN size({col}) >= 2 THEN transform(sequence(1, size({col}) - 1),"
            f" i -> concat_ws(' ', element_at({col}, i), element_at({col}, i + 1)))"
            " ELSE CAST(array() AS ARRAY<STRING>) END"
        )

    def rows(n, grams, c, r):
        # (n, g, c, r): c/r = 1 marks a candidate/reference occurrence
        return (
            f"transform(coalesce({grams}, CAST(array() AS ARRAY<STRING>)),"
            f" g -> named_struct('n', {n}, 'g', g, 'c', {c}, 'r', {r}))"
        )

    # SQL text: built as Column objects the lambdas cost hundreds of py4j
    # round trips per call.
    counts = (
        pairs.selectExpr(
            "pid",
            f"""inline(concat(
                array(named_struct('n', 0, 'g', '', 'c', size(ct), 'r', size(rt))),
                {rows(1, "ct", 1, 0)}, {rows(1, "rt", 0, 1)},
                {rows(2, bigrams("ct"), 1, 0)}, {rows(2, bigrams("rt"), 0, 1)}))""",
        )
        .groupBy("pid", "n", "g")
        .agg(F.sum("c").alias("c"), F.sum("r").alias("r"))
    )
    n, c, r = F.col("n"), F.col("c"), F.col("r")

    def pooled(cond, val):
        return F.sum(F.when(cond, val)).cast("long")

    # clip sums only grams present on both sides and totals only
    # candidate grams (NULL when there are none, as the inner joins give)
    t = counts.agg(
        F.count(F.when(n == 0, 1)).cast("long").alias("n_pairs"),
        pooled(n == 0, c).alias("clen"),
        pooled(n == 0, r).alias("rlen"),
        pooled((n == 1) & (c > 0) & (r > 0), F.least(c, r)).alias("clip1"),
        pooled((n == 1) & (c > 0), c).alias("tot1"),
        pooled((n == 2) & (c > 0) & (r > 0), F.least(c, r)).alias("clip2"),
        pooled((n == 2) & (c > 0), c).alias("tot2"),
    )
    p1 = F.col("clip1").cast("double") / F.col("tot1")
    p2 = F.col("clip2").cast("double") / F.col("tot2")
    bp = F.when(F.col("clen") > F.col("rlen"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("rlen").cast("double") / F.col("clen"))
    )
    return t.select(
        "n_pairs",
        "clen",
        "rlen",
        (F.floor(p1 * 1000000 + 0.5) / 1000000.0).alias("p1"),
        (F.floor(p2 * 1000000 + 0.5) / 1000000.0).alias("p2"),
        # zero clipped overlap => BLEU 0 (standard zero handling); without
        # the CASE Spark's log(0) is NULL while DuckDB's ln(0) raises.
        F.when(
            (F.coalesce(F.col("clip1"), F.lit(0)) == 0)
            | (F.coalesce(F.col("clip2"), F.lit(0)) == 0),
            F.lit(0.0),
        )
        .otherwise(F.floor(bp * F.exp(0.5 * (F.log(p1) + F.log(p2))) * 1000000 + 0.5) / 1000000.0)
        .alias("bleu2"),
    )


ext_bleu.__doc__ = ext_bleu.__doc__.format(s=_BLEU_STRIDE)


_ROUGE_CAP = 64  # tokens per side entering the LCS DP (documented truncation)


@register(
    "ext_rouge_l",
    # VERDICT r13 task 5: formerly rows-only, now DuckDB-oracled via a
    # RECURSIVE-CTE LCS twin.  The recursion carries one DP row per pair
    # as a LIST; the in-row dependency new[j-1] is eliminated with the
    # monotone-row prefix-max identity new[j] = max(old[j],
    # max_{k<=j}(old[k-1] + eq(i,k))) — exactly the numpy formulation
    # the Spark side vectorizes (np.maximum.accumulate).  Bounded by the
    # same {_ROUGE_CAP}-token cap, so the CTE runs <=cap iterations of
    # <=cap-wide lists per pair.  Independent pure-Python-DP parity
    # stays pinned in tests/test_components.py::
    # test_rouge_l_matches_reference_dp.
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT c.doc_id AS pid,
         list_slice(str_split(c.text, ' '), 1, {_ROUGE_CAP}) AS ct,
         list_slice(str_split(r.text, ' '), 1, {_ROUGE_CAP}) AS rt
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % {_BLEU_STRIDE} = 0
), dims AS (
  SELECT pid, ct, rt, len(ct) AS m, len(rt) AS n FROM pairs
), dp AS (
  SELECT pid, ct, rt, m, n, 0 AS i,
         list_transform(generate_series(0, n), x -> 0) AS row
  FROM dims
  UNION ALL
  SELECT pid, ct, rt, m, n, i + 1,
         list_transform(generate_series(0, n), j ->
           CASE WHEN j = 0 THEN 0 ELSE
             greatest(
               row[j + 1],
               list_max(list_transform(generate_series(1, j), k ->
                 row[k] + CASE WHEN ct[i + 1] = rt[k] THEN 1 ELSE 0 END))
             )
           END) AS row
  FROM dp WHERE i < m
), scored AS (
  SELECT pid, CAST(m AS BIGINT) AS clen, CAST(n AS BIGINT) AS rlen,
         CAST(row[n + 1] AS BIGINT) AS lcs
  FROM dp WHERE i = m
)
SELECT pid, clen, rlen, lcs,
       floor(CASE WHEN lcs > 0
                  THEN 2.0 * (CAST(lcs AS DOUBLE) / clen)
                       * (CAST(lcs AS DOUBLE) / rlen)
                       / (CAST(lcs AS DOUBLE) / clen
                          + CAST(lcs AS DOUBLE) / rlen)
                  ELSE 0.0 END * 1000000 + 0.5) / 1000000.0 AS rouge_l_f1
FROM scored
""",
)
def ext_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L F₁ per candidate/reference doc pair (same deterministic
    pairing as ``ext_bleu``): longest-common-subsequence precision/
    recall — the order-aware, gap-tolerant generation-eval metric
    (BLEU counts local n-gram hits; LCS rewards globally preserved
    ordering).  Both sides truncate to the first {cap} tokens — the
    standard eval-harness bound that keeps the O(|c|·|r|) DP row
    constant-size.

    Spark shape: the LCS DP runs as a VECTORIZED Arrow-batched pandas
    UDF over the token-array pair (one numpy DP row per pair, O(cap²)
    ints — per-pair work is constant, so the stage scales linearly in
    pairs and partitions freely; the HOF-fold alternative is
    interpreted per-lambda and ~10× slower, the ext_knn_join lesson).
    Integer LCS lengths make precision/recall/F exact-int ratios —
    deterministic despite the UDF.  DuckDB-ORACLED since round 14: a
    recursive-CTE twin carries the DP row as a list and eliminates the
    in-row dependency with the monotone-row prefix-max identity (the
    same reformulation the numpy side vectorizes), so the hash gate
    checks every per-pair LCS; independent pure-Python-DP parity stays
    pinned in tests."""
    docs = table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % _BLEU_STRIDE == 0).select(
        F.col("doc_id").alias("pid"),
        F.slice(F.split("text", " "), 1, _ROUGE_CAP).alias("ct"),
    )
    ref = docs.select(
        (F.col("doc_id") - 1).alias("pid"),
        F.slice(F.split("text", " "), 1, _ROUGE_CAP).alias("rt"),
    )
    pairs = cand.join(ref, "pid")

    @F.pandas_udf("long")
    def lcs_len(cts: pd.Series, rts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for a, b in zip(cts, rts):
            a = list(a)
            b = list(b)
            if not a or not b:
                out.append(0)
                continue
            # id-compress b once; DP over one numpy row per a-token.
            prev = np.zeros(len(b) + 1, dtype=np.int64)
            cur = np.zeros(len(b) + 1, dtype=np.int64)
            barr = np.array(b, dtype=object)
            for tok in a:
                match = barr == tok
                # cur[j] = max(prev[j], cur[j-1], prev[j-1]+1 if match)
                cand_v = np.where(match, prev[:-1] + 1, 0)
                np.maximum(cand_v, prev[1:], out=cur[1:])
                np.maximum.accumulate(cur, out=cur)  # carries cur[j-1] forward
                prev, cur = cur.copy(), prev
            out.append(int(prev[-1]))
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "pid",
        F.size("ct").cast("long").alias("clen"),
        F.size("rt").cast("long").alias("rlen"),
        lcs_len("ct", "rt").alias("lcs"),
    )
    p = F.col("lcs").cast("double") / F.col("clen")
    r = F.col("lcs").cast("double") / F.col("rlen")
    return scored.select(
        "pid",
        "clen",
        "rlen",
        "lcs",
        (F.floor(F.when(F.col("lcs") > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
                 * 1000000 + 0.5) / 1000000.0).alias("rouge_l_f1"),
    ).orderBy("pid")


ext_rouge_l.__doc__ = ext_rouge_l.__doc__.format(cap=_ROUGE_CAP)


@register(
    "ext_rouge_n",
    oracle=f"""
WITH pairs AS (
  SELECT c.doc_id AS pid,
         str_split(c.text, ' ') AS ct, str_split(r.text, ' ') AS rt
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % {_BLEU_STRIDE} = 0
), u1 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS c FROM
    (SELECT pid, unnest(ct) AS g FROM pairs) GROUP BY 1, 2
), v1 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS r FROM
    (SELECT pid, unnest(rt) AS g FROM pairs) GROUP BY 1, 2
), u2 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS c FROM
    (SELECT pid, ct[CAST(i AS INT)] || ' ' || ct[CAST(i AS INT) + 1] AS g
     FROM (SELECT pid, ct, unnest(generate_series(1, len(ct) - 1)) AS i
           FROM pairs)) GROUP BY 1, 2
), v2 AS (
  SELECT pid, g, CAST(count(*) AS BIGINT) AS r FROM
    (SELECT pid, rt[CAST(i AS INT)] || ' ' || rt[CAST(i AS INT) + 1] AS g
     FROM (SELECT pid, rt, unnest(generate_series(1, len(rt) - 1)) AS i
           FROM pairs)) GROUP BY 1, 2
), o1 AS (
  SELECT u1.pid, CAST(sum(least(u1.c, v1.r)) AS BIGINT) AS hit1
  FROM u1 JOIN v1 ON u1.pid = v1.pid AND u1.g = v1.g GROUP BY 1
), o2 AS (
  SELECT u2.pid, CAST(sum(least(u2.c, v2.r)) AS BIGINT) AS hit2
  FROM u2 JOIN v2 ON u2.pid = v2.pid AND u2.g = v2.g GROUP BY 1
), lens AS (
  SELECT pid, CAST(len(rt) AS BIGINT) AS r1,
         CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS r2
  FROM pairs
)
SELECT lens.pid,
       COALESCE(hit1, 0) AS hit1, r1,
       COALESCE(hit2, 0) AS hit2, r2,
       floor(CAST(COALESCE(hit1, 0) AS DOUBLE) / r1 * 1000000 + 0.5)
         / 1000000.0 AS rouge1_recall,
       CASE WHEN r2 = 0 THEN 0.0
            ELSE floor(CAST(COALESCE(hit2, 0) AS DOUBLE) / r2 * 1000000 + 0.5)
                 / 1000000.0 END AS rouge2_recall
FROM lens LEFT JOIN o1 ON o1.pid = lens.pid
          LEFT JOIN o2 ON o2.pid = lens.pid
""",
)
def ext_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 RECALL per candidate/reference pair (the same
    deterministic pairing as ``ext_bleu``): clipped n-gram hits over
    the REFERENCE length (Lin 2004) — the recall third of the
    generation-eval triple (``ext_bleu`` = clipped n-gram PRECISION
    pooled corpus-wide with brevity penalty; ``ext_rouge_l`` =
    order-aware LCS; this = per-pair coverage of the reference).

    Same scale shape as ``ext_bleu`` per-pair stage: n-grams form
    INSIDE the token arrays (size>=2 guard on bigrams — the 1-token
    lesson), clipped hits come from per-(pair, gram) count joins whose
    grain is corpus tokens, and the recall denominators are the
    reference lengths — one pass, no pooling stage, output one row per
    eval pair.  Zero-bigram references report a defined 0.0."""
    docs = table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % _BLEU_STRIDE == 0).select(
        F.col("doc_id").alias("pid"), F.split("text", " ").alias("ct")
    )
    ref = docs.select(
        (F.col("doc_id") - 1).alias("pid"), F.split("text", " ").alias("rt")
    )
    # ~|docs|/stride pair rows with five consumers (two gram sides x two
    # orders + the length frame) — one documents self-join, materialized
    # once (guide §2.4) instead of five.
    pairs = cand.join(ref, "pid").localCheckpoint(eager=True)

    def grams(col, n):
        if n == 1:
            return col
        return F.when(
            F.size(col) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(col) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(col, i), F.element_at(col, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def side(colname, n, out):
        return (
            pairs.select("pid", F.explode(grams(F.col(colname), n)).alias("g"))
            .groupBy("pid", "g")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    hits = {}
    for n in (1, 2):
        u, v = side("ct", n, "c"), side("rt", n, "r")
        hits[n] = (
            u.join(v, ["pid", "g"])
            .groupBy("pid")
            .agg(F.sum(F.least(F.col("c"), F.col("r"))).cast("long").alias(f"hit{n}"))
        )
    lens = pairs.select(
        "pid",
        F.size("rt").cast("long").alias("r1"),
        F.greatest(F.size("rt") - 1, F.lit(0)).cast("long").alias("r2"),
    )
    out = (
        lens.join(hits[1], "pid", "left")
        .join(hits[2], "pid", "left")
        .select(
            "pid",
            F.coalesce("hit1", F.lit(0)).alias("hit1"),
            "r1",
            F.coalesce("hit2", F.lit(0)).alias("hit2"),
            "r2",
            (
                F.floor(
                    F.coalesce("hit1", F.lit(0)).cast("double") / F.col("r1") * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("rouge1_recall"),
            F.when(F.col("r2") == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    F.coalesce("hit2", F.lit(0)).cast("double") / F.col("r2") * 1000000
                    + 0.5
                )
                / 1000000.0
            )
            .alias("rouge2_recall"),
        )
    )
    return out.orderBy("pid")


_RAKE_TOP_K = 20
_RAKE_STOPS_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)


@register(
    "ext_keyword_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, t[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS pos
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
), marked AS (
  SELECT doc_id, pos, tok,
         CASE WHEN tok IN ({_RAKE_STOPS_SQL}) OR tok = ''
              THEN 1 ELSE 0 END AS st
  FROM pos
), grp AS (
  SELECT doc_id, pos, tok, st,
         CAST(sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS g
  FROM marked
), w AS (
  SELECT doc_id, g, pos, tok FROM grp WHERE st = 0
), plen AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS len FROM w GROUP BY 1, 2
), ws AS (
  SELECT w.tok, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.len) AS BIGINT) AS deg
  FROM w JOIN plen p ON w.doc_id = p.doc_id AND w.g = p.g
  GROUP BY w.tok
), sc AS (
  SELECT w.doc_id, w.g,
         string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list(CAST(s.deg AS DOUBLE) / s.freq ORDER BY w.pos)),
           (acc, x) -> acc + x) AS score
  FROM w JOIN ws s ON w.tok = s.tok
  GROUP BY 1, 2
)
SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
       floor(max(score) * 1000000 + 0.5) / 1000000.0 AS score
FROM sc GROUP BY phrase
ORDER BY max(score) DESC, phrase LIMIT {_RAKE_TOP_K}
""",
)
def ext_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010)
    top-{k} keyphrases: candidate phrases are maximal stopword-free
    token runs, each word scores deg/freq over the whole corpus
    (degree = Σ lengths of phrases containing it — co-occurrence
    reach; freq penalizes ubiquitous words), and a phrase scores the
    sum of its words — the unsupervised keyword extractor that needs
    no training pass, complementing ``ext_tfidf``'s per-doc weights
    and ``ext_collocation_g2``'s pairwise association with multi-word
    UNITS.

    Exactness: word freq/deg are exact int64; word scores are exact-
    int ratios; each phrase's score folds its word scores sequentially
    IN POSITION ORDER (identical occurrences fold identically, so the
    per-phrase max is engine-stable), and the top-{k} cut uses the
    raw double with phrase-text tiebreak.

    Scale shape: phrase segmentation is a per-doc running sum (window
    partitioned BY DOC — never global); word scoring is one token-key
    shuffle; phrases re-assemble with a (doc, phrase-id) groupBy; the
    final cut is TakeOrdered, not a global sort."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    st = F.when(F.col("tok").isin(*_STOPWORDS) | (F.col("tok") == ""), 1).otherwise(0)
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grp = pos.select(
        "doc_id", "pos", "tok", st.alias("st"), F.sum(st).over(wd).cast("long").alias("g")
    )
    w = grp.filter(F.col("st") == 0).select("doc_id", "g", "pos", "tok")
    plen = w.groupBy("doc_id", "g").agg(F.count(F.lit(1)).cast("long").alias("len"))
    ws = (
        w.join(plen, ["doc_id", "g"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("len").cast("long").alias("deg"),
        )
    )
    scored_words = w.join(ws, "tok").select(
        "doc_id",
        "g",
        "pos",
        "tok",
        (F.col("deg").cast("double") / F.col("freq")).alias("wsc"),
    )
    sc = scored_words.groupBy("doc_id", "g").agg(
        F.array_sort(F.collect_list(F.struct("pos", "tok", "wsc"))).alias("ps")
    )
    phrase = F.array_join(F.transform(F.col("ps"), lambda s: s.getField("tok")), " ")
    score = F.aggregate(
        F.transform(F.col("ps"), lambda s: s.getField("wsc")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        sc.select(phrase.alias("phrase"), score.alias("score"))
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occur"),
            F.max("score").alias("raw"),
        )
        .orderBy(F.desc("raw"), "phrase")
        .limit(_RAKE_TOP_K)
        .select(
            "phrase",
            "n_occur",
            (F.floor(F.col("raw") * 1000000 + 0.5) / 1000000.0).alias("score"),
        )
    )


ext_keyword_rake.__doc__ = ext_keyword_rake.__doc__.format(k=_RAKE_TOP_K)


@register(
    "ext_isotonic_calibration",
    oracle=f"""
WITH {_CAL_SCORED_SQL},
g AS (
  SELECT sm, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
p AS (
  SELECT sm, n, pos,
         CAST(row_number() OVER (ORDER BY sm) AS BIGINT) AS j,
         CAST(sum(n) OVER (ORDER BY sm) AS BIGINT) AS cw,
         CAST(sum(pos) OVER (ORDER BY sm) AS BIGINT) AS cp
  FROM g
),
mm AS (
  SELECT a.j AS j, i.j AS ij,
         min((CAST(k.cp AS DOUBLE) - (i.cp - i.pos))
             / (CAST(k.cw AS DOUBLE) - (i.cw - i.n))) AS inner_min
  FROM p a, p i, p k
  WHERE i.j <= a.j AND k.j >= a.j
  GROUP BY 1, 2
),
iso AS (SELECT j, max(inner_min) AS iso FROM mm GROUP BY 1)
SELECT floor(CAST(p.sm AS DOUBLE) + 0.5) / 1000000.0 AS score,
       p.n, p.pos,
       floor(iso.iso * 1000000 + 0.5) / 1000000.0 AS iso_rate
FROM p JOIN iso USING (j)
ORDER BY score
""",
)
def ext_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (PAV) CALIBRATION of the "is English" score: the
    monotone-nondecreasing maximum-likelihood fit of P(en | score) via
    pool-adjacent-violators — the nonparametric recalibration step one
    rung above ``ext_calibration_bins``' raw reliability diagram (raw
    bin accuracies can INVERT between adjacent bins; downstream
    thresholds want the monotone fit).

    Cross-engine verification is the pair of CLASSICAL equivalent
    formulations: Spark runs the O(B) stack PAV (Barlow et al. 1972)
    inside one bounded ``applyInPandas`` group, while the DuckDB oracle
    evaluates the minimax closed form iso_j = max_{{i<=j}} min_{{k>=j}}
    (pos_{{i..k}} / n_{{i..k}}) over prefix sums — equal by the PAV
    minimax theorem, and equal in FLOAT because IEEE division is
    correctly rounded (equal rationals give identical doubles whatever
    block boundaries produced them).

    Scale shape: the corpus contributes one map-side-combined aggregate
    to the DISTINCT-SCORE grain, which is bounded by the lang-profile
    length (hits are 0..{w} => <= {w1} rows at ANY corpus size); the
    PAV group and the oracle's B^3 minimax both run on that bounded
    frame."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    sm, y = _cal_scored_cols()
    g = (
        docs.select(sm.alias("sm"), y.alias("y"))
        .groupBy("sm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("sm").reset_index(drop=True)
        # stack of [w, p, count_of_rows]; merge while the tail violates
        stack: list[list[float]] = []
        for _, row in pdf.iterrows():
            w, p, c = float(row["n"]), float(row["pos"]), 1
            while stack and stack[-1][1] * w > p * stack[-1][0]:
                pw, pp, pc = stack.pop()
                w += pw
                p += pp
                c += pc
            stack.append([w, p, c])
        rates: list[float] = []
        for w, p, c in stack:
            rates.extend([p / w] * int(c))
        return pd.DataFrame(
            {
                "score": [int(s) for s in pdf["sm"]],
                "n": pdf["n"].astype("int64"),
                "pos": pdf["pos"].astype("int64"),
                "iso_rate": rates,
            }
        )

    out = g.groupBy(F.lit(1).alias("_g")).applyInPandas(
        pav, schema="score long, n long, pos long, iso_rate double"
    )
    return out.select(
        (F.floor(F.col("score").cast("double") + 0.5) / 1000000.0).alias("score"),
        "n",
        "pos",
        (F.floor(F.col("iso_rate") * 1000000 + 0.5) / 1000000.0).alias("iso_rate"),
    ).orderBy("score")


ext_isotonic_calibration.__doc__ = ext_isotonic_calibration.__doc__.format(
    w=_EN_PROFILE_LEN, w1=_EN_PROFILE_LEN + 1
)


@register(
    "ext_heaps_law",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
w AS (SELECT doc_id, tok FROM words WHERE tok <> ''),
first_seen AS (
  SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd FROM w GROUP BY 1
),
vnew AS (
  SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS vn FROM first_seen GROUP BY 1
),
tk AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tk FROM w GROUP BY 1
),
curve AS (
  SELECT tk.doc_id,
         CAST(sum(tk.tk) OVER (ORDER BY tk.doc_id) AS BIGINT) AS cn,
         CAST(sum(coalesce(vnew.vn, 0)) OVER (ORDER BY tk.doc_id) AS BIGINT) AS cv
  FROM tk LEFT JOIN vnew USING (doc_id)
),
arr AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(max(cn) AS BIGINT) AS tokens,
         CAST(max(cv) AS BIGINT) AS vocab,
         list(ln(CAST(cn AS DOUBLE)) ORDER BY doc_id) AS lxs,
         list(ln(CAST(cv AS DOUBLE)) ORDER BY doc_id) AS lys,
         list(ln(CAST(cn AS DOUBLE)) * ln(CAST(cv AS DOUBLE))
              ORDER BY doc_id) AS lxys,
         list(ln(CAST(cn AS DOUBLE)) * ln(CAST(cn AS DOUBLE))
              ORDER BY doc_id) AS lxxs
  FROM curve
),
s AS (
  SELECT d, tokens, vocab,
         list_reduce(lxs,  (a, b) -> a + b) AS sx,
         list_reduce(lys,  (a, b) -> a + b) AS sy,
         list_reduce(lxys, (a, b) -> a + b) AS sxy,
         list_reduce(lxxs, (a, b) -> a + b) AS sxx
  FROM arr
)
SELECT d AS n_docs, tokens, vocab,
       floor(((d * sxy - sx * sy) / (d * sxx - sx * sx)) * 1000000 + 0.5)
         / 1000000.0 AS heaps_beta,
       floor(((sy - ((d * sxy - sx * sy) / (d * sxx - sx * sx)) * sx) / d)
             * 1000000 + 0.5) / 1000000.0 AS heaps_log_k
FROM s
""",
)
def ext_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW FIT of vocabulary growth V(N) = K N^beta: the log-log
    OLS of cumulative distinct vocabulary against cumulative tokens in
    doc_id order — the companion corpus-scaling statistic to
    ``ext_zipf_fit`` (Zipf describes the frequency distribution at a
    POINT, Heaps describes how the vocabulary GROWS as the corpus
    does; natural text sits near beta ~ 0.5, and a beta collapsing
    toward 0 means the incoming data stopped contributing new types —
    the saturation signal a data-acquisition pipeline watches).

    Distributed shape: "new vocabulary per doc" needs NO per-prefix
    distinct — each type contributes at exactly its FIRST doc (min
    doc_id per token, one vocab-grain aggregate), so the growth curve
    is two exact cumulative sums over the doc grain, both from ONE
    ``distributed_rank`` pass (range partitions + broadcast offsets,
    never a single-task window).  The ln-moment sums are order-
    sensitive doubles and fold SEQUENTIALLY over the doc_id-sorted
    curve array (Spark ``aggregate`` HOF == DuckDB ``list_reduce``,
    the ext_zipf_fit recipe; at web scale the fit runs over a
    doc-sampled curve, same plan)."""
    from ..operators.ranking import distributed_rank

    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vnew = (
        w.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("vn"))
    )
    tk = w.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("tk"))
    base = tk.join(vnew, "doc_id", "left").select(
        "doc_id", "tk", F.coalesce(F.col("vn"), F.lit(0)).cast("long").alias("vn")
    )
    curve = distributed_rank(base, ["doc_id"], sum_cols=("tk", "vn")).select(
        "doc_id",
        F.col("_cum_tk").cast("long").alias("cn"),
        F.col("_cum_vn").cast("long").alias("cv"),
    )
    lx = F.log(F.col("cn").cast("double"))
    ly = F.log(F.col("cv").cast("double"))
    arr = curve.select(
        "doc_id", lx.alias("lx"), ly.alias("ly"), (lx * ly).alias("lxy"), (lx * lx).alias("lxx"),
        "cn", "cv",
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.max("cn").cast("long").alias("tokens"),
        F.max("cv").cast("long").alias("vocab"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", F.col("lx").alias("v")))),
            lambda s: s.getField("v"),
        ).alias("lxs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", F.col("ly").alias("v")))),
            lambda s: s.getField("v"),
        ).alias("lys"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", F.col("lxy").alias("v")))),
            lambda s: s.getField("v"),
        ).alias("lxys"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", F.col("lxx").alias("v")))),
            lambda s: s.getField("v"),
        ).alias("lxxs"),
    )

    def fold(col):
        return F.aggregate(col, F.lit(0.0), lambda a, b: a + b)

    s = arr.select(
        "d",
        "tokens",
        "vocab",
        fold(F.col("lxs")).alias("sx"),
        fold(F.col("lys")).alias("sy"),
        fold(F.col("lxys")).alias("sxy"),
        fold(F.col("lxxs")).alias("sxx"),
    )
    slope = (F.col("d") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("d") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r6l = lambda x: F.floor(x * 1000000 + 0.5) / 1000000.0  # noqa: E731
    return s.select(
        F.col("d").alias("n_docs"),
        "tokens",
        "vocab",
        r6l(slope).alias("heaps_beta"),
        r6l((F.col("sy") - slope * F.col("sx")) / F.col("d")).alias("heaps_log_k"),
    )


@register(
    "ext_calibration_ece",
    oracle=f"""
WITH {_CAL_SCORED_SQL},
b AS (
  SELECT least(CAST(floor(sm / 100000.0) AS BIGINT), {_CAL_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(sm) AS BIGINT) AS ssm,
         CAST(sum(y) AS BIGINT) AS sy
  FROM scored GROUP BY 1
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS n_bins,
         CAST(sum(abs(sy * 1000000 - ssm)) AS BIGINT) AS gap_sum,
         max(CAST(abs(sy * 1000000 - ssm) AS DOUBLE) / (n * 1000000.0))
           AS mce
  FROM b
)
SELECT nn AS n, n_bins,
       floor(CAST(gap_sum AS DOUBLE) / (nn * 1000000.0) * 1000000 + 0.5)
         / 1000000.0 AS ece,
       floor(mce * 1000000 + 0.5) / 1000000.0 AS mce
FROM t
""",
)
def ext_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR (and max calibration error) of the
    "is English" confidence — the single-number summary of
    ``ext_calibration_bins``' reliability diagram (Naeini 2015's ECE:
    the bin-weighted |accuracy - confidence| gap; MCE is the worst
    bin), the number a model card quotes where the diagram is the
    plot.

    Exactness by construction: per-bin |sum_y*1e6 - sum_sm| is an
    EXACT integer (scores are micro-ints), so the ECE numerator is one
    exact int64 sum — no order-sensitive float sum exists anywhere —
    and the two final divisions are single closed-form doubles.  One
    scan, one |bins|-row combine, a 1-row report at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    sm, y = _cal_scored_cols()
    scored = docs.select(sm.alias("sm"), y.alias("y"))
    b = scored.groupBy(
        F.least(F.floor(F.col("sm") / 100000.0).cast("long"), F.lit(_CAL_BINS - 1)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sm").cast("long").alias("ssm"),
        F.sum("y").cast("long").alias("sy"),
    )
    gap = F.abs(F.col("sy") * 1000000 - F.col("ssm"))
    t = b.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(gap).cast("long").alias("gap_sum"),
        F.max(gap.cast("double") / (F.col("n") * 1000000.0)).alias("mce"),
    )
    r6l = lambda x: F.floor(x * 1000000 + 0.5) / 1000000.0  # noqa: E731
    return t.select(
        F.col("nn").alias("n"),
        "n_bins",
        r6l(F.col("gap_sum").cast("double") / (F.col("nn") * 1000000.0)).alias("ece"),
        r6l(F.col("mce")).alias("mce"),
    )


_TR_ITERS = 5     # fixed TextRank iterations (unrolled in the oracle)
_TR_DAMPING = 0.85
_TR_ROUND = 7     # decimals kept (absorbs neighbor-sum order noise)
_TR_TOP = 10


def _textrank_oracle() -> str:
    """Unrolled fixed-iteration weighted TextRank in DuckDB SQL — the
    graph_pagerank oracle recipe on the word-adjacency graph."""
    parts = [
        """WITH toks AS (
  SELECT str_split(text, ' ') AS ts FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, len(ts)),
                               i -> [ts[i], ts[i + 1]])) AS p
  FROM toks WHERE len(ts) >= 2
), e AS (
  SELECT p[1] AS a, p[2] AS b, CAST(count(*) AS BIGINT) AS wt
  FROM pairs WHERE p[1] <> p[2] GROUP BY 1, 2
), sym AS (
  SELECT a AS s, b AS d, wt FROM e UNION ALL SELECT b, a, wt FROM e
), agg AS (
  SELECT s, d, CAST(sum(wt) AS BIGINT) AS wt FROM sym GROUP BY 1, 2
), wsum AS (
  SELECT s, CAST(sum(wt) AS BIGINT) AS tw FROM agg GROUP BY 1
), links AS (
  SELECT agg.s, agg.d, CAST(agg.wt AS DOUBLE) / wsum.tw AS frac
  FROM agg JOIN wsum USING (s)
),
r0 AS (SELECT s AS node, CAST(1.0 AS DOUBLE) AS tr FROM wsum),""",
    ]
    for i in range(_TR_ITERS):
        # Fold each node's incoming contributions in SORTED source-node
        # order (list_reduce over ORDER BY l.s == the Spark side's
        # array_sort + aggregate): an unordered float sum compounded over
        # the iterations could land within rounding-boundary noise of the
        # final round() and flip a digit (ADVICE r14).
        parts.append(
            f"r{i + 1} AS (SELECT l.d AS node, "
            f"(1.0 - {_TR_DAMPING}) + {_TR_DAMPING} * "
            f"list_reduce(list(r.tr * l.frac ORDER BY l.s), (x, y) -> x + y) AS tr "
            f"FROM links l JOIN r{i} r ON l.s = r.node GROUP BY l.d),"
        )
    parts[-1] = parts[-1][:-1]
    parts.append(
        f"SELECT node AS word, round(tr, {_TR_ROUND}) AS textrank "
        f"FROM r{_TR_ITERS} "
        f"ORDER BY round(tr, {_TR_ROUND}) DESC, node LIMIT {_TR_TOP}"
    )
    return "\n".join(parts)


@register("ext_keyword_textrank", oracle=_textrank_oracle())
def ext_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK KEYWORDS (Mihalcea & Tarau 2004): weighted PageRank
    (damping {d}, {it} fixed iterations) over the token-adjacency
    co-occurrence graph, top-{top} words — the graph-centrality
    keyword extractor beside the degree/frequency heuristics
    (``ext_keyword_rake`` scores phrases by degree/freq; TextRank
    propagates importance through the graph, so a word gains rank from
    IMPORTANT neighbors, not just many neighbors).

    The iterative DataFrame loop (localCheckpoint per iteration, the
    graph_pagerank discipline) is value-checked against a {it}-CTE
    unrolled declarative twin, both rounded to {r} decimals (absorbing
    neighbor-sum order).  Scale shape: the graph is VOCABULARY-grain —
    edges/ranks are vocab-sized frames regardless of corpus rows (at
    web scale the documented slice is the top-N vocab, the zipf
    recipe); the corpus contributes one adjacency-pair aggregate."""
    docs = table(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    pairs = docs.select(ts.alias("ts")).filter(F.size("ts") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.array(F.element_at("ts", i), F.element_at("ts", i + 1)),
            )
        ).alias("p")
    )
    e = (
        pairs.select(F.element_at("p", 1).alias("a"), F.element_at("p", 2).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d"), "wt").unionAll(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"), "wt")
    )
    agg = sym.groupBy("s", "d").agg(F.sum("wt").cast("long").alias("wt"))
    wsum = agg.groupBy("s").agg(F.sum("wt").cast("long").alias("tw"))
    links = agg.join(wsum, "s").select(
        "s", "d", (F.col("wt").cast("double") / F.col("tw")).alias("frac")
    ).localCheckpoint(eager=True)
    # Init from the materialized links (same node set: wsum's keys all
    # appear in agg by construction) — deriving from wsum re-ran the
    # corpus-grain pair aggregate a second time (guide §2.4).
    ranks = links.select("s").distinct().select(
        F.col("s").alias("node"), F.lit(1.0).alias("tr")
    )
    for _ in range(_TR_ITERS):
        # Deterministic neighbor sum: fold contributions in sorted
        # source-node order (array_sort + aggregate == the oracle's
        # list_reduce ORDER BY l.s) so the per-iteration float totals are
        # bit-identical across engines and runs instead of relying on the
        # final rounding to absorb order noise (ADVICE r14).
        ranks = (
            links.join(ranks, F.col("s") == F.col("node"))
            .groupBy(F.col("d").alias("nnode"))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("s"), (F.col("tr") * F.col("frac")).alias("v")
                        )
                    )
                ).alias("contrib")
            )
            .select(
                F.col("nnode").alias("node"),
                (
                    F.lit(1.0 - _TR_DAMPING)
                    + F.lit(_TR_DAMPING)
                    * F.aggregate(
                        F.col("contrib"),
                        F.lit(0.0),
                        lambda acc, x: acc + x["v"],
                    )
                ).alias("tr"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        ranks.select(
            F.col("node").alias("word"),
            F.round(F.col("tr"), _TR_ROUND).alias("textrank"),
        )
        .orderBy(F.desc("textrank"), "word")
        .limit(_TR_TOP)
    )


ext_keyword_textrank.__doc__ = ext_keyword_textrank.__doc__.format(
    d=_TR_DAMPING, it=_TR_ITERS, top=_TR_TOP, r=_TR_ROUND
)


@register(
    "ext_term_burstiness",
    oracle="""
WITH toks AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'))
                 AS w
        FROM documents)
  WHERE w <> ''
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
       FROM toks GROUP BY 1, 2),
st AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS cf,
         CAST(sum(c * c) AS BIGINT) AS cf2
  FROM dw GROUP BY 1
)
SELECT word, df, cf,
       floor((CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * cf / n_docs)
             / (n_docs - 1)
             / (CAST(cf AS DOUBLE) / n_docs) * 1000000 + 0.5) / 1000000.0
         AS burstiness,
       floor(CAST(cf AS DOUBLE) / df * 1000000 + 0.5) / 1000000.0
         AS adaptation,
       floor(ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5) / 1000000.0
         AS idf
FROM st, nd
ORDER BY word
""",
)
def ext_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM BURSTINESS (Church-Gale): per vocabulary word, the
    variance-to-mean ratio of its per-document count INCLUDING the
    zero-count documents — a Poisson word scores ~1, a bursty word
    (content terms that pile into few docs) scores far above, and
    function words sit near 1.  Plus adaptation (mean count GIVEN the
    word appears, cf/df) and IDF — the trio that separates content from
    filler better than frequency alone, and the statistic behind
    burstiness-aware dedup and topic-shift monitors.

    The zero-including variance needs only (df, cf, sum c^2) per word
    and the corpus doc count — the zeros enter through the closed form
    (sum over all docs of c^2 equals sum over PRESENT docs), so nothing
    materializes the doc x vocab grid.  All moments exact int64; one
    pinned division chain per word.  Scale: one (doc, word) combine to
    the bounded vocabulary grain."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        ).alias("word"),
    ).filter(F.col("word") != "")
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dw = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    st = dw.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("cf2"),
    )
    j = st.crossJoin(F.broadcast(nd))
    ndc = F.col("n_docs")
    var = (
        F.col("cf2").cast("double") - F.col("cf").cast("double") * F.col("cf") / ndc
    ) / (ndc - 1)
    q6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000.0  # noqa: E731
    return j.select(
        "word",
        "df",
        "cf",
        q6(var / (F.col("cf").cast("double") / ndc)).alias("burstiness"),
        q6(F.col("cf").cast("double") / F.col("df")).alias("adaptation"),
        q6(F.log(ndc.cast("double") / F.col("df"))).alias("idf"),
    ).orderBy("word")


@register(
    "ext_diversity_indices",
    oracle="""
WITH toks AS (
  SELECT w AS word
  FROM (SELECT unnest(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'))
                 AS w
        FROM documents)
  WHERE w <> ''
),
vh AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS s,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS c2,
         CAST(max(c) AS BIGINT) AS cmax
  FROM vh
),
ent AS (
  SELECT s, n, c2, cmax,
         list_reduce(list_prepend(0.0, list(
             (CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)
             ORDER BY word)), (a, b) -> a + b) AS h
  FROM vh, tot GROUP BY s, n, c2, cmax
)
SELECT s AS richness, n AS tokens,
       floor(h * 1000000 + 0.5) / 1000000.0 AS shannon_h,
       floor(h / ln(CAST(s AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
         AS evenness,
       floor((1.0 - CAST(c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n))
             * 1000000 + 0.5) / 1000000.0 AS simpson_d,
       floor((CAST(n AS DOUBLE) * n) / c2 * 1000000 + 0.5) / 1000000.0
         AS inv_simpson,
       floor(CAST(cmax AS DOUBLE) / n * 1000000 + 0.5) / 1000000.0
         AS berger_parker
FROM ent
""",
)
def ext_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY DIVERSITY PANEL: Shannon H with Pielou evenness
    (H/ln S), Simpson's D = 1 - sum p^2 with its inverse (the Renyi-2
    effective vocabulary — the hill number a mixture audit compares
    against nominal richness), and Berger-Parker dominance (share of
    the single top word) — the ecology-standard panel applied to the
    token distribution, complementing ``agg_entropy``'s per-user H and
    ``ext_vocab_richness``'s type counts with the full order-0/1/2/inf
    diversity spectrum in one pass.

    Simpson/Berger-Parker are pinned closed forms of exact int64
    moments (sum c^2 ~1e16 at the sf1 twin); the single
    order-sensitive sum (Shannon) folds over the bounded word order.
    Scale: one token combine to the vocabulary grain."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        ).alias("word")
    ).filter(F.col("word") != "")
    vh = toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = vh.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("c2"),
        F.max("c").cast("long").alias("cmax"),
    )
    from ..operators.monitoring import _ordfold

    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        F.col("n").cast("double") / F.col("c")
    )
    ent = (
        vh.crossJoin(F.broadcast(tot))
        .groupBy("s", "n", "c2", "cmax")
        .agg(_ordfold(F.col("word"), term).alias("h"))
    )
    n, s = F.col("n"), F.col("s")
    q6 = lambda x: F.floor(x * 1000000 + 0.5) / 1000000.0  # noqa: E731
    return ent.select(
        s.alias("richness"),
        n.alias("tokens"),
        q6(F.col("h")).alias("shannon_h"),
        q6(F.col("h") / F.log(s.cast("double"))).alias("evenness"),
        q6(1.0 - F.col("c2").cast("double") / (n.cast("double") * n)).alias(
            "simpson_d"
        ),
        q6((n.cast("double") * n) / F.col("c2")).alias("inv_simpson"),
        q6(F.col("cmax").cast("double") / n).alias("berger_parker"),
    )
