"""Text quality, language, tokenization and corpus curation.

Per-document quality scores, stopword-profile language ID, BPE-style
token counts and content fingerprints as column expressions over the
documents table, and the end-to-end curation selection that gates on
them and drops the near-duplicates dedup_clusters finds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.operators.parse import rebalance_for_parse as _rebalance
from raptor_spark.queries.dedup import _DEDUP_CLUSTERS_ORACLE, q_dedup_clusters
from raptor_spark.queries.registry import query


_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS nd
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(floor(nd * 1000.0 / n) AS BIGINT) AS distinct_ratio_x1000,
       CAST(floor((length(text) - (n - 1)) * 100.0 / n) AS BIGINT)
           AS mean_token_len_x100,
       CAST(nd * 1000.0 / n < 400 AS INT) AS repetitive
FROM t
"""


@query("text_quality", oracle=_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, distinct-token ratio, mean token
    length, repetition flag (integer-stabilized for comparison)."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        F.floor(nd * 1000 / n).cast("long").alias("distinct_ratio_x1000"),
        F.floor((F.length(F.col("text")) - (n - 1)) * 100 / n)
        .cast("long")
        .alias("mean_token_len_x100"),
        (nd * 1000 / n < 400).cast("int").alias("repetitive"),
    )


#: closed-class stopword profiles for the heuristic language scorer.
#: Scoring = whitespace-token membership counts over lowercased text —
#: identical semantics in Spark's higher-order filter() and DuckDB's
#: list_filter(), so the oracle matches bit-for-bit. Shared words
#: (es/fr "la") just contribute to both scores; strict argmax decides.
_LANG_PROFILES = {
    "en": ["the", "and", "of", "to"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "une"],
    "de": ["der", "die", "und", "nicht"],
}


def _lang_hits(text_col):
    """Per-language stopword token counts: whitespace-tokenize the
    lowercased text once, count tokens belonging to each profile with a
    higher-order filter. One compact loop per language in codegen —
    the per-word substring-count formulation blew janino's 64 KB
    method limit once the argmax below (and any pushed-down filter on
    its result) re-inlined every count several times."""
    toks = F.split(F.lower(text_col), r"\s+")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in _LANG_PROFILES.items()
    }


def _lang_pred(hits):
    """Strict-argmax decision over _lang_hits: any tie for the top
    score, including the all-zero case, yields 'und'."""
    langs = list(_LANG_PROFILES)
    best = F.greatest(*[hits[lang] for lang in langs])
    n_best = sum((hits[lang] == best).cast("int") for lang in langs)
    pred = F.lit("und")
    for lang in langs:
        pred = F.when(
            (best > 0) & (n_best == 1) & (hits[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return pred


_LANGID_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
  FROM documents
),
h AS (
  SELECT doc_id,
         len(list_filter(tk, x -> x IN ('the','and','of','to'))) AS en_hits,
         len(list_filter(tk, x -> x IN ('el','la','los','que'))) AS es_hits,
         len(list_filter(tk, x -> x IN ('le','les','des','une'))) AS fr_hits,
         len(list_filter(tk, x -> x IN ('der','die','und','nicht'))) AS de_hits
  FROM t
),
s AS (
  SELECT *, greatest(en_hits, es_hits, fr_hits, de_hits) AS best,
         CAST(en_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(es_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(fr_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           + CAST(de_hits = greatest(en_hits, es_hits, fr_hits, de_hits) AS INT)
           AS n_best
  FROM h
)
SELECT doc_id,
       CAST(en_hits AS BIGINT) AS en_hits,
       CAST(es_hits AS BIGINT) AS es_hits,
       CAST(fr_hits AS BIGINT) AS fr_hits,
       CAST(de_hits AS BIGINT) AS de_hits,
       CASE WHEN best = 0 OR n_best > 1 THEN 'und'
            WHEN en_hits = best THEN 'en'
            WHEN es_hits = best THEN 'es'
            WHEN fr_hits = best THEN 'fr'
            ELSE 'de' END AS lang_pred
FROM s
"""


@query("text_langid", oracle=_LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: per-language stopword-profile hit counts
    (4 languages) with a strict-argmax decision. Pure column
    expressions over the documents table; the synthetic corpus is
    English-vocab so the interesting part is the scoring plumbing,
    checked bit-for-bit vs the oracle."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    hits = _lang_hits(F.col("text"))
    # two projections on purpose: the argmax references each hit count
    # several times, so computing hits into named columns first keeps
    # the (expensive) counting expressions single-instance — Catalyst's
    # CollapseProject preserves the split for exactly this reason
    counted = docs.select(
        "doc_id",
        *[hits[lang].cast("long").alias(f"{lang}_hits") for lang in _LANG_PROFILES],
    )
    hcols = {lang: F.col(f"{lang}_hits") for lang in _LANG_PROFILES}
    return counted.select(
        "doc_id",
        *[f"{lang}_hits" for lang in _LANG_PROFILES],
        _lang_pred(hcols).alias("lang_pred"),
    )


# GPT-2-style BPE pre-tokenizer, restricted to RE2-safe constructs so the
# exact same pattern (no lookahead) runs in both Spark (java.util.regex)
# and the DuckDB oracle (RE2): contractions, space-attached letter runs,
# space-attached digit runs, space-attached punctuation runs, then
# leftover whitespace runs (filtered out of the token count).
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


_TEXT_TOKENS_ORACLE = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(
           regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'),
           t -> NOT regexp_matches(t, '^\\s+$')) AS ts
  FROM documents
),
c AS (
  SELECT doc_id, n_chars, len(ts) AS n,
         len(list_filter(ts, t -> regexp_matches(t, '^ ?[A-Za-z]+$'))) AS nw,
         len(list_filter(ts, t -> regexp_matches(t, '^ ?[0-9]+$'))) AS nn
  FROM toks
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bpe_tokens,
       CAST(nw AS BIGINT) AS n_word_tokens,
       CAST(nn AS BIGINT) AS n_num_tokens,
       CAST(n - nw - nn AS BIGINT) AS n_other_tokens,
       CAST(floor(n_chars * 100.0 / greatest(n, 1)) AS BIGINT)
           AS chars_per_tok_x100
FROM c
"""


@query("text_tokens", oracle=_TEXT_TOKENS_ORACLE)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: segment text with the GPT-2 pre-tokenizer
    regex (letter/digit/punct runs with leading-space attachment plus
    English contraction suffixes) and count tokens per class.  Pure
    column expressions — the whole stage stays in whole-stage codegen;
    chars_per_tok_x100 is the usual 'fertility' proxy for how many
    real BPE merges a tokenizer would spend on the document.

    The documents scan is rebalanced first: the regex extraction plus
    three per-token filter passes are the CPU-bound first stage, and
    documents.parquet is byte-small (one split) at test scales."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    nonws = F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))
    n = F.size(nonws)
    n_word = F.size(F.filter(nonws, lambda t: t.rlike(r"^ ?[A-Za-z]+$")))
    n_num = F.size(F.filter(nonws, lambda t: t.rlike(r"^ ?[0-9]+$")))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_bpe_tokens"),
        n_word.cast("long").alias("n_word_tokens"),
        n_num.cast("long").alias("n_num_tokens"),
        (n - n_word - n_num).cast("long").alias("n_other_tokens"),
        F.floor(F.length(F.col("text")) * 100 / F.greatest(n, F.lit(1)))
        .cast("long")
        .alias("chars_per_tok_x100"),
    )


_CORPUS_CURATE_ORACLE = (
    """
WITH RECURSIVE clus AS (
  SELECT * FROM ("""
    + _DEDUP_CLUSTERS_ORACLE
    + """) c
),
scored AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
           * 1000.0
           / len(regexp_split_to_array(trim(text), '\\s+')) AS ratio,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
langp AS ("""
    + _LANGID_ORACLE
    + """),
gated AS (
  SELECT s.doc_id, s.text, s.n_tokens, s.fp, l.lang_pred
  FROM scored s JOIN langp l USING (doc_id)
  WHERE s.n_tokens >= 10 AND s.ratio >= 400 AND l.lang_pred = 'en'
),
exact AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM gated
),
kept AS (
  SELECT e.* FROM exact e
  WHERE e.rk = 1
    AND NOT EXISTS (SELECT 1 FROM clus c
                    WHERE c.doc_id = e.doc_id
                      AND c.doc_id <> c.cluster_rep)
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, lang_pred,
       CASE WHEN b < 18 THEN 'train' WHEN b = 18 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *,
             CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 20 AS b
      FROM kept)
"""
)


@query("corpus_curate", oracle=_CORPUS_CURATE_ORACLE)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the selection a training-data
    pipeline actually materializes: quality gate (>= 10 tokens,
    distinct-token ratio >= 0.4), language gate (stopword-profile
    'en'), exact dedup (keep min doc_id per normalized-text md5),
    near-dup drop (only cluster representatives survive
    dedup_clusters), then a deterministic md5-keyed 18/1/1
    train/val/test split. Every stage is a column expression or an
    already-bucketed operator; the only driver-side work is the
    label-propagation round counter inside dedup_clusters."""
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hits = _lang_hits(F.col("text"))
    # hits as named columns first, argmax second (see q_text_langid:
    # fusing the re-referenced counts into one projection overflows
    # janino's 64 KB codegen limit)
    counted = docs.select(
        "doc_id",
        "text",
        n.cast("long").alias("n_tokens"),
        (nd * 1000 / n).alias("ratio"),
        F.md5(norm).alias("fp"),
        *[hits[lang].alias(f"_h_{lang}") for lang in _LANG_PROFILES],
    )
    hcols = {lang: F.col(f"_h_{lang}") for lang in _LANG_PROFILES}
    scored = counted.select(
        "doc_id",
        "text",
        "n_tokens",
        "ratio",
        "fp",
        _lang_pred(hcols).alias("lang_pred"),
    ).filter(
        (F.col("n_tokens") >= 10)
        & (F.col("ratio") >= 400)
        & (F.col("lang_pred") == "en")
    )
    # keep-min-doc_id-per-fingerprint as a min-of-struct AGGREGATE (the
    # struct compares doc_id first, which is unique): identical rows to
    # the row_number()-over-(fp, doc_id)-window form it replaces, but
    # with map-side partial aggregation and no per-partition sort
    exact = (
        scored.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "text", "n_tokens", "lang_pred")
            ).alias("_m")
        )
        .select("_m.doc_id", "_m.text", "_m.n_tokens", "_m.lang_pred")
    )
    dropped = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )
    kept = exact.join(dropped, "doc_id", "left_anti")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10).cast("long"),
        F.lit(20),
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        F.when(bucket < 18, F.lit("train"))
        .when(bucket == 18, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


@query("doc_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))
