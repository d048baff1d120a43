"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token statistics, fingerprinting (BASELINE.json north star).

All expressions are JVM-side built-ins (regex, higher-order array
functions, md5-derived hashing) — no Python UDFs, so whole-stage codegen
applies and every query is a single scan + narrow project (+ one shuffle
where grouped).  Each has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from golang_mapreduce_spark.caching import with_shared_caches
from golang_mapreduce_spark.functions.hashing import hash32, sql_hash32
from golang_mapreduce_spark.functions.text import ws_words
from golang_mapreduce_spark.sources.fixtures import load_table

#: Stopword sample for quality scoring (drawn from the fixture vocabulary).
STOPWORDS = ("the", "a", "data", "key", "value")
FP_MOD = 16  # fingerprint: keep shingle hashes ≡ 0 (mod 16) — winnowing-lite


def lang_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc count, token/char averages,
    distinct sources."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", "source", "n_chars", F.size(ws_words("text")).alias("n_tokens")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)").alias("avg_tokens"),
            F.expr("CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)").alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


LANG_STATS_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources
FROM (
  SELECT lang, source, n_chars,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents
)
GROUP BY lang
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language-ID heuristic (CJK / diacritic ranges),
    evaluated against the labelled ``lang`` column.  The fixture corpus is
    ASCII for every language, so the heuristic predicts 'en' throughout —
    the operator under test is the deterministic classification pipeline
    shape (regex feature → rule → confusion counts), not model quality."""
    docs = load_table(spark, sf_dir, "documents")
    pred = (
        F.when(F.col("text").rlike(r"[\x{4e00}-\x{9fff}]"), "zh")
        .when(F.col("text").rlike(r"[áéíóúñ¿¡]"), "es")
        .when(F.col("text").rlike(r"[àâçèêîôû]"), "fr")
        .when(F.col("text").rlike(r"[äöüß]"), "de")
        .otherwise("en")
    )
    return (
        docs.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


LANG_ID_SQL = """
SELECT lang, predicted, COUNT(*) AS n
FROM (
  SELECT lang,
         CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
              WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
              WHEN regexp_matches(text, '[àâçèêîôû]') THEN 'fr'
              WHEN regexp_matches(text, '[äöüß]') THEN 'de'
              ELSE 'en' END AS predicted
  FROM documents
)
GROUP BY lang, predicted
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + a weighted score: token count,
    mean word length, punctuation ratio, stopword ratio.  The score
    formula is arbitrary but fixed; all arithmetic is deterministic
    double math rounded at the end."""
    return quality_features(load_table(spark, sf_dir, "documents"))


def quality_features(docs: DataFrame, keep: tuple = ("doc_id",)) -> DataFrame:
    """The quality projection over any (text, n_chars, …) relation —
    shared by the batch query and the streaming monitor (every
    expression is per-row/stateless, so it applies unchanged to a
    streaming DataFrame).  ``keep`` lists the pass-through columns."""
    sw_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = ws_words("text")
    n_stop = F.size(F.expr(f"filter(toks, t -> t IN ({sw_list}))"))
    n_punct = F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", ""))
    # NULLIF guards: Spark 4 runs ANSI mode by default, so a bare x/0
    # *throws*; empty/null docs define all ratios as 0.0 in both engines.
    mean_wlen = F.expr(
        "COALESCE(CAST(aggregate(toks, 0L, (acc, t) -> acc + length(t)) AS DOUBLE)"
        " / NULLIF(size(toks), 0), 0.0)"
    )
    base = docs.select(
        *keep,
        "n_chars",
        toks.alias("toks"),
        n_punct.alias("n_punct"),
    ).select(
        *keep,
        F.coalesce(F.size("toks"), F.lit(0)).alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(
            F.coalesce(F.col("n_punct") / F.nullif("n_chars", F.lit(0)), F.lit(0.0)), 6
        ).alias("punct_ratio"),
        F.round(
            F.coalesce(n_stop / F.nullif(F.size("toks"), F.lit(0)), F.lit(0.0)), 6
        ).alias("stopword_ratio"),
    )
    score = F.round(
        0.4 * F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.col("stopword_ratio"),
        6,
    )
    return base.select(
        *keep, "n_tokens", "mean_word_len", "punct_ratio", "stopword_ratio",
        score.alias("quality_score"),
    )


QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS n_punct,
         n_chars
  FROM documents
),
feat AS (
  SELECT doc_id,
         COALESCE(len(toks), 0) AS n_tokens,
         ROUND(COALESCE(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / NULLIF(len(toks), 0), 0.0), 6) AS mean_word_len,
         ROUND(COALESCE(CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0), 0.0), 6) AS punct_ratio,
         ROUND(COALESCE(CAST(len(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in STOPWORDS)}))) AS DOUBLE) / NULLIF(len(toks), 0), 0.0), 6) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
       ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.3 * stopword_ratio, 6) AS quality_score
FROM feat
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    subword estimate (ceil(len/3) pieces per token — a deterministic
    stand-in for a real tokenizer's piece count)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_words("text").alias("toks"),
    ).select(
        "doc_id",
        F.coalesce(F.size("toks"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.size(F.array_distinct("toks")), F.lit(0)).alias("n_distinct"),
        F.coalesce(
            F.expr(
                "aggregate(toks, 0L, (acc, t) -> acc + CAST(ceil(length(t) / 3.0) AS LONG))"
            ),
            F.lit(0),
        ).alias("subword_est"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id,
       COALESCE(len(toks), 0) AS n_tokens,
       COALESCE(len(list_distinct(toks)), 0) AS n_distinct,
       CAST(COALESCE(list_sum(list_transform(toks, t -> CAST(ceil(length(t) / 3.0) AS BIGINT))), 0) AS BIGINT) AS subword_est
FROM (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite document fingerprints: hash every word 3-gram,
    keep hashes ≡ 0 (mod 16) — a deterministic ~1/16 sample that two
    similar documents select near-identically (the content-defined
    sampling idea behind MOSS/winnowing).  Emits per-doc fingerprint
    count + min/max for compact comparison."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
                )
            ).alias("s"),
        )
        .select("doc_id", hash32("s").alias("h"))
        .where(F.col("h") % FP_MOD == 0)
    )
    return sh.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.min("h").alias("min_fp"),
        F.max("h").alias("max_fp"),
    )


FINGERPRINT_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3
),
h AS (
  SELECT doc_id, {sql_hash32('s')} AS h FROM sh
)
SELECT doc_id, COUNT(*) AS n_fp, MIN(h) AS min_fp, MAX(h) AS max_fp
FROM h
WHERE h % {FP_MOD} = 0
GROUP BY doc_id
"""


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram frequencies (n-gram language statistics):
    one explode + one partial-agg-friendly groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(ws_words("text").alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1]))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


BIGRAM_SQL = """
SELECT t[i] || ' ' || t[i+1] AS bigram, COUNT(*) AS cnt
FROM (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), UNNEST(generate_series(1, len(t) - 1)) AS g(i)
WHERE len(t) >= 2
GROUP BY 1
"""


#: collocation mining: minimum pair support before a PMI score is
#: trustworthy (standard PMI-smoothing practice — rare pairs dominate
#: raw PMI by construction).
PMI_MIN_SUPPORT = 5


def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    word pairs, PMI = ln(p(ab) / (p(a)·p(b))) with p over bigram and
    unigram occurrence totals — the classic "which word pairs travel
    together" statistic (Church & Hanks 1990) used to surface multiword
    terms, template phrases, and tokenizer-merge candidates in corpus
    audits.  Only pairs with support >= PMI_MIN_SUPPORT are scored.

    Plan shape: unigram and bigram counts are one explode + partial-agg
    groupBy each; the support filter prunes the bigram relation BEFORE
    its two vocabulary joins (vocab-sized dims — broadcastable at any
    corpus scale since vocabulary grows ~log of corpus); the two corpus
    totals ride in as 1-row broadcasts.  The PMI expression is written
    with one parse shape in both engines, so the doubles are identical
    before the 6-dp round."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(ws_words("text").alias("toks"))
    uni = (
        words.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    n1 = uni.agg(F.sum("c_w").alias("n1"))
    big = (
        words.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
    )
    n2 = big.agg(F.sum("n_pair").alias("n2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("n_w2"))
    return (
        big.where(F.col("n_pair") >= PMI_MIN_SUPPORT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(
                F.expr(
                    "ln((CAST(n_pair AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))"
                    " / (CAST(n_w1 AS DOUBLE) * CAST(n_w2 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
                ),
                6,
            ).alias("pmi"),
        )
    )


PMI_BIGRAMS_SQL = f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
),
n1 AS (SELECT SUM(c_w) AS n1 FROM uni),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS n_pair
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2
),
n2 AS (SELECT SUM(n_pair) AS n2 FROM big)
SELECT b.w1, b.w2, b.n_pair, u1.c_w AS n_w1, u2.c_w AS n_w2,
       ROUND(ln((CAST(b.n_pair AS DOUBLE) * CAST(n1.n1 AS DOUBLE) * CAST(n1.n1 AS DOUBLE))
                / (CAST(u1.c_w AS DOUBLE) * CAST(u2.c_w AS DOUBLE) * CAST(n2.n2 AS DOUBLE))),
             6) AS pmi
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN n1 CROSS JOIN n2
WHERE b.n_pair >= {PMI_MIN_SUPPORT}
"""


WINNOW_WINDOW = 4


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True winnowing (MOSS-style rolling selection): hash every 3-gram
    shingle, then take the minimum hash of each sliding window of
    {WINNOW_WINDOW} consecutive shingles; the distinct window-minima are
    the document's fingerprints.  Guarantees a fingerprint in every
    window (gap-free coverage), unlike the mod-p sampling of
    doc_fingerprints.  One explode + a partitioned window frame + one
    distinct aggregate — no driver state."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 3 + WINNOW_WINDOW - 1)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
                )
            ).alias("i", "s"),
        )
        .select("doc_id", "i", hash32("s").alias("h"))
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, WINNOW_WINDOW - 1)
    )
    wdoc = Window.partitionBy("doc_id")
    wins = sh.select(
        "doc_id",
        "i",
        F.min("h").over(w).alias("fp"),
        F.max("i").over(wdoc).alias("max_i"),
    ).where(F.col("i") <= F.col("max_i") - (WINNOW_WINDOW - 1))
    return (
        wins.select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )


WINNOW_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, i, {sql_hash32("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= {3 + WINNOW_WINDOW - 1}
),
wins AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS fp,
         i,
         MAX(i) OVER (PARTITION BY doc_id) AS max_i
  FROM sh
)
SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= max_i - {WINNOW_WINDOW - 1})
GROUP BY doc_id
"""


def _bpe_case_expr() -> str:
    """Shared CASE mapping word -> frozen BPE token count (unknown words
    fall back to character count, the byte-level-tokenizer analog)."""
    from golang_mapreduce_spark.functions.bpe import BPE_COUNTS

    whens = " ".join(
        f"WHEN '{w}' THEN {n}" for w, n in sorted(BPE_COUNTS.items())
    )
    return f"CASE w {whens} ELSE length(w) END"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under a REAL trained BPE: a character
    BPE with deterministic tie-breaks is trained at import time on the
    corpus's closed vocabulary (functions/bpe.py), and the frozen
    word→token-count table is evaluated entirely JVM-side as a CASE over
    the token array — the closed-vocab form of broadcasting a tokenizer's
    merge table.  Zero shuffles: the whole query is a projection."""
    docs = load_table(spark, sf_dir, "documents")
    case = _bpe_case_expr()
    base = docs.select("doc_id", ws_words("text").alias("toks"))
    return base.select(
        "doc_id",
        F.coalesce(F.size("toks"), F.lit(0)).alias("n_words"),
        F.coalesce(
            F.expr(
                f"aggregate(transform(toks, w -> CAST(({case}) AS BIGINT)), "
                "0L, (acc, x) -> acc + x)"
            ),
            F.lit(0).cast("long"),
        ).alias("n_bpe_tokens"),
    )


BPE_TOKEN_SQL = f"""
SELECT doc_id,
       COALESCE(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), 0) AS n_words,
       CAST(COALESCE(list_sum(list_transform(
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
         w -> {_bpe_case_expr()})), 0) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def _bpe_dropout_case_expr() -> str:
    """Shared CASE mapping word -> BPE-DROPOUT token count (unknown
    words fall back to character count, as in _bpe_case_expr)."""
    from golang_mapreduce_spark.functions.bpe import BPE_DROPOUT_COUNTS

    whens = " ".join(
        f"WHEN '{w}' THEN {n}" for w, n in sorted(BPE_DROPOUT_COUNTS.items())
    )
    return f"CASE w {whens} ELSE length(w) END"


def subword_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under deterministic BPE-dropout
    (functions/bpe.py apply_merges_dropout — subword regularization with
    reproducible per-site skip decisions) next to the frozen-BPE counts,
    plus the inflation ratio a trainer uses to size batches when
    sampling segmentations.  Like bpe_token_stats, the whole query is a
    zero-shuffle projection: both word→count tables are closed-vocab
    CASE expressions inside codegen."""
    docs = load_table(spark, sf_dir, "documents")
    base_case = _bpe_case_expr()
    drop_case = _bpe_dropout_case_expr()
    counted = docs.select(
        "doc_id",
        "lang",
        ws_words("text").alias("toks"),
    ).select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_words"),
        F.expr(
            f"aggregate(transform(toks, w -> CAST(({base_case}) AS BIGINT)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("n_bpe_tokens"),
        F.expr(
            f"aggregate(transform(toks, w -> CAST(({drop_case}) AS BIGINT)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("n_sampled_tokens"),
    )
    return counted.where(F.col("n_bpe_tokens") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_bpe_tokens",
        "n_sampled_tokens",
        F.round(
            F.col("n_sampled_tokens") / F.col("n_bpe_tokens"), 6
        ).alias("inflation"),
    )


def _subword_sample_sql() -> str:
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    return f"""
WITH counted AS (
  SELECT doc_id, lang,
         len({toks}) AS n_words,
         CAST(list_sum(list_transform({toks}, w -> {_bpe_case_expr()})) AS BIGINT)
           AS n_bpe_tokens,
         CAST(list_sum(list_transform({toks}, w -> {_bpe_dropout_case_expr()})) AS BIGINT)
           AS n_sampled_tokens
  FROM documents
)
SELECT doc_id, lang, CAST(n_words AS INT) AS n_words, n_bpe_tokens,
       n_sampled_tokens,
       ROUND(n_sampled_tokens / n_bpe_tokens, 6) AS inflation
FROM counted
WHERE n_bpe_tokens > 0
"""


def quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality calibration: each document's quality score
    re-expressed as a z-score against its language's mean/stddev, plus a
    within-language quartile — raw quality scores are not comparable
    across languages (different stopword inventories, script-dependent
    punctuation rates), so corpus filtering thresholds must be
    per-language.

    Moments are exact: quality_score is a 6-dp quantity, so its square
    is an exactly-representable 12-dp quantity — SUM(DECIMAL(18,6)) /
    SUM(DECIMAL(28,12)) are bit-identical across engines and partition
    orders, and the z-score double math runs on identical inputs.  The
    per-language stats are a tiny broadcast; the only wide ops are one
    groupBy(lang) and the quartile window.  At 100 TB the NTILE's
    per-language global sort is the scale limit — swap in
    approx_percentile bucket boundaries there; the z-score path needs no
    change."""
    from pyspark.sql.window import Window

    qs = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = qs.join(lang, "doc_id")
    sum1 = "CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)"
    sum2 = (
        "CAST(SUM(CAST(quality_score * quality_score AS DECIMAL(28,12)))"
        " AS DOUBLE)"
    )
    stats = (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_lang"),
            F.expr(sum1).alias("s1"),
            F.expr(sum2).alias("s2"),
        )
        .select(
            "lang",
            F.expr("s1 / n_lang").alias("lang_mean"),
            # NULLIF: a single-document language has no sample variance —
            # NULL std (and NULL z-score) on both engines, instead of an
            # ANSI divide-by-zero error here and +inf in DuckDB
            # GREATEST(...,0): an all-identical-score language has exact
            # zero variance, but the double s1*s1/n_lang can land 1 ulp
            # above s2 — clamp so SQRT never sees a negative (Spark
            # would yield NaN, DuckDB would error: different failures)
            F.expr(
                "SQRT(GREATEST((s2 - s1 * s1 / n_lang)"
                " / NULLIF(n_lang - 1, 0), 0.0))"
            ).alias("lang_std"),
        )
    )
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    return (
        d.join(F.broadcast(stats), "lang")
        .select(
            "doc_id",
            "lang",
            "quality_score",
            F.round(
                F.expr("(quality_score - lang_mean) / NULLIF(lang_std, 0.0)"), 6
            ).alias("z_score"),
            F.ntile(4).over(w).alias("lang_quartile"),
        )
    )


QUALITY_CALIBRATED_SQL = f"""
WITH q AS (
  {QUALITY_SQL.strip()}
),
d AS (
  SELECT q.doc_id, documents.lang, q.quality_score
  FROM q JOIN documents USING (doc_id)
),
stats AS (
  SELECT lang, COUNT(*) AS n_lang,
         CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(quality_score * quality_score AS DECIMAL(28,12))) AS DOUBLE) AS s2
  FROM d GROUP BY lang
)
SELECT d.doc_id, d.lang, d.quality_score,
       ROUND((d.quality_score - s1 / n_lang)
             / NULLIF(SQRT(GREATEST((s2 - s1 * s1 / n_lang)
                                    / NULLIF(n_lang - 1, 0), 0.0)), 0.0), 6)
         AS z_score,
       NTILE(4) OVER (PARTITION BY d.lang
                      ORDER BY d.quality_score, d.doc_id) AS lang_quartile
FROM d JOIN stats USING (lang)
"""


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality signal (the CCNet-style perplexity
    filter): build the corpus's own unigram frequency table, score every
    document by its mean token surprisal −ln(count(t)/T), and expose a
    perplexity proxy exp(mean).  Low = in-distribution text, high =
    noise/outliers — the third quality axis next to heuristic scores and
    stopword ratios.

    Determinism: each distinct token's surprisal is rounded to 6 dp
    (double ln differs across engines by ≤1 ulp ≈ 1e-15, five orders
    inside the quantum — the same argument the cosine rounding makes),
    then per-doc totals sum the rounded values exactly as integer
    micro-units, so the mean is independent of addition order and
    engine.

    Scale shape (r16, the dsir docb pattern): ONE tokenization reduced
    to a persisted (doc_id, t, cnt) aggregate that feeds everything —
    the vocab and its total are re-groups of it and the scoring fold
    weights each distinct per-doc token by cnt (surprisal is constant
    per token, so SUM over occurrences == SUM(surprisal x cnt) over
    distinct per-doc tokens; COUNT(*) == SUM(cnt)).  The old form
    re-ran the tokenize+explode pass three times (vocab, the total's
    recomputation, the scoring join).  The shuffle carries three longs
    + a token per distinct (doc, token) — never the raw stream."""
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ws_words("text")).alias("t"))
    # Partitioned on t BEFORE the (doc_id, t) rollup (r17, VERDICT r16
    # #1: the r16 scan collapse traded scans for added exchanges):
    # HashPartitioning(t) satisfies the rollup's (doc_id, t) clustering,
    # the vocab re-group AND both sides of the surprisal join (vocab
    # inherits the t partitioning), so the only exchanges left are this
    # one and the final per-doc fold — the r16 form shuffled doct three
    # more times (vocab re-group + both join sides).
    doct = (
        tok.repartition("t")
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = doct.groupBy("t").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored_vocab = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.expr(
            "CAST(round(round(-ln(CAST(cnt AS DOUBLE) / total), 6) * 1000000) "
            "AS BIGINT)"
        ).alias("surprisal_u"),
    )
    out = (
        doct.join(scored_vocab, "t")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.expr(
                "round(CAST(SUM(surprisal_u * c) AS DOUBLE) / 1000000"
                " / SUM(c), 6)"
            ).alias("avg_surprisal"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_surprisal",
            F.round(F.exp("avg_surprisal"), 6).alias("ppl_proxy"),
        )
    )
    return with_shared_caches(out, doct)


DOC_PERPLEXITY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
),
vocab AS (
  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
),
sv AS (
  SELECT t,
         CAST(round(round(-ln(CAST(cnt AS DOUBLE) / total), 6) * 1000000) AS BIGINT)
           AS surprisal_u
  FROM vocab, tot
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         round(CAST(SUM(surprisal_u) AS DOUBLE) / 1000000 / COUNT(*), 6) AS avg_surprisal
  FROM tok JOIN sv USING (t)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_surprisal,
       round(exp(avg_surprisal), 6) AS ppl_proxy
FROM per_doc
"""


def perplexity_tail_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tercile split (Wenzek et al. 2020, §4.3):
    per LANGUAGE, rank documents by their LM surprisal and cut the
    corpus into head / middle / tail thirds — the standard
    quality-stratification a pipeline trains on (head+middle) or
    down-weights (tail).  Thresholds are the exact 1/3 and 2/3
    interpolated quantiles of the 6-dp-rounded per-doc surprisal within
    each language; assignment compares rounded values to rounded
    thresholds, so the bucket is engine-independent.

    Scale shape: the surprisal table is doc_perplexity's dataflow
    (token-keyed joins, micro-unit exact sums); the thresholds are a
    |langs|x2 aggregate broadcast back; the split itself is a stateless
    map-side CASE.  At 100 TB the exact per-group percentile becomes
    the approx_percentile sketch with a banded contract — same shape,
    sketch thresholds (the head/tail boundary tolerates epsilon-rank
    error by design)."""
    ppl_full = doc_perplexity(spark, sf_dir)
    ppl = ppl_full.select("doc_id", "avg_surprisal")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = docs.join(ppl, "doc_id")
    th = d.groupBy("lang").agg(
        F.round(F.expr("percentile(avg_surprisal, CAST(1.0/3 AS DOUBLE))"), 6).alias("t1"),
        F.round(F.expr("percentile(avg_surprisal, CAST(2.0/3 AS DOUBLE))"), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_surprisal") <= F.col("t1"), "head")
        .when(F.col("avg_surprisal") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    out = d.join(F.broadcast(th), "lang").select(
        "doc_id", "lang", "avg_surprisal", bucket.alias("bucket")
    )
    # propagate doc_perplexity's (doc_id, t, cnt) cache handle (r16);
    # from the PRE-projection result — .select() drops the attribute
    return with_shared_caches(out, ppl_full)


PERPLEXITY_TAIL_SQL = f"""
WITH pp AS (
  {DOC_PERPLEXITY_SQL.strip()}
),
th AS (
  SELECT d.lang,
         ROUND(quantile_cont(p.avg_surprisal, CAST(1.0/3 AS DOUBLE)), 6) AS t1,
         ROUND(quantile_cont(p.avg_surprisal, CAST(2.0/3 AS DOUBLE)), 6) AS t2
  FROM pp p JOIN documents d USING (doc_id)
  GROUP BY d.lang
)
SELECT p.doc_id, d.lang, p.avg_surprisal,
       CASE WHEN p.avg_surprisal <= t.t1 THEN 'head'
            WHEN p.avg_surprisal <= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM pp p
JOIN documents d USING (doc_id)
JOIN th t ON t.lang = d.lang
"""


#: Documents per pseudo-ingestion batch for the drift monitor.
DRIFT_BATCH = 100


def quality_drift_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift monitor: treat contiguous doc_id ranges of
    {DRIFT_BATCH} as ingestion batches and report, per (source, batch),
    the batch's document count, mean quality, and its delta vs the
    source's overall mean — the observability table a continuous
    pipeline alerts on (a crawler whose parser broke shows up as one
    source's quality falling off a cliff at a specific batch, long
    before corpus-level aggregates move).

    Scale shape: one quality scan feeds two partial-agg'd rollups —
    per (source, batch) and per source (tiny, broadcast back); means
    sum exact DECIMAL(18,6) over the rounded scores, so they are
    partition-order independent; output is O(sources × batches),
    i.e. O(corpus / {DRIFT_BATCH})."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(f"doc_id div {DRIFT_BATCH}").alias("batch")
    )
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    d = docs.join(q, "doc_id")
    avg_dec = F.expr(
        "round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)"
        " / COUNT(*), 6)"
    )
    per_batch = d.groupBy("source", "batch").agg(
        F.count("*").alias("n_docs"), avg_dec.alias("avg_quality")
    )
    per_src = d.groupBy("source").agg(avg_dec.alias("src_avg"))
    return per_batch.join(F.broadcast(per_src), "source").select(
        "source",
        "batch",
        "n_docs",
        "avg_quality",
        F.round(F.col("avg_quality") - F.col("src_avg"), 6).alias("delta_vs_source"),
    )


def _quality_drift_sql() -> str:
    return f"""
WITH q AS (
  {QUALITY_SQL.strip()}
),
d AS (
  SELECT doc.source, doc.doc_id // {DRIFT_BATCH} AS batch, q.quality_score
  FROM documents doc JOIN q ON q.doc_id = doc.doc_id
),
per_batch AS (
  SELECT source, batch, COUNT(*) AS n_docs,
         round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS avg_quality
  FROM d GROUP BY source, batch
),
per_src AS (
  SELECT source,
         round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS src_avg
  FROM d GROUP BY source
)
SELECT b.source, b.batch, b.n_docs, b.avg_quality,
       ROUND(b.avg_quality - s.src_avg, 6) AS delta_vs_source
FROM per_batch b JOIN per_src s USING (source)
"""


#: Per-language stopword inventory size (top-K most frequent tokens).
STOP_TOP_K = 20


def lang_stopword_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-aware stopword ratio: each language's stopword inventory
    is derived from the corpus itself — its {STOP_TOP_K} most frequent
    tokens (ties broken lexicographically) — and every document is scored
    by the fraction of its tokens that are in-inventory for ITS language.
    This replaces the global STOPWORDS list of quality_scores with the
    per-language inventories real quality filters use (a high-frequency
    function-word ratio is the classic fluency signal, cf. the CCNet/
    Gopher filtering stacks), making scores comparable across languages.

    Scale shape: the histogram is the canonical map-side-combined word
    count keyed (lang, token) — the shuffle carries one row per DISTINCT
    (lang, token) per partition, not per occurrence.  The top-K window
    runs over the per-language vocabulary (≪ corpus size; vocabularies
    grow ~Heaps' law, N^0.5).  The inventory (langs × K rows) broadcasts,
    so doc scoring is a map-side probe + one exchange keyed on doc_id
    carrying longs."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(ws_words("text")).alias("t"))
    hist = tok.groupBy("lang", "t").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("t"))
    inv = (
        hist.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STOP_TOP_K)
        .select("lang", "t", F.lit(1).alias("is_stop"))
    )
    return (
        tok.join(F.broadcast(inv), ["lang", "t"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("is_stop"), F.lit(0)))
            .cast("bigint")
            .alias("n_stop"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_stop",
            F.round(
                F.col("n_stop").cast("double") / F.col("n_tokens"), 6
            ).alias("stop_ratio"),
        )
    )


LANG_STOPWORD_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
),
hist AS (
  SELECT lang, t, COUNT(*) AS cnt FROM tok GROUP BY lang, t
),
inv AS (
  SELECT lang, t FROM (
    SELECT lang, t,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, t) AS rk
    FROM hist
  ) WHERE rk <= {STOP_TOP_K}
)
SELECT tok.doc_id, tok.lang,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN inv.t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stop,
       ROUND(CAST(SUM(CASE WHEN inv.t IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS stop_ratio
FROM tok LEFT JOIN inv ON tok.lang = inv.lang AND tok.t = inv.t
GROUP BY tok.doc_id, tok.lang
"""


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher/MassiveText
    repetition heuristics): per document, the fraction of word bigrams
    that are repeats of an earlier bigram (dup_ratio) and the share of
    the single most frequent bigram (top_share).  Machine-generated and
    boilerplate-heavy text scores high on both; the thresholds are the
    classic pre-training repetition cut.

    Scale shape: bigrams are hashed immediately (the shuffle carries
    (doc_id, hash64, count), never strings), the per-(doc, bigram) count
    partial-aggregates map-side, and the per-doc fold is a second
    partial-agg'd exchange on doc_id — both shuffles linear in distinct
    bigrams, not occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1]))"
                )
            ).alias("bg"),
        )
        .select("doc_id", hash32("bg").alias("h"))
    )
    per = bg.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_bigrams"), 6
            ).alias("dup_ratio"),
            F.round(
                F.col("top_count").cast("double") / F.col("n_bigrams"), 6
            ).alias("top_share"),
        )
    )


DOC_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, {sql_hash32("t[i] || ' ' || t[i+1]")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
per AS (
  SELECT doc_id, h, COUNT(*) AS c FROM bg GROUP BY doc_id, h
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_ratio,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share
FROM per
GROUP BY doc_id
"""


#: BM25 retrieval constants (standard Robertson/Sparck-Jones defaults)
#: and a fixed query drawn from the fixture vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("data", "key", "value")
BM25_TOP = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval: rank documents against a fixed keyword query
    by BM25 — the inverted-index scoring a corpus-scale search/dedup
    triage layer runs (tf saturation via k1, length normalization via
    b).  Emits the top {BM25_TOP} docs with their rounded score and the
    number of query terms matched.

    Determinism: tf/df/doc-length are integers, avgdl is one exact
    division, and each term's partial score is rounded to 6 dp then
    summed as integer micro-units, so the total is independent of
    addition order and engine; final ranking ties break on doc_id.

    Scale shape: the term-frequency pass filters to query tokens AT THE
    SCAN (the explode stream is pruned before any shuffle), df is a
    |query|-row broadcast, corpus stats a 1-row broadcast — so scoring
    is one exchange keyed on doc_id carrying a handful of longs, and
    the global top-k is window-over-tiny after per-partition cuts."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    q_list = ", ".join(f"'{t}'" for t in BM25_QUERY)
    toks = docs.select("doc_id", ws_words("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("tot_dl"),
        )
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("t"))
        .where(F.expr(f"t IN ({q_list})"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df = F.broadcast(tf.groupBy("t").agg(F.count("*").alias("df")))
    term_u = (
        "CAST(round(round("
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * (tf * ({BM25_K1} + 1.0))"
        f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
        " * (CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / n_docs))))"
        ", 6) * 1000000) AS BIGINT)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(df, "t")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms"),
            F.expr(
                f"round(CAST(SUM({term_u}) AS DOUBLE) / 1000000, 6)"
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.select(
        "doc_id", "n_terms", "score", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= BM25_TOP)


BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl
),
tf AS (
  SELECT doc_id, u.t, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS t FROM toks) u
  WHERE u.t IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
  GROUP BY doc_id, u.t
),
df AS (
  SELECT t, COUNT(*) AS df FROM tf GROUP BY t
),
scored AS (
  SELECT tf.doc_id,
         CAST(COUNT(*) AS INT) AS n_terms,
         round(CAST(SUM(
           CAST(round(round(
             ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}
                * (CAST(dl.dl AS DOUBLE) / (CAST(s.tot_dl AS DOUBLE) / s.n_docs))))
           , 6) * 1000000) AS BIGINT)
         ) AS DOUBLE) / 1000000, 6) AS score
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df ON df.t = tf.t
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, score, rank FROM (
  SELECT doc_id, n_terms, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
WHERE rank <= {BM25_TOP}
"""


#: Interpolation weight on the bigram probability (0.3 stays on the
#: unigram); first tokens (no history) score on the unigram alone.
PPL_LAMBDA = 0.7


def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-interpolated LM perplexity — the stronger form of the
    doc_perplexity quality signal: each token's surprisal is
    −ln(λ·P(w|prev) + (1−λ)·P(w)) with both probabilities estimated from
    the corpus itself (P(w|prev) = c(prev,w)/c(prev,·)); a document of
    common words in UNCOMMON ORDER now scores high, which the unigram
    model cannot see.  First tokens back off to the unigram.

    Determinism: the same recipe as doc_perplexity — every distinct
    (prev, w) context's surprisal is rounded to 6 dp once, then per-doc
    totals sum integer micro-units, so results are independent of
    addition order and engine.

    Scale shape (r16, the dsir docb pattern): the (prev, w) pair stream
    comes straight off the token array (no window/self-join) and is
    immediately reduced to a persisted (doc_id, prev, t, cnt) aggregate
    that feeds everything — unigram, bigram and context counts are
    re-groups of it, and the scoring fold weights each distinct per-doc
    context by cnt (the surprisal is constant per (prev, t), so the
    occurrence sum equals the cnt-weighted sum).  The old form re-ran
    the tokenize + explode pass for every consumer (uni, tot, big, ctx,
    scored — up to five).  Scoring joins hash-partition on the
    pair/token keys and the per-doc fold is one exchange of longs."""
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 1), i -> "
                    "struct(CASE WHEN i = 0 THEN NULL ELSE toks[i - 1] END AS prev, "
                    "toks[i] AS t))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.t").alias("t"))
    )
    # Partitioned on t BEFORE the (doc_id, prev, t) rollup (r17, VERDICT
    # r16 #1 — the same trade as doc_perplexity): HashPartitioning(t)
    # satisfies the rollup's clustering, the uni re-group, the
    # (prev, t) bigram re-group AND the scoring joins' t side, so the
    # docp-sized stream is shuffled exactly twice (build + per-doc
    # fold).  The context total cc rides ON the bigram relation via a
    # window over prev (|bigrams| rows shuffled on prev, then brought
    # back to t) instead of a separate ctx join that re-shuffled the
    # whole docp-sized scored stream on prev.  Skew note: a hot prev
    # ("the") puts its distinct-t row group in one window task — bounded
    # by vocab size, and strictly better than the old shape, which
    # shuffled the same hot key on the much larger per-DOC stream.
    docp = (
        pairs.repartition("t")
        .groupBy("doc_id", "prev", "t")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = docp.groupBy("t").agg(F.sum("c").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("total"))
    big = (
        docp.where(F.col("prev").isNotNull())
        .groupBy("prev", "t")
        .agg(F.sum("c").alias("cb"))
        .withColumn("cc", F.sum("cb").over(Window.partitionBy("prev")))
        .repartition("t")
    )
    # unigram-only surprisal for first tokens; interpolated otherwise
    s_uni = (
        "CAST(round(round(-ln((1.0 - " + str(PPL_LAMBDA) + ")"
        " * (CAST(cu AS DOUBLE) / total)"
        " + " + str(PPL_LAMBDA) + " * (CAST(cb AS DOUBLE) / cc)), 6)"
        " * 1000000) AS BIGINT)"
    )
    s_first = (
        "CAST(round(round(-ln(CAST(cu AS DOUBLE) / total), 6)"
        " * 1000000) AS BIGINT)"
    )
    scored = (
        docp.join(uni, "t")
        .join(big, ["prev", "t"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c",
            F.expr(
                f"CASE WHEN prev IS NULL THEN {s_first} ELSE {s_uni} END"
            ).alias("s_u"),
        )
    )
    out = (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.expr(
                "round(CAST(SUM(s_u * c) AS DOUBLE) / 1000000 / SUM(c), 6)"
            ).alias("avg_surprisal"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_surprisal",
            F.round(F.exp("avg_surprisal"), 6).alias("ppl_proxy"),
        )
    )
    return with_shared_caches(out, docp)


DOC_PPL_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN NULL ELSE tk[i - 1] END AS prev,
         tk[i] AS t
  FROM toks, UNNEST(generate_series(1, len(tk))) AS g(i)
  WHERE len(tk) >= 1
),
uni AS (
  SELECT t, COUNT(*) AS cu FROM pairs GROUP BY t
),
tot AS (
  SELECT CAST(SUM(cu) AS BIGINT) AS total FROM uni
),
big AS (
  SELECT prev, t, COUNT(*) AS cb FROM pairs WHERE prev IS NOT NULL GROUP BY prev, t
),
ctx AS (
  SELECT prev, CAST(SUM(cb) AS BIGINT) AS cc FROM big GROUP BY prev
),
scored AS (
  SELECT p.doc_id,
         CASE WHEN p.prev IS NULL THEN
           CAST(round(round(-ln(CAST(u.cu AS DOUBLE) / tot.total), 6)
                * 1000000) AS BIGINT)
         ELSE
           CAST(round(round(-ln((1.0 - {PPL_LAMBDA}) * (CAST(u.cu AS DOUBLE) / tot.total)
                + {PPL_LAMBDA} * (CAST(b.cb AS DOUBLE) / c.cc)), 6)
                * 1000000) AS BIGINT)
         END AS s_u
  FROM pairs p
  JOIN uni u ON u.t = p.t
  LEFT JOIN big b ON b.prev = p.prev AND b.t = p.t
  LEFT JOIN ctx c ON c.prev = p.prev
  CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(s_u) AS DOUBLE) / 1000000 / COUNT(*), 6) AS avg_surprisal,
       round(exp(round(CAST(SUM(s_u) AS DOUBLE) / 1000000 / COUNT(*), 6)), 6)
         AS ppl_proxy
FROM scored
GROUP BY doc_id
"""


VOCAB_TOP = 30


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction readout: the corpus's
    {VOCAB_TOP} most frequent tokens with each token's share and the
    CUMULATIVE coverage — the curve a tokenizer team reads to pick a
    vocab size (where cum_share flattens, bigger vocabularies stop
    paying).  Frequencies are the canonical map-side-combined word
    count.

    Scale shape: the top-k is ``orderBy().limit(k)`` — compiled to
    TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
    never a single-partition sort of the vocabulary relation (Heaps'
    law makes the vocab ~N^0.5 of the corpus, still billions of keys at
    100 TB).  The rank and cumulative sum then run over ONLY the k-row
    prefix, where they equal the global windows restricted to
    rank <= k because both orders coincide; the join_skew_diagnostics
    pattern (skew.py)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(ws_words("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
    )
    total = F.broadcast(vocab.agg(F.sum("cnt").alias("total")))
    topk = vocab.orderBy(F.desc("cnt"), F.asc("t")).limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("t"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_cnt", F.sum("cnt").over(wc))
        .crossJoin(total)
        .select(
            F.col("t").alias("token"),
            "rank",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cum_cnt") / F.col("total"), 6).alias("cum_share"),
        )
    )


VOCAB_TOPK_SQL = f"""
WITH vocab AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
),
freq AS (
  SELECT t, COUNT(*) AS cnt FROM vocab GROUP BY t
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq
),
ranked AS (
  SELECT t, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, t
                        ROWS UNBOUNDED PRECEDING) AS cum_cnt
  FROM freq
)
SELECT t AS token, rank, cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(cum_cnt AS DOUBLE) / total, 6) AS cum_share
FROM ranked, tot
WHERE rank <= {VOCAB_TOP}
"""


TRIGRAM_TOP = 5


def char_trigram_lang_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile: each language's
    {TRIGRAM_TOP} most frequent char 3-grams with in-language share —
    the feature table an n-gram language identifier is TRAINED on
    (lang_id_heuristic consumes fixed rules; this builds the data the
    rules come from).  Trigrams come off the raw text by substring
    index arithmetic — no tokenization dependency, which is the point
    for scripts without whitespace.

    Shape: one exchange keyed (lang, trigram) with map-side combine
    (distinct trigrams per partition, not occurrences), per-lang totals
    as a tiny broadcast, top-k window over per-language trigram
    vocabularies (bounded by charset³)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tri = (
        docs.where(F.length("text") >= 3)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2), "
                    "i -> substring(text, i, 3))"
                )
            ).alias("tg"),
        )
        .groupBy("lang", "tg")
        .agg(F.count("*").alias("cnt"))
    )
    totals = F.broadcast(
        tri.groupBy("lang").agg(F.sum("cnt").alias("lang_total"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tg"))
    return (
        tri.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TRIGRAM_TOP)
        .join(totals, "lang")
        .select(
            "lang",
            "rank",
            F.col("tg").alias("trigram"),
            "cnt",
            F.round(F.col("cnt") / F.col("lang_total"), 6).alias("share"),
        )
    )


CHAR_TRIGRAM_SQL = f"""
WITH tri AS (
  SELECT lang, substr(text, CAST(i AS INT), 3) AS tg
  FROM documents, UNNEST(generate_series(1, length(text) - 2)) AS g(i)
  WHERE length(text) >= 3
),
freq AS (
  SELECT lang, tg, COUNT(*) AS cnt FROM tri GROUP BY lang, tg
),
tot AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS lang_total FROM freq GROUP BY lang
),
ranked AS (
  SELECT lang, tg, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tg) AS rank
  FROM freq
)
SELECT r.lang, r.rank, r.tg AS trigram, r.cnt,
       ROUND(CAST(r.cnt AS DOUBLE) / t.lang_total, 6) AS share
FROM ranked r JOIN tot t USING (lang)
WHERE r.rank <= {TRIGRAM_TOP}
"""


# --- length histogram + hashed-feature linear quality model ------------

#: Hashed-feature linear model: D weight buckets; the weight of bucket i
#: is a fixed integer in [-500, 500] derived by Knuth multiplicative
#: hashing — a deterministic stand-in for trained fasttext-style
#: classifier weights (same feature extraction, same serving plan; swap
#: the weight expression for a broadcast weight table when a trained
#: model exists).
QMODEL_D = 256
QMODEL_MULT = 2654435761  # Knuth's 2^32 / phi


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, log2-bucket) document length distribution — the
    length-shape audit run before choosing packing budgets and truncation
    limits.  bucket = number of binary digits of n_chars (i.e.
    floor(log2) + 1) computed by string length of `bin()`, which both
    engines implement with exact integer semantics — floating log2 at a
    power-of-two boundary is engine-dependent, so it is avoided.

    Scale: one narrow projection + one tiny aggregate; output cardinality
    is |langs| x ~64 buckets max."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            "n_chars",
            F.length(F.expr("bin(n_chars)")).alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn(
            # expr form: the Python shiftleft() wrapper takes only a
            # literal shift count, the SQL function takes a column
            "bucket_lo",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)"),
        )
        .select(
            "lang", "bucket", "bucket_lo", "n_docs", "total_chars",
            "min_chars", "max_chars",
        )
    )


DOC_LENGTH_HIST_SQL = """
SELECT lang,
       CAST(length(bin(n_chars)) AS INT) AS bucket,
       (1::BIGINT << (CAST(length(bin(n_chars)) AS INT) - 1)) AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY 1, 2, 3
"""


def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality score per document — the
    fasttext-shaped classifier serving path: token -> hash bucket ->
    integer weight, summed per doc, thresholded into keep/drop.

    The entire scoring is ONE higher-order-function expression inside
    whole-stage codegen: no explode, no shuffle, no Python — per-doc
    cost is O(tokens) map-side, so the operator is a stateless scan at
    any corpus size (contrast explode + groupBy, which would shuffle one
    row per token).  Integer sums are exact cross-engine; the mean is
    one double division rounded to 6 dp at the end."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (
        f"(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {QMODEL_D})"
        f" * {QMODEL_MULT} % 1001 - 500"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            ws_words("text").alias("toks"),
        )
        .select(
            "doc_id",
            "lang",
            F.size("toks").alias("n_toks"),
            F.expr(
                f"aggregate(transform(toks, t -> {weight}),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("score_sum"),
        )
        .where(F.col("n_toks") > 0)
        .select(
            "doc_id",
            "lang",
            "n_toks",
            "score_sum",
            F.round(F.col("score_sum") / F.col("n_toks"), 6).alias("mean_score"),
            F.when(F.col("score_sum") >= 0, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
        )
    )


QUALITY_LINEAR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang, len(t) AS n_toks,
         CAST(list_sum(list_transform(t, tk ->
           ((('0x' || substr(md5(tk), 1, 8))::BIGINT % {QMODEL_D})
            * {QMODEL_MULT}) % 1001 - 500)) AS BIGINT) AS score_sum
  FROM toks
  WHERE len(t) > 0
)
SELECT doc_id, lang, CAST(n_toks AS INT) AS n_toks, score_sum,
       ROUND(score_sum / n_toks, 6) AS mean_score,
       CASE WHEN score_sum >= 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM scored
"""


#: Iglewicz-Hoaglin modified z-score: 0.6745 scales MAD to sigma-units
#: under normality; |Mz| > 3.5 is their recommended outlier cut.
MAD_SCALE = 0.6745
MAD_CUT = 3.5


def robust_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) quality-score outliers per language — the
    Iglewicz-Hoaglin modified z-score |0.6745·(s-median)/MAD| > 3.5.
    hourly_anomalies z-scores against mean/std, which the outliers
    themselves drag; a quality gate tuned on contaminated corpora needs
    the breakdown-resistant form — median and MAD survive up to 50%
    arbitrary corruption, so the cut stays put while the mean-based one
    chases the junk it should be flagging.

    Two-phase per-lang aggregation: exact interpolated percentile for
    the median (a per-group sort — languages are few, and at 100 TB the
    same plan runs on a per-lang approx sketch first to shrink the sort
    input), a join back for |s - median|, a second percentile for MAD,
    then a map-side flag.  All double math on engine-identical rounded
    inputs, the advanced.py percentile convention."""
    scores = quality_linear_score(spark, sf_dir).select(
        "doc_id", "lang", "mean_score"
    )
    med = scores.groupBy("lang").agg(
        F.expr("percentile(mean_score, 0.5)").alias("med")
    )
    dev = scores.join(med, "lang").select(
        "doc_id", "lang", "mean_score", "med",
        F.abs(F.col("mean_score") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("lang").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    mz = F.round(
        F.lit(MAD_SCALE)
        * (F.col("mean_score") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0)),
        6,
    )
    return (
        dev.join(mad, "lang")
        .select("doc_id", "lang", "mean_score", mz.alias("modified_z"))
        .where(F.abs(F.col("modified_z")) > MAD_CUT)
    )


ROBUST_QUALITY_SQL = f"""
WITH scores AS (
  SELECT doc_id, lang, mean_score FROM ({QUALITY_LINEAR_SQL.strip()})
),
med AS (
  SELECT lang, quantile_cont(mean_score, 0.5) AS med FROM scores GROUP BY lang
),
dev AS (
  SELECT s.doc_id, s.lang, s.mean_score, m.med,
         ABS(s.mean_score - m.med) AS adev
  FROM scores s JOIN med m USING (lang)
),
mad AS (
  SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang
)
SELECT d.doc_id, d.lang, d.mean_score,
       ROUND({MAD_SCALE} * (d.mean_score - d.med) / NULLIF(a.mad, 0.0), 6)
         AS modified_z
FROM dev d JOIN mad a USING (lang)
WHERE ABS(ROUND({MAD_SCALE} * (d.mean_score - d.med) / NULLIF(a.mad, 0.0), 6))
      > {MAD_CUT}
"""


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation-based sentence segmentation stats per document:
    sentence count, mean and max sentence length in characters — the
    sentence-shape signal quality filters use alongside token ratios
    (wall-of-text and listicle-fragment docs sit at the two tails).

    Segmentation is split-on-[.!?]+ then trim-and-drop-empties,
    expressed entirely in codegen'd array functions (split / transform /
    filter / aggregate) — one narrow map-side pass, no explode, no
    shuffle beyond reading.  Both engines trim the plain space character
    only, so the fragment sets are identical."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split("text", r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )
    return (
        docs.select("doc_id", "lang", sents.alias("sents"))
        .select(
            "doc_id",
            "lang",
            F.size("sents").alias("n_sentences"),
            F.expr(
                "aggregate(sents, CAST(0 AS BIGINT), (acc, s) -> acc + length(s))"
            ).alias("total_chars"),
            F.expr(
                "aggregate(sents, CAST(0 AS INT), (acc, s) -> greatest(acc, length(s)))"
            ).alias("max_sentence_chars"),
        )
        .where(F.col("n_sentences") > 0)
        .select(
            "doc_id",
            "lang",
            "n_sentences",
            F.round(F.col("total_chars") / F.col("n_sentences"), 6).alias(
                "mean_sentence_chars"
            ),
            "max_sentence_chars",
        )
    )


SENTENCE_STATS_SQL = """
WITH sents AS (
  SELECT doc_id, lang,
         list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    s -> trim(s)),
                     s -> s <> '') AS ss
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(ss) AS INT) AS n_sentences,
       ROUND(CAST(list_sum(list_transform(ss, s -> length(s))) AS BIGINT)
             / len(ss), 6) AS mean_sentence_chars,
       CAST(list_max(list_transform(ss, s -> length(s))) AS INT)
         AS max_sentence_chars
FROM sents
WHERE len(ss) > 0
"""


#: Novelty curve: corpus position buckets of this many doc_ids each.
NOVELTY_BUCKET = 50
NOVELTY_NGRAM = 3


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity-saturation curve: walk the corpus in doc_id
    order in fixed-width buckets and report, per bucket, how many
    distinct {NOVELTY_NGRAM}-gram types appear vs how many are NEW
    (first occurrence anywhere in the corpus falls in this bucket) —
    the curve that says when additional crawl stops adding novel
    content (novelty_rate decaying toward 0 = saturated source).

    Scale shape: one shuffle keyed on the 64-bit n-gram hash (uniform,
    unskewed) computes first-occurrence docs via an algebraic MIN; the
    per-bucket distinct count shuffles (bucket, hash) pairs.  Both
    aggregates are partial-agg'd; the result is O(corpus/bucket) rows.
    n-gram strings never shuffle — hashes only."""
    docs = load_table(spark, sf_dir, "documents")
    from golang_mapreduce_spark.operators.dedup import _shingles

    ng = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= NOVELTY_NGRAM)
        .select("doc_id", F.explode(_shingles(NOVELTY_NGRAM)).alias("g"))
        .select("doc_id", hash32("g").alias("h"))
    )
    bucket = F.expr(f"doc_id div {NOVELTY_BUCKET}")
    distinct_in_bucket = (
        ng.select(bucket.alias("bucket"), "h")
        .distinct()
        .groupBy("bucket")
        .agg(F.count("*").alias("n_distinct"))
    )
    new_in_bucket = (
        ng.groupBy("h")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(F.expr(f"first_doc div {NOVELTY_BUCKET}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new"))
    )
    nn = F.coalesce(F.col("n_new"), F.lit(0))
    # left join: a late bucket may contain ONLY already-seen n-grams
    # (n_new = 0) — exactly the saturation signal the curve exists for
    return distinct_in_bucket.join(new_in_bucket, "bucket", "left").select(
        "bucket",
        "n_distinct",
        nn.cast("bigint").alias("n_new"),
        F.round(nn / F.col("n_distinct"), 6).alias("novelty_rate"),
    )


NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
ng AS (
  SELECT doc_id,
         {sql_hash32("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {NOVELTY_NGRAM - 1})) AS u(i)
  WHERE len(t) >= {NOVELTY_NGRAM}
),
dib AS (
  SELECT doc_id // {NOVELTY_BUCKET} AS bucket, COUNT(DISTINCT h) AS n_distinct
  FROM ng GROUP BY 1
),
nib AS (
  SELECT first_doc // {NOVELTY_BUCKET} AS bucket, COUNT(*) AS n_new
  FROM (SELECT h, MIN(doc_id) AS first_doc FROM ng GROUP BY h)
  GROUP BY 1
)
SELECT bucket, n_distinct,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       ROUND(CAST(COALESCE(n_new, 0) AS DOUBLE) / n_distinct, 6) AS novelty_rate
FROM dib LEFT JOIN nib USING (bucket)
"""


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit: per language, total words, total BPE
    tokens under the trained merge table, and tokens-per-word — the
    number a tokenizer team tracks per language to catch under-served
    scripts (fertility >> 1 means the vocab fragments that language,
    inflating its effective sequence lengths and training cost; the
    metric behind per-language vocab budgeting).

    Scale shape: bpe_token_stats' zero-shuffle projection (frozen
    word -> token-count CASE evaluated JVM-side) followed by ONE
    partial-agg'd exchange on the tiny lang key; exact integer sums,
    a single rounded division at the end."""
    docs = load_table(spark, sf_dir, "documents")
    case = _bpe_case_expr()
    base = docs.select(
        "lang",
        ws_words("text").alias("toks"),
    ).select(
        "lang",
        F.coalesce(F.size("toks"), F.lit(0)).cast("bigint").alias("w"),
        F.coalesce(
            F.expr(
                f"aggregate(transform(toks, w -> CAST(({case}) AS BIGINT)), "
                "0L, (acc, x) -> acc + x)"
            ),
            F.lit(0).cast("long"),
        ).alias("t"),
    )
    return base.groupBy("lang").agg(
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("t").cast("bigint").alias("n_bpe_tokens"),
        # NULLIF: a language of empty/whitespace docs has 0 words; under
        # ANSI mode a bare 0/0 would fail the job instead of yielding NULL
        F.round(F.sum("t") / F.nullif(F.sum("w"), F.lit(0)), 6).alias("fertility"),
    )


BPE_FERTILITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         COALESCE(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), 0) AS w,
         CAST(COALESCE(list_sum(list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
           w -> {{CASE}})), 0) AS BIGINT) AS t
  FROM documents
)
SELECT lang,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(t) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(t) AS DOUBLE) / NULLIF(SUM(w), 0), 6) AS fertility
FROM per_doc
GROUP BY lang
"""


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1), adapted to the
#: fixture corpus scale (the paper's 50-token floor would drop everything
#: at sf0.001; the RULE SET and accounting shape are what production
#: keeps, the constants are per-corpus tuning).
GOPHER_MIN_TOKENS = 5
GOPHER_MAX_TOKENS = 100_000
GOPHER_WLEN_LO, GOPHER_WLEN_HI = 2.0, 12.0
GOPHER_MIN_STOPWORDS = 2     # distinct stopwords that must appear
GOPHER_MIN_ALPHA = 0.8       # share of tokens containing a letter
GOPHER_MAX_SYMBOL = 0.1      # share of tokens carrying '#' or '...'


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-RULE drop accounting for the Gopher quality heuristics (Rae
    et al. 2021 §A1.1): one row per rule with the count of documents it
    fails, plus an ``any_rule`` row (docs failing >= 1 rule) and a
    ``kept`` row — the filter-observability table a pipeline inspects
    BEFORE committing a rule set, so a mis-tuned threshold that would
    silently delete a language or source shows up as a count, not as a
    missing corpus.  Complements quality_scores (a blended score) and
    doc_repetition_scores (the repetition tier of the same paper's
    rules).

    Rules: token-count bounds, mean-word-length band, >= {n} distinct
    stopwords, alphabetic-token share, symbol-token share.

    Scale shape: one scan, all flags are per-row JVM expressions, the
    aggregate is a single 8-value row (partial-agg'd map-side), and the
    unpivot runs on that one row — no shuffle wider than one row, so
    the plan is identical at sf0.001 and 100 TB.  Empty docs hit the
    ratio guards (NULLIF -> 0.0) rather than ANSI division errors."""
    docs = load_table(spark, sf_dir, "documents")
    sw_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = ws_words("text")
    base = docs.select(toks.alias("toks")).select(
        F.coalesce(F.size("toks"), F.lit(0)).alias("n_tokens"),
        F.round(
            F.expr(
                "COALESCE(CAST(aggregate(toks, 0L, (acc, t) -> acc + length(t)) AS DOUBLE)"
                " / NULLIF(size(toks), 0), 0.0)"
            ),
            6,
        ).alias("mean_wlen"),
        F.size(
            F.expr(f"array_distinct(filter(toks, t -> t IN ({sw_list})))")
        ).alias("n_stop_distinct"),
        F.round(
            F.expr(
                "COALESCE(CAST(size(filter(toks, t -> t RLIKE '[A-Za-z]')) AS DOUBLE)"
                " / NULLIF(size(toks), 0), 0.0)"
            ),
            6,
        ).alias("alpha_frac"),
        F.round(
            F.expr(
                "COALESCE(CAST(size(filter(toks, t -> t LIKE '%#%' OR t LIKE '%...%'))"
                " AS DOUBLE) / NULLIF(size(toks), 0), 0.0)"
            ),
            6,
        ).alias("symbol_frac"),
    )
    flags = base.select(
        (F.col("n_tokens") < GOPHER_MIN_TOKENS).cast("long").alias("too_short"),
        (F.col("n_tokens") > GOPHER_MAX_TOKENS).cast("long").alias("too_long"),
        (
            (F.col("mean_wlen") < GOPHER_WLEN_LO)
            | (F.col("mean_wlen") > GOPHER_WLEN_HI)
        ).cast("long").alias("bad_mean_word_len"),
        (F.col("n_stop_distinct") < GOPHER_MIN_STOPWORDS).cast("long").alias(
            "low_stopword"
        ),
        (F.col("alpha_frac") < GOPHER_MIN_ALPHA).cast("long").alias("low_alpha"),
        (F.col("symbol_frac") > GOPHER_MAX_SYMBOL).cast("long").alias("symbol_heavy"),
    ).withColumn(
        "any_rule",
        F.greatest(
            "too_short", "too_long", "bad_mean_word_len",
            "low_stopword", "low_alpha", "symbol_heavy",
        ),
    )
    agg = flags.agg(
        F.sum("too_short").alias("too_short"),
        F.sum("too_long").alias("too_long"),
        F.sum("bad_mean_word_len").alias("bad_mean_word_len"),
        F.sum("low_stopword").alias("low_stopword"),
        F.sum("low_alpha").alias("low_alpha"),
        F.sum("symbol_heavy").alias("symbol_heavy"),
        F.sum("any_rule").alias("any_rule"),
        (F.count("*") - F.sum("any_rule")).alias("kept"),
    )
    return agg.select(
        F.expr(
            "stack(8,"
            " 'too_short', too_short,"
            " 'too_long', too_long,"
            " 'bad_mean_word_len', bad_mean_word_len,"
            " 'low_stopword', low_stopword,"
            " 'low_alpha', low_alpha,"
            " 'symbol_heavy', symbol_heavy,"
            " 'any_rule', any_rule,"
            " 'kept', kept) AS (rule, n_docs)"
        )
    )


GOPHER_RULES_SQL = f"""
WITH base AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
feat AS (
  SELECT COALESCE(len(toks), 0) AS n_tokens,
         ROUND(COALESCE(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / NULLIF(len(toks), 0), 0.0), 6) AS mean_wlen,
         len(list_distinct(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in STOPWORDS)})))) AS n_stop_distinct,
         ROUND(COALESCE(CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
               / NULLIF(len(toks), 0), 0.0), 6) AS alpha_frac,
         ROUND(COALESCE(CAST(len(list_filter(toks, t -> t LIKE '%#%' OR t LIKE '%...%')) AS DOUBLE)
               / NULLIF(len(toks), 0), 0.0), 6) AS symbol_frac
  FROM base
),
flags AS (
  SELECT CASE WHEN n_tokens < {GOPHER_MIN_TOKENS} THEN 1 ELSE 0 END AS too_short,
         CASE WHEN n_tokens > {GOPHER_MAX_TOKENS} THEN 1 ELSE 0 END AS too_long,
         CASE WHEN mean_wlen < {GOPHER_WLEN_LO} OR mean_wlen > {GOPHER_WLEN_HI} THEN 1 ELSE 0 END AS bad_mean_word_len,
         CASE WHEN n_stop_distinct < {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS low_stopword,
         CASE WHEN alpha_frac < {GOPHER_MIN_ALPHA} THEN 1 ELSE 0 END AS low_alpha,
         CASE WHEN symbol_frac > {GOPHER_MAX_SYMBOL} THEN 1 ELSE 0 END AS symbol_heavy
  FROM feat
),
agg AS (
  SELECT CAST(SUM(too_short) AS BIGINT) AS too_short,
         CAST(SUM(too_long) AS BIGINT) AS too_long,
         CAST(SUM(bad_mean_word_len) AS BIGINT) AS bad_mean_word_len,
         CAST(SUM(low_stopword) AS BIGINT) AS low_stopword,
         CAST(SUM(low_alpha) AS BIGINT) AS low_alpha,
         CAST(SUM(symbol_heavy) AS BIGINT) AS symbol_heavy,
         CAST(SUM(GREATEST(too_short, too_long, bad_mean_word_len,
                           low_stopword, low_alpha, symbol_heavy)) AS BIGINT) AS any_rule,
         CAST(COUNT(*) - SUM(GREATEST(too_short, too_long, bad_mean_word_len,
                                      low_stopword, low_alpha, symbol_heavy)) AS BIGINT) AS kept
  FROM flags
)
SELECT rule, n_docs FROM (
  SELECT 'too_short' AS rule, too_short AS n_docs FROM agg
  UNION ALL SELECT 'too_long', too_long FROM agg
  UNION ALL SELECT 'bad_mean_word_len', bad_mean_word_len FROM agg
  UNION ALL SELECT 'low_stopword', low_stopword FROM agg
  UNION ALL SELECT 'low_alpha', low_alpha FROM agg
  UNION ALL SELECT 'symbol_heavy', symbol_heavy FROM agg
  UNION ALL SELECT 'any_rule', any_rule FROM agg
  UNION ALL SELECT 'kept', kept FROM agg
)
"""


#: OOV audit: the "tokenizer vocabulary" is the corpus's own top-K
#: unigrams (deterministic rank: count DESC, token ASC) — a stand-in
#: for a frozen tokenizer vocab, which production swaps in verbatim.
OOV_VOCAB_K = 100


def oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against a frozen top-{K}
    vocabulary — the tokenizer-fit audit: a language whose OOV rate is
    high is fragmented into rare pieces by the vocab (inflated sequence
    lengths, degraded loss), the per-language signal behind vocab
    budgeting next to bpe_fertility_by_lang's piece counts.

    Scale shape: the vocab pass is the canonical map-side-combined word
    count; the top-K rank runs on the aggregate-small vocab relation
    (same bounded-window argument as source_token_concentration) and
    the K-row membership table broadcasts into the token stream — the
    big side is one scan + one partial-agg'd exchange on lang."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tok = docs.select("lang", F.explode(ws_words("text")).alias("t"))
    counts = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("t"))
    vocab = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= OOV_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


OOV_RATE_SQL = f"""
WITH tok AS (
  SELECT lang, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
),
counts AS (
  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
),
vocab AS (
  SELECT t FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rk FROM counts
  ) WHERE rk <= {OOV_VOCAB_K}
)
SELECT lang,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (t)
GROUP BY lang
"""


def ngram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per source — the corpus-diversity
    readout: a templated/boilerplate-heavy source concentrates its
    token mass on few types and scores low, natural text scores near
    the corpus ceiling; pipelines alert on entropy DROPS per ingest
    batch (a crawler stuck on one page family).  Sits next to
    doc_repetition_scores (within-doc) as the across-docs diversity
    axis.

    Determinism: each distinct (source, token) contributes
    round(-p*ln(p), 6) summed as exact integer micro-units — the
    doc_perplexity convention, making the sum independent of addition
    order and engine ulp differences.

    Scale shape: one explode, one map-side-combined (source, token)
    count, the per-source total by a second tiny aggregate, and the
    entropy fold is one exchange on source carrying micro-unit longs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(ws_words("text")).alias("t"))
    counts = tok.groupBy("source", "t").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("source").agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_distinct")
    )
    return (
        counts.join(totals, "source")
        .select(
            "source",
            "total",
            "n_distinct",
            F.expr(
                "CAST(round(round(-(CAST(cnt AS DOUBLE) / total)"
                " * ln(CAST(cnt AS DOUBLE) / total), 6) * 1000000) AS BIGINT)"
            ).alias("term_u"),
        )
        .groupBy("source")
        .agg(
            F.first("total").cast("bigint").alias("n_tokens"),
            F.first("n_distinct").cast("bigint").alias("n_distinct"),
            F.expr("round(CAST(SUM(term_u) AS DOUBLE) / 1000000, 6)").alias(
                "entropy"
            ),
        )
    )


NGRAM_ENTROPY_SQL = """
WITH tok AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
),
counts AS (
  SELECT source, t, COUNT(*) AS cnt FROM tok GROUP BY source, t
),
totals AS (
  SELECT source, SUM(cnt) AS total, COUNT(*) AS n_distinct
  FROM counts GROUP BY source
)
SELECT c.source,
       CAST(MIN(total) AS BIGINT) AS n_tokens,
       CAST(MIN(n_distinct) AS BIGINT) AS n_distinct,
       ROUND(CAST(SUM(CAST(ROUND(ROUND(-(CAST(cnt AS DOUBLE) / total)
                 * ln(CAST(cnt AS DOUBLE) / total), 6) * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000, 6) AS entropy
FROM counts c JOIN totals USING (source)
GROUP BY c.source
"""


# --- character coverage audit (round 9) ----------------------------------

#: integer-thousandths coverage target (999 = 99.9%), kept as integer so
#: the threshold comparison is exact integer arithmetic in both engines
CHAR_COVERAGE_PERMILLE = 999


def char_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary design census, per language: the number of
    distinct characters, total character occurrences, and the size of
    the smallest character set covering {CHAR_COVERAGE_PERMILLE}/1000
    of all occurrences — the `character_coverage` knob every
    SentencePiece/BPE training run sets blind; this measures it.  A
    lang whose 99.9% cover needs hundreds of characters (CJK) gets a
    different vocab budget than one needing dozens (Latin).

    Scale shape: the per-character explode is O(corpus bytes) rows but
    collapses immediately into a partial-agg'd groupBy(lang, char) —
    the shuffle carries |langs| x |alphabet| rows, not characters; the
    rank/cumulative pass is a window over that tiny aggregate.  The
    coverage threshold compares cum*1000 >= target*total in BIGINT, so
    the cut is exact integer math in both engines (no float boundary).
    Ties rank by (count desc, char asc) for a total order."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # length > 0 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead
    # of being empty like DuckDB's generate_series, so an empty text
    # would contribute two phantom empty-string "characters" (caught by
    # the adversarial edge corpus); NULL texts drop on both engines
    chars = docs.where(F.length("text") > 0).select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    freq = chars.groupBy("lang", "ch").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("ch"))
    ranked = freq.select(
        "lang",
        "n",
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = freq.groupBy("lang").agg(
        F.sum("n").alias("total_chars"), F.count("*").alias("distinct_chars")
    )
    return (
        ranked.join(tot, "lang")
        .where(
            F.col("cum") * F.lit(1000)
            >= F.lit(CHAR_COVERAGE_PERMILLE) * F.col("total_chars")
        )
        .groupBy("lang", "distinct_chars", "total_chars")
        .agg(F.min("rk").alias("chars_for_999"))
        .select(
            "lang",
            F.col("distinct_chars").cast("bigint").alias("distinct_chars"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
            F.col("chars_for_999").cast("bigint").alias("chars_for_999"),
        )
    )


CHAR_COVERAGE_SQL = f"""
WITH chars AS (
  SELECT lang, substr(text, i, 1) AS ch
  FROM documents, UNNEST(generate_series(1, len(text))) AS g(i)
),
freq AS (
  SELECT lang, ch, COUNT(*) AS n FROM chars GROUP BY lang, ch
),
ranked AS (
  SELECT lang, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, ch ASC) AS rk,
         SUM(n) OVER (PARTITION BY lang ORDER BY n DESC, ch ASC
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM freq
),
tot AS (
  SELECT lang, SUM(n) AS total_chars, COUNT(*) AS distinct_chars
  FROM freq GROUP BY lang
)
SELECT r.lang,
       CAST(t.distinct_chars AS BIGINT) AS distinct_chars,
       CAST(t.total_chars AS BIGINT) AS total_chars,
       CAST(MIN(r.rk) AS BIGINT) AS chars_for_999
FROM ranked r JOIN tot t USING (lang)
WHERE r.cum * 1000 >= {CHAR_COVERAGE_PERMILLE} * t.total_chars
GROUP BY r.lang, t.distinct_chars, t.total_chars
"""



# --- Count-Min-Sketch heavy hitters (round 9, batch 2) --------------------

CMS_ROWS = 4       # independent hash rows
CMS_WIDTH = 1024   # buckets per row
CMS_TOPK = 20      # heavy hitters reported


def cms_bucket_ids() -> F.Column:
    """The CMS_ROWS bucket ids of column ``tok``, one per hash row, as an
    int array: row i hashes ``tok || '#cms<i>'`` into CMS_WIDTH buckets.
    The batch sketch and the streaming cells both posexplode it into
    (row_i, bucket)."""
    return F.array(
        *[
            (hash32(F.concat(F.col("tok"), F.lit(f"#cms{i}"))) % CMS_WIDTH).cast("int")
            for i in range(CMS_ROWS)
        ]
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch (Cormode & Muthukrishnan 2005) frequency
    estimation, audited against truth: the
    corpus's {CMS_TOPK} most frequent tokens with their exact counts,
    the CMS estimate (min over {CMS_ROWS} hash rows of {CMS_WIDTH}
    buckets), and the collision overestimate — the sketch a 100 TB
    pipeline ships per shard and merges (cell-wise BIGINT add) instead
    of shuffling a billion-row token relation, plus the audit that
    calibrates its width.  CMS never underestimates, so overestimate
    >= 0 is a structural invariant (pinned by test).

    Scale shape: cells are built from the per-token partial counts
    (the map-side-combine form — identical cell values to per-occurrence
    increments, since bucket sums commute), so the shuffle carries
    {CMS_ROWS} x {CMS_WIDTH} cells, not occurrences.  The top-k is
    TakeOrderedAndProject; the estimate join touches k x {CMS_ROWS}
    rows against the tiny cell relation.  Hashing is the md5-derived
    hash32 both engines share."""
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(ws_words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
    )
    cells = (
        exact.select("exact_n", F.posexplode(cms_bucket_ids()).alias("row_i", "bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.sum("exact_n").alias("cell_n"))
    )
    top = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(CMS_TOPK)
    probes = top.select(
        "tok", "exact_n", F.posexplode(cms_bucket_ids()).alias("row_i", "bucket")
    )
    return (
        probes.join(cells, ["row_i", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cell_n").alias("cms_estimate"))
        .select(
            "tok",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_n"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


def _cms_bucket_sql(i: int) -> str:
    expr = f"tok || '#cms{i}'"
    return f"({sql_hash32(expr)} % {CMS_WIDTH})"


def _cms_sql() -> str:
    bucket_rows = "\n    UNION ALL ".join(
        f"SELECT tok, exact_n, {i} AS row_i, {_cms_bucket_sql(i)} AS bucket FROM exact"
        for i in range(CMS_ROWS)
    )
    return f"""
WITH exact AS (
  SELECT tok, COUNT(*) AS exact_n
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
  GROUP BY tok
),
buckets AS (
  {bucket_rows}
),
cells AS (
  SELECT row_i, bucket, SUM(exact_n) AS cell_n
  FROM buckets GROUP BY row_i, bucket
),
top AS (
  SELECT tok, exact_n FROM exact
  ORDER BY exact_n DESC, tok ASC LIMIT {CMS_TOPK}
),
probes AS (
  {bucket_rows.replace("FROM exact", "FROM top")}
)
SELECT p.tok,
       CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(c.cell_n) AS BIGINT) AS cms_estimate,
       CAST(MIN(c.cell_n) - p.exact_n AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON c.row_i = p.row_i AND c.bucket = p.bucket
GROUP BY p.tok, p.exact_n
"""



# --- cross-language vocabulary overlap (round 9, batch 2) -----------------

VOCAB_OVERLAP_TOP = 100


def lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of the per-language top-{VOCAB_OVERLAP_TOP}
    token vocabularies — the multilingual-mixing diagnostic: languages
    whose head vocabularies overlap heavily (script sharing, code-mixed
    corpora, or a mislabeled-lang pipeline bug) can share tokenizer
    budget, while near-zero overlap says per-lang vocab partitions are
    safe.  Complements char_coverage_audit (characters) at the token
    level and oov_rate_by_lang (which needs a reference vocab; this is
    reference-free).

    Scale shape: token counts partial-agg on (lang, token); the top-V
    per lang is one window rank over that aggregate; the pair join is
    an equi-join on token over |langs| x V rows (tiny at any corpus
    size) with |langs|^2 output.  Jaccard denominators use each lang's
    ACTUAL head size (< V when a lang has fewer distinct tokens), so
    the ratio is well-defined on small strata too."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(ws_words("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    head = counts.select(
        "lang", "tok", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= VOCAB_OVERLAP_TOP)
    sizes = head.groupBy("lang").agg(F.count("*").alias("vsize"))
    a = head.select(F.col("lang").alias("lang_a"), "tok")
    b = head.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("vsize").alias("va"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("vsize").alias("vb"))
    return (
        sa.join(sb, sa.lang_a < sb.lang_b)
        .join(inter, ["lang_a", "lang_b"], "left")
        .select(
            "lang_a",
            "lang_b",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / (F.col("va") + F.col("vb") - F.coalesce("n_common", F.lit(0))),
                6,
            ).alias("vocab_jaccard"),
        )
    )


LANG_VOCAB_OVERLAP_SQL = f"""
WITH counts AS (
  SELECT lang, tok, COUNT(*) AS n
  FROM (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
  GROUP BY lang, tok
),
head AS (
  SELECT lang, tok
  FROM (
    SELECT lang, tok,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rk
    FROM counts
  ) WHERE rk <= {VOCAB_OVERLAP_TOP}
),
sizes AS (
  SELECT lang, COUNT(*) AS vsize FROM head GROUP BY lang
),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
  FROM head a JOIN head b ON a.tok = b.tok AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT sa.lang AS lang_a, sb.lang AS lang_b,
       CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / (sa.vsize + sb.vsize - COALESCE(i.n_common, 0)), 6)
         AS vocab_jaccard
FROM sizes sa
JOIN sizes sb ON sa.lang < sb.lang
LEFT JOIN inter i ON i.lang_a = sa.lang AND i.lang_b = sb.lang
"""



# --- HyperLogLog distinct-count audit (round 9, batch 4) -------------------

HLL_BUCKETS = 256          # m: registers per sketch
HLL_RANK_CAP = 25          # 24 payload bits + 1
#: alpha_256 * m^2, embedded as ONE Python-formatted double literal in
#: both engines (the spark-graft shared-constant convention)
HLL_EST_NUM = 47072.71267120224


def hll_registers(toks: DataFrame) -> DataFrame:
    """The HLL register relation (source, bucket, m) of a batch or
    streaming (source, tok) frame: per hash bucket, the MAX leading-zero
    rank of the top 24 hash bits, capped at HLL_RANK_CAP for all-zero
    bits."""
    h = hash32("tok")
    w = (h / F.lit(HLL_BUCKETS)).cast("bigint")  # top 24 bits
    rank = F.when(w == 0, F.lit(HLL_RANK_CAP)).otherwise(
        F.lit(HLL_RANK_CAP) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        toks.select("source", (h % HLL_BUCKETS).cast("int").alias("bucket"),
                    rank.alias("rank"))
        .groupBy("source", "bucket")
        .agg(F.max("rank").alias("m"))
    )


def hll_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimates per source, audited against
    the exact count — the OTHER canonical mergeable sketch next to
    cms_heavy_hitters (Flajolet et al. 2007): registers are
    max-leading-zero ranks per hash bucket, so per-shard sketches merge
    by element-wise MAX — the 100 TB way to keep per-source vocabulary
    cardinalities without a COUNT(DISTINCT) shuffle.  Register powers
    2^-M are exact doubles whose sum is order-independent (26-bit
    magnitude span); the standard small-range linear-counting branch
    (raw E <= 2.5m with empty registers: E = m*ln(m/V)) applies, its
    ln taken on an engine-identical quotient of exact integers — the
    same accepted transcendental convention as the entropy oracles.

    Scale shape: one explode + one (source, bucket) partial-agg'd MAX —
    the shuffle carries at most |sources| x {HLL_BUCKETS} register
    rows; the exact side (the audit column) is the only part that
    wouldn't scale, which is the point the rel_error column makes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(ws_words("text")).alias("tok"))
    sums = hll_registers(toks).groupBy("source").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m")))
            + (F.lit(HLL_BUCKETS) - F.count("*"))  # empty registers: 2^0
        ).alias("sum_pow"),
        (F.lit(HLL_BUCKETS) - F.count("*")).cast("double").alias("v_empty"),
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    raw = F.lit(HLL_EST_NUM) / F.col("sum_pow")
    est = F.when(
        (F.col("v_empty") > 0) & (raw <= F.lit(2.5 * HLL_BUCKETS)),
        F.lit(float(HLL_BUCKETS))
        * F.log(F.lit(float(HLL_BUCKETS)) / F.col("v_empty")),
    ).otherwise(raw)
    return sums.join(exact, "source").select(
        "source",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.round(est, 4).alias("hll_estimate"),
        F.round(
            (est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_error"),
    )


HLL_DISTINCT_SQL = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT source, tok, {H32} AS h FROM toks
),
reg AS (
  SELECT source, CAST(h % {m} AS INT) AS bucket,
         MAX(CASE WHEN h // {m} = 0 THEN {cap}
                  ELSE {cap} - length(printf('%b', h // {m})) END) AS m
  FROM hashed GROUP BY source, h % {m}
),
sums AS (
  SELECT source,
         SUM(POWER(2.0, -m)) + ({m} - COUNT(*)) * 1.0 AS sum_pow,
         CAST({m} - COUNT(*) AS DOUBLE) AS v_empty
  FROM reg GROUP BY source
),
est AS (
  SELECT source,
         CASE WHEN v_empty > 0 AND ({est} / sum_pow) <= 2.5 * {m}
              THEN {m}.0 * ln({m}.0 / v_empty)
              ELSE {est} / sum_pow END AS e
  FROM sums
),
exact AS (
  SELECT source, COUNT(DISTINCT tok) AS exact_distinct FROM toks GROUP BY source
)
SELECT s.source,
       CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
       ROUND(s.e, 4) AS hll_estimate,
       ROUND((s.e - x.exact_distinct) / x.exact_distinct, 6) AS rel_error
FROM est s JOIN exact x USING (source)
""".format(H32=sql_hash32("tok"), m=HLL_BUCKETS, cap=HLL_RANK_CAP,
           est=repr(HLL_EST_NUM))



# --- quality quantile normalization (round 9, batch 7) ----------------------

QNORM_PERMILLE = 1000  # anchor resolution for the global quantile table


def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of quality scores: each doc's
    within-source percentile position is mapped onto the GLOBAL score
    distribution via a {QNORM_PERMILLE}-anchor quantile table — the
    batch-effect correction that makes quality thresholds comparable
    across sources whose scorers drift (a 0.6 from a clean wiki source
    and a 0.6 from a boilerplate-heavy crawl mean different things;
    after normalization both read as "the score a doc at this
    within-source rank would have globally").

    Scale shape: the within-source rank is a per-source window (source
    partitions balance); the global side is ONE aggregate producing the
    anchor array (exact interpolated percentile here; at 100 TB swap
    approx_percentile with the same anchor grid — the mapping machinery
    is unchanged), broadcast as {QNORM_PERMILLE}+1 rows.  The permille
    bucket is integer arithmetic on engine-identical doubles, so the
    anchor lookup is an exact equi-join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    scored = docs.join(q, "doc_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    ).select(
        "doc_id",
        "source",
        "quality_score",
        F.round(
            (F.col("rk") - F.lit(0.5)) / F.col("n_src") * QNORM_PERMILLE, 0
        ).cast("int").alias("pm"),
    )
    ps = [i / QNORM_PERMILLE for i in range(QNORM_PERMILLE + 1)]
    anchors = (
        q.agg(
            F.expr(
                "percentile(quality_score, array("
                + ", ".join(repr(p) for p in ps)
                + "))"
            ).alias("qs")
        )
        .select(F.posexplode("qs").alias("pm", "anchor"))
    )
    return ranked.join(F.broadcast(anchors), "pm").select(
        "doc_id",
        "source",
        F.round("quality_score", 6).alias("quality_score"),
        F.round("anchor", 6).alias("normalized_score"),
    )


def _qnorm_sql() -> str:
    ps = ", ".join(
        repr(i / QNORM_PERMILLE) for i in range(QNORM_PERMILLE + 1)
    )
    return f"""
WITH q AS (
  {QUALITY_SQL.strip()}
),
scored AS (
  SELECT d.doc_id, d.source, q.quality_score
  FROM documents d JOIN q USING (doc_id)
),
ranked AS (
  SELECT doc_id, source, quality_score,
         CAST(ROUND((ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY quality_score, doc_id)
                     - 0.5)
                    / COUNT(*) OVER (PARTITION BY source)
                    * {QNORM_PERMILLE}, 0) AS INT) AS pm
  FROM scored
),
anchors AS (
  SELECT UNNEST(generate_series(0, {QNORM_PERMILLE})) AS pm,
         UNNEST(quantile_cont(quality_score, [{ps}])) AS anchor
  FROM q
)
SELECT r.doc_id, r.source,
       ROUND(r.quality_score, 6) AS quality_score,
       ROUND(a.anchor, 6) AS normalized_score
FROM ranked r JOIN anchors a USING (pm)
"""



# --- distributed BPE merge round (round 10) --------------------------------

MERGE_TOP = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE training round: the corpus-frequency-weighted
    adjacent character-pair counts whose argmax IS the first merge a
    byte-pair tokenizer would learn (functions/bpe.py train_merges — the
    in-memory trainer this op is the cluster-scale twin of; the trainer
    uses unit word frequency over a closed vocab, this counts every
    corpus occurrence, which is what real tokenizer training does).
    Emits the top {MERGE_TOP} candidates with rank — the table a
    tokenizer team reads per merge round.

    Scale shape: word counting is the canonical map-side-combined word
    count (the vocab relation is ~N^0.5 of the corpus by Heaps' law);
    pair explosion runs over the VOCAB relation, not the corpus — each
    distinct word contributes len(word)-1 pairs weighted by its corpus
    count, so the pair relation is bounded by vocab mass, then one
    partial-agg'd pair count and a TakeOrderedAndProject top-k.
    Overlapping pairs count per adjacent index ('aaa' yields (a,a)
    twice), matching the trainer's Counter loop."""
    docs = load_table(spark, sf_dir, "documents")
    wfreq = (
        docs.select(F.explode(ws_words("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wcnt"))
    )
    pairs = wfreq.where(F.length("w") >= 2).select(
        "wcnt",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    cand = pairs.groupBy("pair").agg(
        F.sum("wcnt").cast("bigint").alias("pair_count")
    )
    topk = cand.orderBy(F.desc("pair_count"), F.asc("pair")).limit(MERGE_TOP)
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return topk.select(
        "pair", F.row_number().over(w).alias("rank"), "pair_count"
    )


BPE_MERGE_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
),
wfreq AS (
  SELECT w, COUNT(*) AS wcnt FROM toks GROUP BY w
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, wcnt
  FROM wfreq, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) s
  WHERE length(w) >= 2
),
cand AS (
  SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
),
ranked AS (
  SELECT pair, pair_count,
         CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT) AS rank
  FROM cand
)
SELECT pair, rank, pair_count FROM ranked WHERE rank <= {MERGE_TOP}
"""


# --- Zipf rank-frequency slope (round 10) -----------------------------------

ZIPF_TOP = 100


def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit: ordinary least squares of ln(freq) on
    ln(rank) over each language's top-{ZIPF_TOP} tokens.  Natural text
    sits near slope -1; a corpus whose slope drifts (boilerplate, spam,
    template floods) fails the census before anyone trains on it.
    Emits slope, intercept, and r² per language.

    Exactness: x=ln(rank) and y=ln(cnt) round to 9 dp then accumulate
    as DECIMAL(19,9) / DECIMAL(38,18) (order-free exact sums, the
    embedding_dim_stats discipline), so the closed-form OLS reads the
    same doubles in both engines; outputs round to 6 dp.  r² is NULL
    when the frequency column is constant (zero variance), identically
    in both engines via NULLIF.

    Scale shape: token counting is map-side combined; the per-lang
    top-k ranks run a window over the VOCAB relation (~N^0.5 of corpus
    mass) partitioned by lang — at extreme scale a pushed frequency
    floor (cnt >= c) prunes the vocab tail before the window without
    touching the top-{ZIPF_TOP}; the regression is then a 5-sum
    partial agg over <= {ZIPF_TOP} rows per language."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(ws_words("text")).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("t"))
    ranked = freq.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= ZIPF_TOP
    )
    xy = ranked.select(
        "lang",
        F.round(F.log(F.col("rank").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("y"),
    )
    sums = xy.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(x AS DECIMAL(19,9)))").alias("sx"),
        F.expr("SUM(CAST(y AS DECIMAL(19,9)))").alias("sy"),
        F.expr("SUM(CAST(x * x AS DECIMAL(38,18)))").alias("sxx"),
        F.expr("SUM(CAST(x * y AS DECIMAL(38,18)))").alias("sxy"),
        F.expr("SUM(CAST(y * y AS DECIMAL(38,18)))").alias("syy"),
    )
    return sums.where(F.col("n") >= 3).select(
        "lang",
        F.col("n").cast("bigint").alias("n_ranks"),
        F.expr(
            "ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
        ).alias("zipf_slope"),
        F.expr(
            "ROUND((CAST(sy AS DOUBLE)"
            " - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            "   / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "   * CAST(sx AS DOUBLE)) / n, 6)"
        ).alias("intercept"),
        F.expr(
            "ROUND(POW(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)"
            " / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "    * NULLIF(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 6)"
        ).alias("r2"),
    )


ZIPF_SLOPE_SQL = f"""
WITH freq AS (
  SELECT lang, t, COUNT(*) AS cnt
  FROM (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
  )
  GROUP BY lang, t
),
ranked AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, t) AS rank
  FROM freq
),
xy AS (
  SELECT lang,
         ROUND(LN(CAST(rank AS DOUBLE)), 9) AS x,
         ROUND(LN(CAST(cnt AS DOUBLE)), 9) AS y
  FROM ranked WHERE rank <= {ZIPF_TOP}
),
sums AS (
  SELECT lang, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(19,9))) AS sx,
         SUM(CAST(y AS DECIMAL(19,9))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
         SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
         SUM(CAST(y * y AS DECIMAL(38,18))) AS syy
  FROM xy GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_ranks,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE)
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
       ROUND(POW(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * NULLIF(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 6)
         AS r2
FROM sums WHERE n >= 3
"""


# --- Jensen-Shannon divergence between sources (round 10) -------------------

JS_TOPV = 200
LN2 = float.fromhex("0x1.62e42fefa39efp-1")  # math.log(2), shared literal


def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the per-source
    unigram distributions (each source restricted to its top-{JS_TOPV}
    tokens, renormalized) — the mixture-design distance matrix: which
    sources are redundant (JSD ~ 0), which add genuinely new text
    (JSD ~ ln 2).  js_normalized divides by ln 2, so 1.0 = disjoint.

    Algebraic decomposition (the reason this never materializes a
    full-outer join per pair): for tokens in only one distribution the
    JSD term is p·ln2/2, so
      JSD = ln2/2 · (2 − sharedMassA − sharedMassB) + Σ_{{t∈A∩B}} cross(t)
    needs ONLY the intersection join plus each pair's shared mass.
    The pair skeleton (|sources|² rows, both sides broadcast) left-joins
    the intersection aggregate, so disjoint pairs emit exactly ln 2.

    Scale shape: per-source top-V caps every distribution at {JS_TOPV}
    rows, so the token-keyed intersection join carries <= V·|sources|
    rows and the per-pair aggregate is bounded by V — constant in
    corpus size once the (map-side combined) token counts exist.
    Exactness: probabilities and JSD terms round to 9 dp then sum as
    DECIMAL (order-free); ln 2 is one shared Python-formatted literal
    in both plans."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(ws_words("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("t"))
    top = freq.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= JS_TOPV
    )
    tot = top.groupBy("source").agg(F.sum("cnt").alias("tot"))
    probs = top.join(tot, "source").select(
        "source", "t", (F.col("cnt") / F.col("tot")).alias("p")
    )
    a = probs.select(
        F.col("source").alias("source_a"), "t", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "t", F.col("p").alias("pb")
    )
    inter = (
        a.join(b, "t")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_common_tokens"),
            F.expr("SUM(CAST(ROUND(pa, 9) AS DECIMAL(19,9)))").alias("ma"),
            F.expr("SUM(CAST(ROUND(pb, 9) AS DECIMAL(19,9)))").alias("mb"),
            F.expr(
                "SUM(CAST(ROUND(0.5 * (pa * LN(2 * pa / (pa + pb))"
                " + pb * LN(2 * pb / (pa + pb))), 9) AS DECIMAL(19,9)))"
            ).alias("cross_term"),
        )
    )
    srcs = docs.select("source").distinct()
    skel = (
        F.broadcast(srcs.select(F.col("source").alias("source_a")))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("source_b"))))
        .where(F.col("source_a") < F.col("source_b"))
    )
    joined = skel.join(inter, ["source_a", "source_b"], "left")
    jsd = (
        F.lit(LN2) / 2
        * (
            F.lit(2.0)
            - F.coalesce(F.col("ma").cast("double"), F.lit(0.0))
            - F.coalesce(F.col("mb").cast("double"), F.lit(0.0))
        )
        + F.coalesce(F.col("cross_term").cast("double"), F.lit(0.0))
    )
    return joined.select(
        "source_a",
        "source_b",
        F.coalesce("n_common_tokens", F.lit(0).cast("bigint")).alias(
            "n_common_tokens"
        ),
        F.round(jsd, 6).alias("js_divergence"),
        F.round(jsd / F.lit(LN2), 6).alias("js_normalized"),
    )


JS_DIVERGENCE_SQL = f"""
WITH freq AS (
  SELECT source, t, COUNT(*) AS cnt
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
  )
  GROUP BY source, t
),
top AS (
  SELECT source, t, cnt
  FROM (
    SELECT source, t, cnt,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, t) AS rank
    FROM freq
  ) WHERE rank <= {JS_TOPV}
),
tot AS (
  SELECT source, SUM(cnt) AS tot FROM top GROUP BY source
),
probs AS (
  SELECT top.source, t, CAST(cnt AS DOUBLE) / tot AS p
  FROM top JOIN tot ON top.source = tot.source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_tokens,
         SUM(CAST(ROUND(a.p, 9) AS DECIMAL(19,9))) AS ma,
         SUM(CAST(ROUND(b.p, 9) AS DECIMAL(19,9))) AS mb,
         SUM(CAST(ROUND(0.5 * (a.p * LN(2 * a.p / (a.p + b.p))
                               + b.p * LN(2 * b.p / (a.p + b.p))), 9)
                  AS DECIMAL(19,9))) AS cross_term
  FROM probs a JOIN probs b ON a.t = b.t AND a.source < b.source
  GROUP BY a.source, b.source
),
skel AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM (SELECT DISTINCT source FROM documents) a,
       (SELECT DISTINCT source FROM documents) b
  WHERE a.source < b.source
)
SELECT skel.source_a, skel.source_b,
       COALESCE(n_common_tokens, 0) AS n_common_tokens,
       ROUND({LN2!r} / 2 * (2.0 - COALESCE(CAST(ma AS DOUBLE), 0.0)
                                - COALESCE(CAST(mb AS DOUBLE), 0.0))
             + COALESCE(CAST(cross_term AS DOUBLE), 0.0), 6) AS js_divergence,
       ROUND(({LN2!r} / 2 * (2.0 - COALESCE(CAST(ma AS DOUBLE), 0.0)
                                 - COALESCE(CAST(mb AS DOUBLE), 0.0))
              + COALESCE(CAST(cross_term AS DOUBLE), 0.0)) / {LN2!r}, 6)
         AS js_normalized
FROM skel LEFT JOIN inter
  ON skel.source_a = inter.source_a AND skel.source_b = inter.source_b
"""


# --- Heaps'-law vocabulary growth fit (round 10) ----------------------------

HEAPS_BUCKETS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve + Heaps'-law fit: cumulative distinct
    tokens after each doc_id-ordered decile of the corpus, with the
    log-log OLS exponent β of V = K·nᵝ (natural text sits near
    β ≈ 0.5) — Zipf's companion corpus-law audit: a β that climbs
    toward 1 means the crawl is ingesting unbounded novel junk (random
    strings, ids); β collapsing toward 0 means it's re-crawling what it
    already has.

    Scale shape: decile boundaries come from ONE global percentile
    aggregate over the ids-only relation (a 1-row broadcast — never a
    global sort/ntile window); each token's FIRST bucket is a min
    aggregate over the exploded relation; the curve and the OLS then
    run over exactly {HEAPS_BUCKETS} rows.  Exactness: the OLS reuses
    the zipf_slope discipline (ln values rounded to 9 dp, order-free
    DECIMAL sums); boundaries use the engines' shared
    linear-interpolation percentile."""
    docs = load_table(spark, sf_dir, "documents")
    ps = [i / HEAPS_BUCKETS for i in range(1, HEAPS_BUCKETS)]
    bounds = docs.agg(
        F.expr(
            "percentile(doc_id, array(" + ", ".join(repr(p) for p in ps) + "))"
        ).alias("bs")
    )
    bucket = sum(
        (F.col("doc_id") > F.col("bs")[i]).cast("int") for i in range(len(ps))
    ) + F.lit(1)
    bucketed = docs.crossJoin(F.broadcast(bounds)).select(
        "doc_id", bucket.alias("bucket"), ws_words("text").alias("toks")
    )
    docs_per = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).alias("n_tokens"),
    )
    first_bucket = (
        bucketed.select("bucket", F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.min("bucket").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("new_vocab"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        docs_per.join(
            first_bucket.withColumnRenamed("b", "bucket"), "bucket", "left"
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
        )
        .select(
            "bucket",
            F.sum("n_docs").over(w).alias("cum_docs"),
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum("new_vocab").over(w).alias("cum_vocab"),
        )
    )
    xy = curve.where((F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)).select(
        "bucket",
        "cum_docs",
        "cum_tokens",
        "cum_vocab",
        F.round(F.log(F.col("cum_tokens").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 9).alias("y"),
    )
    fit = xy.agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(x AS DECIMAL(19,9)))").alias("sx"),
        F.expr("SUM(CAST(y AS DECIMAL(19,9)))").alias("sy"),
        F.expr("SUM(CAST(x * x AS DECIMAL(38,18)))").alias("sxx"),
        F.expr("SUM(CAST(x * y AS DECIMAL(38,18)))").alias("sxy"),
    ).select(
        # NULLIF guards the degenerate all-mass-in-one-decile corpus (every
        # xy row shares one x): Spark's non-ANSI 0/0 is NULL but DuckDB
        # >=1.1 yields NaN/inf — NULLIF makes both engines emit NULL
        # (ADVICE r10, the zipf_slope_by_lang n>=3 convention).
        F.expr(
            "ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / NULLIF(n * CAST(sxx AS DOUBLE)"
            "          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),"
            "          CAST(0 AS DOUBLE)), 6)"
        ).alias("heaps_beta"),
        F.expr(
            "ROUND(EXP((CAST(sy AS DOUBLE)"
            " - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            "   / NULLIF(n * CAST(sxx AS DOUBLE)"
            "            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),"
            "            CAST(0 AS DOUBLE))"
            "   * CAST(sx AS DOUBLE)) / n), 6)"
        ).alias("heaps_k"),
    )
    return xy.crossJoin(F.broadcast(fit)).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cum_docs").cast("bigint").alias("cum_docs"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        "heaps_beta",
        "heaps_k",
    )


def _heaps_sql() -> str:
    ps = [i / HEAPS_BUCKETS for i in range(1, HEAPS_BUCKETS)]
    ps_sql = ", ".join(repr(p) for p in ps)
    bucket = " + ".join(
        f"(CASE WHEN doc_id > bs[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(len(ps))
    )
    return f"""
WITH bounds AS (
  SELECT quantile_cont(doc_id, [{ps_sql}]) AS bs FROM documents
),
bucketed AS MATERIALIZED (
  SELECT doc_id, {bucket} + 1 AS bucket,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents, bounds
),
docs_per AS (
  SELECT bucket, COUNT(*) AS n_docs,
         COALESCE(SUM(len(toks)), 0) AS n_tokens
  FROM bucketed GROUP BY bucket
),
first_bucket AS (
  SELECT b AS bucket, COUNT(*) AS new_vocab FROM (
    SELECT t, MIN(bucket) AS b
    FROM (SELECT bucket, unnest(toks) AS t FROM bucketed)
    GROUP BY t
  ) GROUP BY b
),
curve AS (
  SELECT d.bucket,
         SUM(n_docs) OVER (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS cum_docs,
         SUM(n_tokens) OVER (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         SUM(COALESCE(new_vocab, 0)) OVER (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING)
           AS cum_vocab
  FROM docs_per d LEFT JOIN first_bucket f ON d.bucket = f.bucket
),
xy AS MATERIALIZED (
  SELECT bucket, cum_docs, cum_tokens, cum_vocab,
         ROUND(LN(CAST(cum_tokens AS DOUBLE)), 9) AS x,
         ROUND(LN(CAST(cum_vocab AS DOUBLE)), 9) AS y
  FROM curve WHERE cum_tokens > 0 AND cum_vocab > 0
),
fit AS (
  SELECT ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / NULLIF(n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                        CAST(0 AS DOUBLE)), 6)
           AS heaps_beta,
         ROUND(EXP((CAST(sy AS DOUBLE)
                - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / NULLIF(n * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                           CAST(0 AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / n), 6) AS heaps_k
  FROM (
    SELECT COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(19,9))) AS sx,
           SUM(CAST(y AS DECIMAL(19,9))) AS sy,
           SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
           SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy
    FROM xy
  )
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(cum_docs AS BIGINT) AS cum_docs,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(cum_vocab AS BIGINT) AS cum_vocab,
       heaps_beta, heaps_k
FROM xy, fit
"""


# --- per-doc TF-IDF keyword extraction (round 10) ---------------------------

KEYWORDS_K = 3


def doc_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KEYWORDS_K} TF-IDF keywords for EVERY document — the
    per-doc tagging/indexing readout next to tfidf_top_terms' global
    vocabulary view: tf is the in-doc count, idf is ln(N/df), ties
    break lexicographically, and every doc with at least one token
    gets up to {KEYWORDS_K} rows.

    Scale shape: the (doc, term, tf) relation is linear in token mass;
    df is one term-keyed partial aggregate joined back on term; the
    per-doc rank windows on doc_id where each group is one document's
    vocabulary (bounded by doc length — never a global sort).  N is a
    1-row broadcast.  idf rounds to 9 dp before the product so the
    rank key is engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(ws_words("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df_rel = tf.groupBy("t").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_rel, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "t",
            "tf",
            "df",
            (
                F.col("tf")
                * F.round(F.log(F.col("n_docs") / F.col("df")), 9)
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEYWORDS_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("t").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


DOC_KEYWORDS_SQL = f"""
WITH tf AS (
  SELECT doc_id, t, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
  )
  GROUP BY doc_id, t
),
df_rel AS (
  SELECT t, COUNT(*) AS df FROM tf GROUP BY t
),
n AS (
  SELECT COUNT(*) AS n_docs FROM documents
),
scored AS (
  SELECT doc_id, t, tf, df,
         tf * ROUND(LN(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
  FROM tf JOIN df_rel USING (t) CROSS JOIN n
)
SELECT doc_id,
       CAST(rank AS INT) AS rank,
       t AS term,
       CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df,
       ROUND(tfidf, 6) AS tfidf
FROM (
  SELECT doc_id, t, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, t) AS rank
  FROM scored
)
WHERE rank <= {KEYWORDS_K}
"""


# --- Vocabulary richness + lang/source dependence (round 11) ----------------


def hapax_richness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness census per source: total token mass, vocabulary
    size, hapax legomena (tokens seen exactly once), hapax ratio, and
    type-token ratio — the complement of heaps_law_fit: Heaps reads
    the corpus GROWTH law, this reads each source's steady-state
    richness.  A boilerplate-heavy source shows a collapsed type-token
    ratio; a random-id crawl shows hapax_ratio ~ 1.

    Scale shape: explode -> map-side-combined groupBy(source, token)
    (the vocab relation, Heaps-sublinear in corpus size), then a
    |sources|-row rollup.  No joins, no windows, two shuffles both
    keyed and partial-aggregated.  Exactness: counts are exact BIGINTs;
    the two ratios are single IEEE divides rounded at 6 dp (the
    standing share convention)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(ws_words("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        freq.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum((F.col("cnt") == 1).cast("long"))
            .cast("bigint")
            .alias("hapax_count"),
        )
        .select(
            "source",
            "total_tokens",
            "vocab_size",
            "hapax_count",
            F.round(
                F.col("hapax_count").cast("double") / F.col("vocab_size"), 6
            ).alias("hapax_ratio"),
            F.round(
                F.col("vocab_size").cast("double") / F.col("total_tokens"), 6
            ).alias("type_token_ratio"),
        )
    )


HAPAX_RICHNESS_SQL = """
WITH freq AS (
  SELECT source, t, COUNT(*) AS cnt
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
  )
  GROUP BY source, t
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_ratio,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS type_token_ratio
FROM freq
GROUP BY source
"""


def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the lang and source labels over the
    document census: per-cell pointwise MI plus the corpus MI total —
    the mixture-design dependence audit.  MI ~ 0 means language mix is
    uniform across sources (rebalancing one axis leaves the other
    alone); a large MI means the axes are entangled and
    balance_langs_sample-style per-lang rebalancing will silently
    reshape the source mixture too.

    Scale shape: ONE map-side-combined groupBy(lang, source) count —
    the contingency table, bounded by |langs| x |sources| regardless of
    corpus size; marginals are window sums OVER that tiny relation
    (single-partition by construction, the benford_price_audit
    pattern).  Exactness: counts exact; each cell's MI contribution is
    rounded to 9 dp and summed as DECIMAL (order-free) before the 6-dp
    display round; PMI itself is one LN of a ratio of exact counts,
    rounded at 6 dp (the tfidf/JSD LN convention)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("n_ls"))
    wl = Window.partitionBy("lang")
    wsrc = Window.partitionBy("source")
    wg = Window.partitionBy()
    enriched = cells.select(
        "lang",
        "source",
        "n_ls",
        F.sum("n_ls").over(wl).alias("n_l"),
        F.sum("n_ls").over(wsrc).alias("n_s"),
        F.sum("n_ls").over(wg).alias("n_tot"),
    )
    pmi = F.log(
        F.col("n_ls").cast("double")
        * F.col("n_tot")
        / (F.col("n_l").cast("double") * F.col("n_s"))
    )
    c9 = F.round((F.col("n_ls").cast("double") / F.col("n_tot")) * pmi, 9).cast(
        "decimal(19,9)"
    )
    with_terms = enriched.select(
        "lang",
        "source",
        F.col("n_ls").cast("bigint").alias("n_docs"),
        F.round(pmi, 6).alias("pmi"),
        F.round(c9, 6).cast("double").alias("mi_contribution"),
        c9.alias("_c9"),
    )
    return with_terms.select(
        "lang",
        "source",
        "n_docs",
        "pmi",
        "mi_contribution",
        F.expr("CAST(ROUND(SUM(_c9) OVER (), 6) AS DOUBLE)").alias("mi_total"),
    )


MUTUAL_INFO_SQL = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY 1, 2
),
enriched AS (
  SELECT lang, source, n_ls,
         SUM(n_ls) OVER (PARTITION BY lang) AS n_l,
         SUM(n_ls) OVER (PARTITION BY source) AS n_s,
         SUM(n_ls) OVER () AS n_tot
  FROM cells
),
terms AS (
  SELECT lang, source, n_ls,
         LN(CAST(n_ls AS DOUBLE) * n_tot
            / (CAST(n_l AS DOUBLE) * n_s)) AS pmi,
         CAST(ROUND((CAST(n_ls AS DOUBLE) / n_tot)
                    * LN(CAST(n_ls AS DOUBLE) * n_tot
                         / (CAST(n_l AS DOUBLE) * n_s)), 9)
              AS DECIMAL(19,9)) AS c9
  FROM enriched
)
SELECT lang, source,
       CAST(n_ls AS BIGINT) AS n_docs,
       ROUND(pmi, 6) AS pmi,
       CAST(ROUND(c9, 6) AS DOUBLE) AS mi_contribution,
       CAST(ROUND(SUM(c9) OVER (), 6) AS DOUBLE) AS mi_total
FROM terms
"""


# --- Unicode script-mix audit (round 11, batch 2) ---------------------------

#: Shared codepoint classes — explicit ranges only, valid and identical
#: in BOTH regex dialects (Java for Spark, RE2 for DuckDB): named script
#: properties spell differently (\p{IsCyrillic} vs \p{Cyrillic}) and
#: \s itself forks on the vertical tab (Java matches \x0B, RE2 does
#: not — the documented dialect fork in test_text_fuzz_parity.py), so
#: every class here is a literal range.
_SCRIPT_CLASSES = {
    "latin": r"[A-Za-z]",
    "digit": r"[0-9]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "cjk": r"[\x{4E00}-\x{9FFF}]",
    "whitespace": r"[ \t\n\f\r]",
}


def script_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script census per language label: corpus-level shares of
    Latin / digit / Cyrillic / CJK / whitespace / other codepoints,
    plus the count of MIXED-SCRIPT documents (Latin letters co-occurring
    with Cyrillic or CJK in one doc) — the mislabeled-lang and
    script-spoofing screen that complements char_coverage_audit
    (that one ranks codepoints for tokenizer coverage; this one reads
    label consistency).

    Scale shape: per-row regex counting (codepoints in class = length
    minus length after removing the class), then ONE
    map-side-combined groupBy(lang) over exact BIGINT sums — no joins,
    no windows; shares are single IEEE divides over exact integers,
    NULLIF-guarded for a lang whose every doc is empty, rounded 6 dp."""
    docs = load_table(spark, sf_dir, "documents")

    def cnt(pat: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("bigint")

    per = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_all"),
        cnt(_SCRIPT_CLASSES["latin"]).alias("n_latin"),
        cnt(_SCRIPT_CLASSES["digit"]).alias("n_digit"),
        cnt(_SCRIPT_CLASSES["cyrillic"]).alias("n_cyr"),
        cnt(_SCRIPT_CLASSES["cjk"]).alias("n_cjk"),
        cnt(_SCRIPT_CLASSES["whitespace"]).alias("n_ws"),
    ).withColumn(
        "mixed",
        (
            (F.col("n_latin") > 0)
            & ((F.col("n_cyr") > 0) | (F.col("n_cjk") > 0))
        ).cast("long"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("mixed").cast("bigint").alias("n_mixed_script"),
        F.sum("n_all").cast("bigint").alias("total_chars"),
        F.sum("n_latin").alias("t_latin"),
        F.sum("n_digit").alias("t_digit"),
        F.sum("n_cyr").alias("t_cyr"),
        F.sum("n_cjk").alias("t_cjk"),
        F.sum("n_ws").alias("t_ws"),
    )
    denom = F.expr("CAST(NULLIF(total_chars, 0) AS DOUBLE)")
    return agg.select(
        "lang",
        "n_docs",
        "n_mixed_script",
        "total_chars",
        F.round(F.col("t_latin") / denom, 6).alias("latin_share"),
        F.round(F.col("t_digit") / denom, 6).alias("digit_share"),
        F.round(F.col("t_cyr") / denom, 6).alias("cyrillic_share"),
        F.round(F.col("t_cjk") / denom, 6).alias("cjk_share"),
        F.round(F.col("t_ws") / denom, 6).alias("whitespace_share"),
        F.round(
            (
                F.col("total_chars")
                - F.col("t_latin")
                - F.col("t_digit")
                - F.col("t_cyr")
                - F.col("t_cjk")
                - F.col("t_ws")
            )
            / denom,
            6,
        ).alias("other_share"),
    )


def _script_mix_sql() -> str:
    c = _SCRIPT_CLASSES
    return f"""
WITH per AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_all,
         CAST(length(text) - length(regexp_replace(text, '{c["latin"]}', '', 'g')) AS BIGINT) AS n_latin,
         CAST(length(text) - length(regexp_replace(text, '{c["digit"]}', '', 'g')) AS BIGINT) AS n_digit,
         CAST(length(text) - length(regexp_replace(text, '{c["cyrillic"]}', '', 'g')) AS BIGINT) AS n_cyr,
         CAST(length(text) - length(regexp_replace(text, '{c["cjk"]}', '', 'g')) AS BIGINT) AS n_cjk,
         CAST(length(text) - length(regexp_replace(text, '{c["whitespace"]}', '', 'g')) AS BIGINT) AS n_ws
  FROM documents
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_latin > 0 AND (n_cyr > 0 OR n_cjk > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_script,
         CAST(SUM(n_all) AS BIGINT) AS total_chars,
         SUM(n_latin) AS t_latin, SUM(n_digit) AS t_digit,
         SUM(n_cyr) AS t_cyr, SUM(n_cjk) AS t_cjk, SUM(n_ws) AS t_ws
  FROM per
  GROUP BY lang
)
SELECT lang, n_docs, n_mixed_script, total_chars,
       ROUND(t_latin / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS latin_share,
       ROUND(t_digit / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS digit_share,
       ROUND(t_cyr / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS cyrillic_share,
       ROUND(t_cjk / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS cjk_share,
       ROUND(t_ws / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS whitespace_share,
       ROUND((total_chars - t_latin - t_digit - t_cyr - t_cjk - t_ws)
             / CAST(NULLIF(total_chars, 0) AS DOUBLE), 6) AS other_share
FROM agg
"""


# --- Source keyness (log-odds, round 11 batch 3) ----------------------------

KEYNESS_MIN_COUNT = 5  # corpus-frequency floor before scoring
KEYNESS_TOP = 5        # keywords kept per source


def source_keyness_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyness: the top-{K} tokens most over-represented in
    each source versus the REST of the corpus, scored by add-one
    smoothed log-odds-ratio — the corpus-linguistics keyness statistic
    (what makes this source's language DISTINCTIVE), complementing
    doc_keywords_tfidf (per-doc salience) and pmi_bigrams
    (collocation) at the source granularity.

    Scale shape: token counts per (source, t) and per t are both
    map-side-combined aggregates over the Heaps-sublinear vocab
    relation; per-source totals are a |sources|-row broadcast join; the
    top-k is a rank window partitioned by source (the js_divergence
    precedent).  Exactness: all count arithmetic exact BIGINT; the two
    LNs take ratios of exact integers and the score rounds to 9 dp
    BEFORE the rank key (the doc_keywords tie discipline) and 6 dp for
    display."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(ws_words("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    c_all = freq.groupBy("t").agg(F.sum("c").alias("c_all")).where(
        F.col("c_all") >= KEYNESS_MIN_COUNT
    )
    tots = freq.groupBy("source").agg(F.sum("c").alias("tot"))
    grand = tots.agg(F.sum("tot").alias("grand"))
    scored = (
        freq.join(c_all, "t")
        .join(F.broadcast(tots), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "t",
            "c",
            (F.col("c_all") - F.col("c")).alias("c_rest"),
            (F.col("tot") - F.col("c")).alias("n_src"),
            (F.col("grand") - F.col("tot") - (F.col("c_all") - F.col("c"))).alias(
                "n_rest"
            ),
        )
        .select(
            "source",
            "t",
            "c",
            "c_rest",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("n_src") + 1.0))
                - F.log((F.col("c_rest") + 1.0) / (F.col("n_rest") + 1.0)),
                9,
            ).alias("k9"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("k9"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEYNESS_TOP)
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            F.col("t").alias("term"),
            F.col("c").cast("bigint").alias("count_in_source"),
            F.col("c_rest").cast("bigint").alias("count_in_rest"),
            F.round("k9", 6).alias("log_odds"),
        )
    )


SOURCE_KEYNESS_SQL = f"""
WITH freq AS (
  SELECT source, t, COUNT(*) AS c
  FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
  )
  GROUP BY source, t
),
c_all AS (
  SELECT t, SUM(c) AS c_all FROM freq GROUP BY t
  HAVING SUM(c) >= {KEYNESS_MIN_COUNT}
),
tots AS (
  SELECT source, SUM(c) AS tot FROM freq GROUP BY source
),
grand AS (
  SELECT SUM(tot) AS grand FROM tots
),
scored AS (
  SELECT freq.source, freq.t, c,
         c_all - c AS c_rest,
         ROUND(LN((c + 1.0) / (tot - c + 1.0))
               - LN((c_all - c + 1.0)
                    / (grand - tot - (c_all - c) + 1.0)), 9) AS k9
  FROM freq
  JOIN c_all USING (t)
  JOIN tots ON tots.source = freq.source
  CROSS JOIN grand
)
SELECT source,
       CAST(rank AS INT) AS rank,
       t AS term,
       CAST(c AS BIGINT) AS count_in_source,
       CAST(c_rest AS BIGINT) AS count_in_rest,
       ROUND(k9, 6) AS log_odds
FROM (
  SELECT source, t, c, c_rest, k9,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY k9 DESC, t) AS rank
  FROM scored
)
WHERE rank <= {KEYNESS_TOP}
"""


QUERIES = {
    "char_trigram_lang_profiles": char_trigram_lang_profiles,
    "vocab_topk": vocab_topk,
    "ngram_novelty_curve": ngram_novelty_curve,
    "bpe_fertility_by_lang": bpe_fertility_by_lang,
    "doc_perplexity_bigram": doc_perplexity_bigram,
    "bm25_search": bm25_search,
    "doc_repetition_scores": doc_repetition_scores,
    "gopher_quality_rules": gopher_quality_rules,
    "oov_rate_by_lang": oov_rate_by_lang,
    "ngram_entropy_by_source": ngram_entropy_by_source,
    "lang_stopword_quality": lang_stopword_quality,
    "quality_calibrated": quality_calibrated,
    "doc_perplexity": doc_perplexity,
    "perplexity_tail_split": perplexity_tail_split,
    "quality_drift_by_batch": quality_drift_by_batch,
    "char_coverage_audit": char_coverage_audit,
    "cms_heavy_hitters": cms_heavy_hitters,
    "lang_vocab_overlap": lang_vocab_overlap,
    "hll_distinct_by_source": hll_distinct_by_source,
    "quality_quantile_normalize": quality_quantile_normalize,
    "lang_doc_stats": lang_doc_stats,
    "lang_id_heuristic": lang_id_heuristic,
    "quality_scores": quality_scores,
    "token_stats": token_stats,
    "doc_fingerprints": doc_fingerprints,
    "bigram_counts": bigram_counts,
    "pmi_bigrams": pmi_bigrams,
    "winnow_fingerprints": winnow_fingerprints,
    "bpe_token_stats": bpe_token_stats,
    "doc_length_histogram": doc_length_histogram,
    "quality_linear_score": quality_linear_score,
    "robust_quality_outliers": robust_quality_outliers,
    "sentence_stats": sentence_stats,
    "subword_sample_stats": subword_sample_stats,
    "bpe_merge_candidates": bpe_merge_candidates,
    "zipf_slope_by_lang": zipf_slope_by_lang,
    "js_divergence_sources": js_divergence_sources,
    "doc_keywords_tfidf": doc_keywords_tfidf,
    "heaps_law_fit": heaps_law_fit,
    "hapax_richness_by_source": hapax_richness_by_source,
    "mutual_information_lang_source": mutual_information_lang_source,
    "script_mix_audit": script_mix_audit,
    "source_keyness_logodds": source_keyness_logodds,
}

ORACLES = {
    "char_trigram_lang_profiles": CHAR_TRIGRAM_SQL,
    "vocab_topk": VOCAB_TOPK_SQL,
    "ngram_novelty_curve": NOVELTY_SQL,
    "bpe_fertility_by_lang": BPE_FERTILITY_SQL.format(CASE=_bpe_case_expr()),
    "doc_perplexity_bigram": DOC_PPL_BIGRAM_SQL,
    "bm25_search": BM25_SQL,
    "doc_repetition_scores": DOC_REPETITION_SQL,
    "gopher_quality_rules": GOPHER_RULES_SQL,
    "oov_rate_by_lang": OOV_RATE_SQL,
    "ngram_entropy_by_source": NGRAM_ENTROPY_SQL,
    "lang_stopword_quality": LANG_STOPWORD_SQL,
    "quality_calibrated": QUALITY_CALIBRATED_SQL,
    "doc_perplexity": DOC_PERPLEXITY_SQL,
    "perplexity_tail_split": PERPLEXITY_TAIL_SQL,
    "quality_drift_by_batch": _quality_drift_sql(),
    "bigram_counts": BIGRAM_SQL,
    "pmi_bigrams": PMI_BIGRAMS_SQL,
    "winnow_fingerprints": WINNOW_SQL,
    "char_coverage_audit": CHAR_COVERAGE_SQL,
    "cms_heavy_hitters": _cms_sql(),
    "lang_vocab_overlap": LANG_VOCAB_OVERLAP_SQL,
    "hll_distinct_by_source": HLL_DISTINCT_SQL,
    "quality_quantile_normalize": _qnorm_sql(),
    "lang_doc_stats": LANG_STATS_SQL,
    "lang_id_heuristic": LANG_ID_SQL,
    "quality_scores": QUALITY_SQL,
    "token_stats": TOKEN_STATS_SQL,
    "doc_fingerprints": FINGERPRINT_SQL,
    "bpe_token_stats": BPE_TOKEN_SQL,
    "doc_length_histogram": DOC_LENGTH_HIST_SQL,
    "quality_linear_score": QUALITY_LINEAR_SQL,
    "robust_quality_outliers": ROBUST_QUALITY_SQL,
    "sentence_stats": SENTENCE_STATS_SQL,
    "subword_sample_stats": _subword_sample_sql(),
    "bpe_merge_candidates": BPE_MERGE_SQL,
    "zipf_slope_by_lang": ZIPF_SLOPE_SQL,
    "js_divergence_sources": JS_DIVERGENCE_SQL,
    "doc_keywords_tfidf": DOC_KEYWORDS_SQL,
    "heaps_law_fit": _heaps_sql(),
    "hapax_richness_by_source": HAPAX_RICHNESS_SQL,
    "mutual_information_lang_source": MUTUAL_INFO_SQL,
    "script_mix_audit": _script_mix_sql(),
    "source_keyness_logodds": SOURCE_KEYNESS_SQL,
}
