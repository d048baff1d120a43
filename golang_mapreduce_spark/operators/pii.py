"""PII detection / redaction statistics over ``documents`` — the one
standard training-data-pipeline stage between quality filtering and
packing (reference analog: the Map-side filtering surface, SURVEY
§2.4; cf. ``mrapps/wc.go:1-40``'s per-record scan shape).

Rule-based email / phone / SSN-style-ID patterns evaluated as
codegen'd ``regexp_count`` / ``regexp_replace`` — single scan, no
explode, no Python; the per-source aggregate is one partial-agg'd
exchange keyed on ``source``.

The sandbox fixture corpus contains no digits and no ``@`` at all, so
raw-text hit rates would be identically zero — and an identically-zero
result cannot distinguish a working detector from a broken regex.  The
operators therefore run over a deterministically AUGMENTED view of the
corpus: docs whose ``doc_id`` hits fixed residue classes get
PII-shaped strings (derived only from ``doc_id``) appended, built by
the SAME expression in Spark and in the DuckDB oracle.  The injection
stands in for real-corpus PII; the detection/redaction side — the
product — is exercised for real, cross-engine.  On a real corpus,
drop ``_augmented`` and point the same regexes at raw ``text``.

Scale shape (100 TB): stateless narrow scan → hash aggregate on
``source`` (low cardinality) for the rates; the redaction query is a
stateless map with a residue-class filter pushed to the parquet scan.
No shuffle grows with corpus size beyond the per-source partial aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_mapreduce_spark.sources.fixtures import load_table

# Java regex and DuckDB's RE2 agree on this subset: character classes,
# \d, bounded repetition, alternation — no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}-\d{3}-\d{4}"
PII_ID = r"\d{3}-\d{2}-\d{4}"
# residue classes for the deterministic injection (see module docstring)
EMAIL_MOD, PHONE_MOD, ID_MOD = 7, 11, 13


def _augmented() -> F.Column:
    """text + deterministic PII-shaped suffixes, same formula as the
    oracle's SQL expression (doc_id-derived digits, zero-padded)."""
    email = F.when(
        F.col("doc_id") % EMAIL_MOD == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % PHONE_MOD == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ssn = F.when(
        F.col("doc_id") % ID_MOD == 0,
        F.concat(
            F.lit(" ref 987-65-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ssn)


_AUG_SQL = (
    "text"
    f" || CASE WHEN doc_id % {EMAIL_MOD} = 0 THEN"
    "        ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'"
    "      ELSE '' END"
    f" || CASE WHEN doc_id % {PHONE_MOD} = 0 THEN"
    "        ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    "        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    "      ELSE '' END"
    f" || CASE WHEN doc_id % {ID_MOD} = 0 THEN"
    "        ' ref 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    "      ELSE '' END"
)


def pii_source_rates(docs: DataFrame) -> DataFrame:
    """Per-source PII counts and rates over a batch or streaming
    ``docs`` frame (doc_id, text, source): a stateless regex map, then
    one aggregate keyed on ``source``."""
    t = docs.select("source", _augmented().alias("t"))
    n_email = F.regexp_count(F.col("t"), F.lit(PII_EMAIL))
    n_phone = F.regexp_count(F.col("t"), F.lit(PII_PHONE))
    n_id = F.regexp_count(F.col("t"), F.lit(PII_ID))
    # a phone hit ddd-ddd-dddd contains no ddd-dd-dddd substring and
    # vice versa (the middle group's width disagrees), so counts are
    # independent; "any" is a boolean OR of the three counts.
    any_hit = ((n_email + n_phone + n_id) > 0).cast("long")
    return (
        t.select("source", n_email.alias("e"), n_phone.alias("p"), n_id.alias("i"),
                 any_hit.alias("a"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("e").cast("bigint").alias("email_hits"),
            F.sum("p").cast("bigint").alias("phone_hits"),
            F.sum("i").cast("bigint").alias("id_hits"),
            F.sum("a").cast("bigint").alias("docs_with_pii"),
            F.round(F.sum("a") / F.count("*"), 6).alias("pii_rate"),
        )
    )


def pii_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII audit: doc counts, per-pattern hit totals, and the
    share of docs carrying ANY hit — the table a corpus owner reads to
    decide which sources need redaction before packing."""
    return pii_source_rates(load_table(spark, sf_dir, "documents"))


PII_RATES_SQL = f"""
WITH aug AS (
  SELECT source, {_AUG_SQL} AS t FROM documents
),
hits AS (
  SELECT source,
         len(regexp_extract_all(t, '{PII_EMAIL}')) AS e,
         len(regexp_extract_all(t, '{PII_PHONE}')) AS p,
         len(regexp_extract_all(t, '{PII_ID}')) AS i
  FROM aug
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(e) AS BIGINT) AS email_hits,
       CAST(SUM(p) AS BIGINT) AS phone_hits,
       CAST(SUM(i) AS BIGINT) AS id_hits,
       CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_pii,
       ROUND(CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS pii_rate
FROM hits
GROUP BY source
"""


def pii_redacted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction spot-check: every PII-bearing doc in a deterministic
    doc_id sample, with each pattern class replaced by its placeholder
    — the eyeball table attached to a redaction-pipeline review.

    Stateless map; the residue filter (membership in the injection
    classes) prunes at the scan."""
    docs = load_table(spark, sf_dir, "documents")
    hit = (
        (F.col("doc_id") % EMAIL_MOD == 0)
        | (F.col("doc_id") % PHONE_MOD == 0)
        | (F.col("doc_id") % ID_MOD == 0)
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(_augmented(), PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        PII_ID,
        "[ID]",
    )
    return (
        docs.where(hit & (F.col("doc_id") % 3 == 0))
        .select(
            "doc_id",
            "source",
            red.alias("redacted"),
            (
                F.length(_augmented()) - F.length(F.col("text"))
            ).cast("bigint").alias("injected_chars"),
        )
    )


PII_REDACTED_SQL = f"""
SELECT doc_id, source,
       regexp_replace(
         regexp_replace(
           regexp_replace({_AUG_SQL}, '{PII_EMAIL}', '[EMAIL]', 'g'),
           '{PII_PHONE}', '[PHONE]', 'g'),
         '{PII_ID}', '[ID]', 'g') AS redacted,
       CAST(length({_AUG_SQL}) - length(text) AS BIGINT) AS injected_chars
FROM documents
WHERE (doc_id % {EMAIL_MOD} = 0 OR doc_id % {PHONE_MOD} = 0
       OR doc_id % {ID_MOD} = 0)
  AND doc_id % 3 = 0
"""


QUERIES = {
    "pii_rates": pii_rates,
    "pii_redacted_sample": pii_redacted_sample,
}

ORACLES = {
    "pii_rates": PII_RATES_SQL,
    "pii_redacted_sample": PII_REDACTED_SQL,
}
