"""Round-16 optimization pins.

1. Bounded-state streaming drains run their state stores at
   ``BOUNDED_STATE_PARTITIONS`` (not the session core count) — the
   drain must RESTORE the session's shuffle-partition conf and produce
   the identical result it produced at the session default (state
   partitioning cannot change an aggregation's output; this pins it).
2. The DSIR conditional-sum consolidation (ROADMAP r16 #2) keeps the
   docb cache as the op's only registered handle and the per-bucket
   ratio relation equal to the old four-re-group derivation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golang_mapreduce_spark.operators.windows import hourly_counts
from golang_mapreduce_spark.streaming import jobs as sj


@pytest.mark.streaming
def test_bounded_state_drain_restores_conf_and_result(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    bounded = sj.streaming_cms_cells(spark, sf_dir)
    rows_bounded = sorted(map(tuple, bounded.collect()))
    assert spark.conf.get(key) == before, "drain leaked its conf override"
    # same drain with the session-default state partitioning: the
    # result must be identical (partition count is invisible to the
    # aggregation) — run via the raw helper with state_partitions=None
    docs = sj.table_stream(spark, sf_dir, "documents", sj.docs_stream_schema())
    from golang_mapreduce_spark.functions.hashing import hash32
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.operators.textstats import CMS_ROWS, CMS_WIDTH

    toks = docs.select(F.explode(ws_words("text")).alias("tok"))
    buckets = toks.select(
        F.posexplode(
            F.array(
                *[
                    (hash32(F.concat(F.col("tok"), F.lit(f"#cms{i}")))
                     % CMS_WIDTH).cast("int")
                    for i in range(CMS_ROWS)
                ]
            )
        ).alias("row_i", "bucket")
    )
    cells = buckets.groupBy("row_i", "bucket").agg(
        F.count("*").cast("bigint").alias("cell_n")
    )
    default_parts = sj.run_stream_to_batch(cells, spark)
    rows_default = sorted(map(tuple, default_parts.collect()))
    assert rows_bounded == rows_default
    assert spark.conf.get(key) == before


@pytest.mark.streaming
def test_run_stream_to_batch_never_raises_parallelism(spark, sf_dir):
    """A session benching at fewer cores than BOUNDED_STATE_PARTITIONS
    must keep its own (smaller) partition count: the cap only ever
    lowers.  Exercised through a real drain with a floor larger than
    the test session's 8 shuffle partitions."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    events = sj.read_events_stream(spark, sf_dir)
    out = sj.run_stream_to_batch(
        hourly_counts(events),
        spark,
        state_partitions=10_000,  # larger than the session's 8
    )
    assert out.count() > 0
    assert spark.conf.get(key) == before


def test_dsir_ratio_consolidation_matches_four_regroup_form(spark, sf_dir):
    """The single conditional-sum re-group (stats -> windowed totals ->
    s IS NOT NULL) must reproduce the old tcnt/scnt/ttot/stot algebra
    bucket for bucket."""
    from golang_mapreduce_spark.operators.corpus import (
        DECON_MOD,
        DSIR_BUCKETS,
        dsir_importance_weights,
    )
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.functions.hashing import hash32
    from golang_mapreduce_spark.operators.dedup import _shingles
    from golang_mapreduce_spark.sources.fixtures import load_table

    new = dsir_importance_weights(spark, sf_dir)
    new_rows = sorted(map(tuple, new.collect()))

    # legacy derivation, verbatim from the round-15 form
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_words("text").alias("toks"))
    uni = toks.select("doc_id", F.explode("toks").alias("g"))
    bi = (
        toks.where(F.size("toks") >= 2)
        .select("doc_id", F.explode(_shingles(2)).alias("g"))
    )
    feats = uni.union(bi).select(
        "doc_id", (hash32("g") % DSIR_BUCKETS).alias("b")
    )
    docb = feats.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
    is_target = F.col("doc_id") % DECON_MOD == 0
    tcnt = docb.where(is_target).groupBy("b").agg(F.sum("cnt").alias("t"))
    scnt = docb.where(~is_target).groupBy("b").agg(F.sum("cnt").alias("s"))
    ttot = tcnt.agg(F.coalesce(F.sum("t"), F.lit(0)).alias("tt"))
    stot = scnt.agg(F.coalesce(F.sum("s"), F.lit(0)).alias("st"))
    ratio = (
        scnt.join(tcnt, "b", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(stot))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("t"), F.lit(0)) + 1)
                        * (F.col("st") + DSIR_BUCKETS)
                    ).cast("double")
                    / ((F.col("s") + 1) * (F.col("tt") + DSIR_BUCKETS))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lr"),
        )
    )
    legacy = (
        docb.where(F.col("doc_id") % DECON_MOD != 0)
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.round(
                F.sum(F.col("cnt").cast("decimal(18,6)") * F.col("lr"))
                .cast("double"),
                6,
            ).alias("log_weight"),
        )
    )
    legacy_rows = sorted(map(tuple, legacy.collect()))
    assert new_rows == legacy_rows
    spark.catalog.clearCache()


def test_signatures_from_distinct_hashes_match(spark, sf_dir):
    """minhash_calibration derives signatures from the DISTINCT
    (doc_id, h) shingle-hash relation: MIN over a multiset equals MIN
    over its distinct set, so the 16 minima must equal
    _signatures_from's fold over every shingle occurrence."""
    from golang_mapreduce_spark.functions.hashing import (
        MINHASH_PRIME,
        hash32,
    )
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.operators.dedup import (
        NUM_HASHES,
        SEEDS,
        _shingles,
        _signatures_from,
    )
    from golang_mapreduce_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    doc_sh = (
        docs.select("doc_id", ws_words("text").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(_shingles(3)).alias("s"))
        .select("doc_id", hash32("s").alias("h"))
        .distinct()
    )
    aggs = [
        F.min(F.expr(f"({a} * h + {b}) % {MINHASH_PRIME}")).alias(f"m{i}")
        for i, (a, b) in enumerate(SEEDS)
    ]
    from_distinct = doc_sh.groupBy("doc_id").agg(*aggs)
    reference = _signatures_from(docs)
    assert from_distinct.exceptAll(reference).count() == 0
    assert reference.exceptAll(from_distinct).count() == 0
    assert reference.columns == ["doc_id"] + [
        f"m{i}" for i in range(NUM_HASHES)
    ]


def test_perplexity_cnt_weighted_fold_matches_occurrence_fold(spark, sf_dir):
    """The perplexity ops now fold surprisal over the persisted
    (doc_id, [prev,] t, cnt) aggregate weighted by cnt; the weighted
    sum must equal the old per-occurrence sum (surprisal is constant
    per context)."""
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.operators.textstats import (
        PPL_LAMBDA,
        doc_perplexity_bigram,
    )
    from golang_mapreduce_spark.sources.fixtures import load_table

    new_rows = sorted(
        map(tuple, doc_perplexity_bigram(spark, sf_dir).collect())
    )
    spark.catalog.clearCache()

    # legacy per-occurrence dataflow, verbatim from the round-15 form
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
    uni = pairs.groupBy("t").agg(F.count("*").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("total"))
    big = (
        pairs.where(F.col("prev").isNotNull())
        .groupBy("prev", "t")
        .agg(F.count("*").alias("cb"))
    )
    ctx = big.groupBy("prev").agg(F.sum("cb").alias("cc"))
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
        pairs.join(uni, "t")
        .join(big, ["prev", "t"], "left")
        .join(ctx, "prev", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN prev IS NULL THEN {s_first} ELSE {s_uni} END"
            ).alias("s_u"),
        )
    )
    legacy = (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr(
                "round(CAST(SUM(s_u) AS DOUBLE) / 1000000 / COUNT(*), 6)"
            ).alias("avg_surprisal"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_surprisal",
            F.round(F.exp("avg_surprisal"), 6).alias("ppl_proxy"),
        )
    )
    legacy_rows = sorted(map(tuple, legacy.collect()))
    assert new_rows == legacy_rows


def test_tfidf_df_from_tf_matches_distinct_recount(spark, sf_dir):
    """tfidf's document frequency now re-groups the persisted tf
    relation; it must equal the old words.distinct() recount."""
    from golang_mapreduce_spark.functions.text import ws_words
    from golang_mapreduce_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(ws_words("text")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_new = tf.groupBy("word").agg(F.count("*").alias("df"))
    df_old = words.distinct().groupBy("word").agg(F.count("*").alias("df"))
    assert df_new.exceptAll(df_old).count() == 0
    assert df_old.exceptAll(df_new).count() == 0
