"""Bloom-filter membership (operators/bloom.py): no false negatives
(the load-bearing guarantee), bounded false positives at the designed
load, mergeability via bit_or union, the probe's per-ROW verdict (the
Generate-placement regression: beside-the-explode row ids degrade the
verdict to any-bit-hit), and the decontamination report being a
superset of the exact one. Cross-engine parity is covered by
scripts/check_oracle.py on pipeline_bloom_decontam."""

import pytest
from pyspark.sql import functions as F

from otters_spark.operators.bloom import (
    bloom_build,
    bloom_contamination_report,
    bloom_probe,
)
from otters_spark.operators.decontam import contamination_report

M = 63 * 64  # 4032 bits
K = 4


def _members(spark, n):
    return spark.range(n).select(F.concat(F.lit("member-"), F.col("id")).alias("v"))


def test_no_false_negatives_and_word_table_bounded(spark):
    members = _members(spark, 300)
    filt = bloom_build(members, "v", M, K)
    assert filt.count() <= M // 63
    probed = bloom_probe(members, "v", filt, M, K)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_false_positive_rate_bounded(spark):
    members = _members(spark, 300)
    filt = bloom_build(members, "v", M, K)
    strangers = spark.range(2000).select(
        F.concat(F.lit("stranger-"), F.col("id")).alias("v")
    )
    fp = bloom_probe(strangers, "v", filt, M, K).filter("maybe_member").count()
    # load n*k/m ~ 0.3 -> theoretical fpr ~ (1-e^-0.3)^4 ~ 0.5%; allow 3%
    assert fp / 2000 < 0.03, fp


def test_probe_verdict_is_per_row_not_any_bit(spark):
    # a value sharing SOME (but not all) bits with members must be
    # rejected: with 1 member and k=4, a stranger whose hash collides
    # on no word can only pass if all 4 of its bits match the 4 set
    # bits — statistically impossible across 500 strangers at m=4032
    one = _members(spark, 1)
    filt = bloom_build(one, "v", M, K)
    strangers = spark.range(500).select(
        F.concat(F.lit("s-"), F.col("id")).alias("v")
    )
    assert bloom_probe(strangers, "v", filt, M, K).filter("maybe_member").count() == 0


def test_union_of_filters_is_bit_or(spark):
    a, b = _members(spark, 100), _members(spark, 200).filter("v > 'member-5'")
    fa, fb = bloom_build(a, "v", M, K), bloom_build(b, "v", M, K)
    merged = (
        fa.union(fb).groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )
    direct = bloom_build(a.union(b), "v", M, K)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_probe_preserves_rows_and_nulls_probe_false(spark):
    members = _members(spark, 10)
    filt = bloom_build(members, "v", M, K)
    df = spark.createDataFrame(
        [("member-3", 1), (None, 2), ("nope", 3)], "v string, tag int"
    )
    out = bloom_probe(df, "v", filt, M, K).collect()
    assert len(out) == 3
    by_tag = {r["tag"]: r["maybe_member"] for r in out}
    assert by_tag[1] is True
    assert by_tag[2] is False


def test_bloom_report_supersets_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = (
        docs.filter(F.col("doc_id") % 37 == 0)
        .withColumn("__ew", F.split(F.col("text"), " "))
        .filter(F.size("__ew") >= 25)
        .select("doc_id", F.array_join(F.slice("__ew", 11, 15), " ").alias("text"))
    )
    exact = {
        r["train_id"]: r["n_shared_ngrams"]
        for r in contamination_report(docs, eval_df, n=8).collect()
    }
    bloom = {
        r["train_id"]: r["n_flagged_ngrams"]
        for r in bloom_contamination_report(
            docs, eval_df, n=8, m_bits=63 * 256, k=4
        ).collect()
    }
    assert set(exact) <= set(bloom)
    for tid, n in exact.items():
        assert bloom[tid] >= n  # one-sided overestimate


def test_validation(spark):
    df = _members(spark, 5)
    with pytest.raises(ValueError, match="k <= "):
        bloom_build(df, "v", M, k=99)
    with pytest.raises(ValueError, match="at least one word"):
        bloom_build(df, "v", 10, k=2)


def test_probe_tolerates_repeated_word_rows(spark):
    """A word table that repeats a word_idx (e.g. the plain union of two
    filters, or one word split across rows) must probe exactly like its
    bit_or-merged form: one output row per input row and the same
    verdicts. Unmerged, every chained left join multiplied the probe
    rows and tested each copy against only part of the word."""
    members = _members(spark, 50)
    filt = bloom_build(members, "v", M, K)
    even = filt.select(
        "word_idx", F.col("word").bitwiseAND(F.lit(0x5555555555555555)).alias("word")
    )
    odd = filt.select(
        "word_idx", F.col("word").bitwiseAND(F.lit(0x2AAAAAAAAAAAAAAA)).alias("word")
    )
    repeated = even.union(odd).union(filt)
    probe_in = members.union(
        spark.range(300).select(F.concat(F.lit("s-"), F.col("id")).alias("v"))
    )
    want = sorted(
        (r["v"], r["maybe_member"])
        for r in bloom_probe(probe_in, "v", filt, M, K).collect()
    )
    got = sorted(
        (r["v"], r["maybe_member"])
        for r in bloom_probe(probe_in, "v", repeated, M, K).collect()
    )
    assert len(got) == 350
    assert got == want
    assert all(verdict for v, verdict in got if v.startswith("member-"))
