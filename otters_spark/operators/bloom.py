"""Distributed Bloom-filter membership — the compact-set primitive
for corpus-scale "is this in the benchmark/blocklist?" probes.

The existing decontamination join (operators/decontam.py) broadcasts
the eval side's raw 8-byte gram hashes: perfectly fine while the
benchmark fits a broadcast (millions of grams). At the 100 TB /
billion-gram end — decontaminating against EVERY published benchmark
at once, or probing a multi-billion-entry URL blocklist — the raw
hash set stops broadcasting, but its Bloom filter still does:
m = 10 bits/member at k=4 is ~1.2 GB per billion members with < 2%
false positives, and the filter build itself is one ``groupBy(word)
.bit_or()`` aggregation — algebraic, mergeable (union = bit_or of
word tables), incremental (new benchmark batches OR in).

The probe is a broadcast join of each value's k (word, mask) pairs
against the word table — map-side only, corpus-linear, no shuffle of
the corpus. False positives are one-sided (a "maybe" can be
re-verified against the exact set; a "no" is definitive), which is
exactly the right failure mode for a drop-list prefilter.

Determinism/oracle: bits are placed by the repo's 60-bit md5 hash
mixed through the fixed MinHash xor-shift constants
(functions/text.py) — bit-identical in DuckDB, so the whole filter,
word for word, and every probe verdict oracle-check exactly. Words
hold 63 usable bits (positions 0-62): DuckDB's BIGINT ``1 << 63``
raises an overflow error where Spark wraps, so position 63 is
unusable cross-engine; one bit of density traded for an exact twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import MINHASH_PERM_CONSTANTS, _perm_mix, md5_long_expr

__all__ = ["bloom_build", "bloom_probe", "bloom_contamination_report"]

#: usable bit positions per stored word (see module docstring)
WORD_BITS = 63


def _bit_positions(h: Column, m_bits: int, k: int) -> Column:
    """Array of k bit positions in [0, m_bits) for one 60-bit hash."""
    if k > len(MINHASH_PERM_CONSTANTS):
        raise ValueError(f"k <= {len(MINHASH_PERM_CONSTANTS)} supported")
    if m_bits < WORD_BITS:
        raise ValueError("m_bits must be at least one word (63)")
    return F.array(
        *[
            F.pmod(_perm_mix(h, MINHASH_PERM_CONSTANTS[i]), F.lit(m_bits))
            for i in range(k)
        ]
    )


def _word_mask(bit: Column) -> tuple[Column, Column]:
    word_idx = (bit / WORD_BITS).cast("long")
    mask = F.expr(f"shiftleft(1L, cast(pmod(__b, {WORD_BITS}) as int))")
    return word_idx, mask


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int,
    k: int = 4,
    hashed: bool = False,
) -> DataFrame:
    """Build the filter as a (word_idx, word) table — at most
    ceil(m_bits/63) rows regardless of member count. One explode of
    k bits per member and one ``bit_or`` aggregation: algebraic, so
    Spark partial-aggregates map-side and the shuffle is bounded by
    the word count. Union two filters (same m_bits/k) by unioning
    the tables and re-running ``groupBy(word_idx).bit_or(word)``.

    ``hashed=True`` means ``value_col`` already holds repo-standard
    60-bit hashes (e.g. decontam's gram hashes) — skips re-hashing."""
    h = F.col(value_col) if hashed else md5_long_expr(F.col(value_col))
    bits = df.select(F.explode(_bit_positions(h, m_bits, k)).alias("__b"))
    word_idx, mask = _word_mask(F.col("__b"))
    return (
        bits.select(word_idx.alias("word_idx"), mask.alias("__mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    value_col: str,
    bloom: DataFrame,
    m_bits: int,
    k: int = 4,
    hashed: bool = False,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Append ``out_col``: true iff ALL k bits for the value are set
    (possible member — FPR per the m/n/k trade), false otherwise
    (definitely absent). Input rows pass through unchanged (NULL
    values probe to false).

    Plan shape (round 12, guide §2.4): k chained BROADCAST LEFT JOINS
    of the word table — one per bit position — fused into ONE
    whole-stage-codegen map pass; the verdict is the conjunction of
    the k (word & mask) == mask tests. Zero shuffle of the probed
    corpus. The former shape exploded k (word, mask) rows per value
    and re-assembled verdicts with a groupBy over a synthetic row id —
    a full shuffle of k × |corpus| rows (plus the
    monotonically_increasing_id placement trap) that existed only to
    AND k booleans the joins can AND in place. k is small by
    construction (4), so k broadcast hash lookups per row beat one
    k-fold explode + shuffle at every scale; the word table broadcast
    is unchanged."""
    if k > len(MINHASH_PERM_CONSTANTS):
        raise ValueError(f"k <= {len(MINHASH_PERM_CONSTANTS)} supported")
    if m_bits < WORD_BITS:
        raise ValueError("m_bits must be at least one word (63)")
    # pin the word table at its k-consumer site (the round-11 finding:
    # Catalyst re-expands a shared subtree per consumer — unpinned,
    # each of the k broadcast builds re-ran the caller's ENTIRE filter
    # build, observed as 4 extra corpus scans in pipeline_bloom_decontam).
    # The table is ≤ ceil(m_bits/63) rows by construction — bounded.
    # word_idx must be unique: each chained left join would otherwise
    # emit one probe row per matching word row, duplicating input rows
    # and testing each copy against only part of the word. A table
    # unioned from two filters (or appended to) can repeat a word, so
    # OR the bits back together per word_idx first — the same
    # re-aggregation as the union recipe in bloom_build, over a table
    # of at most m_bits/63 rows.
    bloom = (
        bloom.groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .localCheckpoint(eager=False)
    )
    h = F.col(value_col) if hashed else md5_long_expr(F.col(value_col))
    # Materialize the HASH once behind a Generate barrier (a 1-element
    # explode — the md5-fanout trap guard, see tests/test_suite_plans.py):
    # in a plain projection CollapseProject merges the key/mask
    # projections into the join operators and every join KEY and mask
    # re-inlines the full md5 chain — observed 17 md5 evaluations per
    # row vs 2 (2.4x slower), because expressions inside separate join
    # operators get no codegen subexpression elimination (a
    # monotonically_increasing_id pin does NOT stop this: the collapse
    # rule only protects the nondeterministic output itself, and it is
    # referenced once). Projections cannot merge through a Generate,
    # so md5 runs exactly once per row; the k cheap integer bit-mix
    # exprs may inline into the joins freely. explode(array(h))
    # preserves NULL hashes as one NULL row.
    hashed_df = df.select(
        *df.columns,
        F.explode(F.array(h)).alias("__bp_h"),
    )
    out = hashed_df
    for i in range(k):
        bit = F.pmod(
            _perm_mix(F.col("__bp_h"), MINHASH_PERM_CONSTANTS[i]),
            F.lit(m_bits),
        )
        out = out.withColumn(f"__bp_b{i}", bit)
        out = out.withColumn(
            f"__bp_k{i}", (F.col(f"__bp_b{i}") / WORD_BITS).cast("long")
        )
        out = out.withColumn(
            f"__bp_m{i}",
            F.expr(f"shiftleft(1L, cast(pmod(__bp_b{i}, {WORD_BITS}) as int))"),
        )
    verdict = F.lit(True)
    for i in range(k):
        side = bloom.select(
            F.col("word_idx").alias(f"__bp_wi{i}"),
            F.col("word").alias(f"__bp_w{i}"),
        )
        out = out.join(
            F.broadcast(side),
            out[f"__bp_k{i}"] == side[f"__bp_wi{i}"],
            "left",
        )
        w = F.col(f"__bp_w{i}")
        m = F.col(f"__bp_m{i}")
        # NULL word (bit's word absent, or NULL value → NULL key → no
        # match) makes isNotNull() false, and FALSE AND x = FALSE, so
        # the conjunction stays non-null false — the old
        # coalesce(bool_and, false) contract
        verdict = verdict & w.isNotNull() & (w.bitwiseAND(m) == m)
    return out.withColumn(out_col, verdict).select(*df.columns, out_col)


def bloom_contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int = 63 * 1024,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-prefiltered decontamination: flag train docs whose
    distinct n-grams hit the eval set's gram filter. Output per
    flagged doc: ``n_flagged_ngrams`` (a one-sided overestimate of
    the exact shared-gram count — clean-by-bloom docs are definitively
    clean and absent). Chain with
    ``contamination_report`` on the flagged subset when exact counts
    matter; the filter costs m_bits/63 longs of broadcast where the
    exact probe broadcasts every gram hash."""
    from .decontam import ngram_hashes

    eg = ngram_hashes(eval_df, n, text_col, id_col, out_id="eval_id").select(
        "__h"
    ).distinct()
    filt = bloom_build(eg, "__h", m_bits, k, hashed=True)
    tg = ngram_hashes(train_df, n, text_col, id_col, out_id="train_id")
    probed = bloom_probe(tg, "__h", filt, m_bits, k, hashed=True)
    return (
        probed.filter(F.col("maybe_member"))
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_ngrams"))
    )
