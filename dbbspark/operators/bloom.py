"""Broadcast Bloom-filter pre-filters for incremental dedup gates
(SURVEY.md §2.11 C34).

The streaming gates (streaming/linededup.py, streaming/neardedup.py) join
every micro-batch against a persisted corpus index. In the common crawl
case almost every batch key is NEW — the join exists only to discover
that nothing matches. A Bloom filter over the index keys, broadcast to
the batch side, answers "definitely not in the corpus" for the vast
majority of rows WITHOUT shuffling them; only the (tiny) maybe-known
remainder pays the join. The reference has no analog (its registry gate
is a per-file DB query, `bin/save_DBB_stagein_to_DBB.py:129-141`); this
is the Spark-native scale form of the same "skip work for new arrivals"
idea.

Design — everything stays JVM-side:

- BUILD is one aggregation: each key contributes k = ``num_hashes`` bit
  positions pmod(xxhash64(key, seed_i), m); positions group into 64-bit
  words by bit_or. The collected result is the word table — bounded by
  construction at m/8 bytes (default 2 MiB), centroid-style driver
  state, NOT O(index) data.
- PROBE is pure expression math: the word array rides a one-row frame
  cross-joined (broadcast) onto the batch; membership is k element_at /
  bit-AND tests fused into whole-stage codegen. No Python, no UDF, no
  per-row pickling.

False positives only ever send a row down the join path it would have
taken anyway — the gate's answers are byte-identical with and without
the pre-filter (tests pin this); false negatives cannot happen, so no
duplicate can slip through.

Scale accounting: m bits cover n keys at fpp ≈ (1-e^{-kn/m})^k; the
default m=2^24, k=5 holds ~2.3M keys at 1% fpp in 2 MiB. At crawl scale
(10^9+ index keys) a single driver-assembled filter stops being the
right shape — partition the key space (pmod(key, P)) into P independent
filters built the same way and probe the one the key lands in, or fall
back to the plain join; ``num_bits`` is capped to keep the broadcast
honest either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import sql_ident

_MAX_BITS = 1 << 30  # 128 MiB of words — beyond this, partition the keyspace.


def _position_sql(key: str, i: int, num_bits: int) -> str:
    """Probe position ``i`` of the SQL key: pmod(xxhash64(key, i), m).

    Seeding via an extra literal hash input (xxhash64 is variadic) keeps
    the k hashes independent while staying one codegen'd JVM call each.
    """
    return f"pmod(xxhash64({key}, {i}), {num_bits})"


# The DataFrame shiftleft/shiftright helpers only accept literal shift
# amounts, so the variable-shift bit math goes through expr().
_BIT_OF_POS = "shiftleft(1L, cast(pmod(__pos, 64) as int))"


def build_bloom(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 24,
    num_hashes: int = 5,
) -> list[int]:
    """One aggregation → the filter's 64-bit word table (length m/64,
    zeros included). The ONLY driver-sized artifact is the word table
    itself (m/8 bytes, bounded by the num_bits cap) — the aggregation
    output is at most m/64 rows regardless of key count."""
    if not 0 < num_bits <= _MAX_BITS:
        raise ValueError(f"num_bits must be in 1..{_MAX_BITS}")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    key = sql_ident(key_col)
    pos = F.explode(F.expr(
        f"array({', '.join(_position_sql(key, i, num_bits) for i in range(num_hashes))})"
    )).alias("__pos")
    words = (
        # null keys carry no membership (probe-side returns false for
        # them); without this filter xxhash64(null, i) would insert a
        # phantom seed-hash key.
        keys.where(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            F.shiftright("__pos", 6).alias("w"),
            F.expr(_BIT_OF_POS).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    table = [0] * ((num_bits + 63) // 64)
    for row in words:
        table[row["w"]] = row["bits"]
    return table


def might_contain(
    df: DataFrame,
    word_table: list[int],
    key_col: str,
    num_hashes: int = 5,
    out_col: str = "maybe_known",
) -> DataFrame:
    """Add ``out_col``: false ⇒ the key is DEFINITELY not in the built
    set; true ⇒ probably in it (fpp-bounded). The word table travels as
    one broadcast row; each probe is element_at + bit-AND, whole-stage
    codegen end to end."""
    num_bits = len(word_table) * 64
    spark = df.sparkSession
    carrier = spark.createDataFrame(
        [(word_table,)], "__bloom_words array<long>"
    )
    hit, key = None, sql_ident(key_col)
    for i in range(num_hashes):
        pos = _position_sql(key, i, num_bits)  # word = pos >> 6; bit = pos & 63
        test = F.expr(
            f"(element_at(__bloom_words, cast(shiftright({pos}, 6) as int) + 1)"
            f" & shiftleft(1L, cast(pmod({pos}, 64) as int))) != 0"
        )
        hit = test if hit is None else (hit & test)
    return (
        df.crossJoin(F.broadcast(carrier))
        .withColumn(
            out_col,
            F.when(F.col(key_col).isNull(), F.lit(False)).otherwise(hit),
        )
        .drop("__bloom_words")
    )


def split_by_bloom(
    df: DataFrame,
    word_table: list[int],
    key_col: str,
    num_hashes: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """(maybe_known, definitely_new): the gate-side split. maybe_known
    goes down the expensive corpus join; definitely_new skips it
    entirely. Null keys route to definitely_new (a null never matches an
    index row in the gates' join semantics)."""
    tagged = might_contain(df, word_table, key_col, num_hashes)
    maybe = tagged.where(F.col("maybe_known")).drop("maybe_known")
    new = tagged.where(~F.col("maybe_known")).drop("maybe_known")
    return maybe, new
