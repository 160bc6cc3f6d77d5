"""Bloom-filter membership operators for incremental corpus dedup.

At 100 TB, the expensive part of *incremental* ingestion dedup is not the
dedup inside the new batch — it is deciding which incoming rows might
already exist in the accumulated history.  The reference's answer is a
per-row primary-key upsert against Postgres (db.py:884-893), which caps
ingest throughput at the database's write path.  A Bloom filter over the
historical content keys inverts that: membership of the *entire* history
is compressed into ``n_bits`` bits (12 GB for 10 B documents at 1 % FPR),
the probe is a join against a tiny words table, and only the small
"maybe duplicate" slice pays an exact confirmation join against history.

Representation: the filter is a DataFrame ``(word_idx: long, word:
long)`` of 32-bit words OR-folded into BIGINTs.  32-bit (not 64-bit)
words keep every value positive and below 2^32, so the identical
arithmetic replays on any ANSI engine without signed-shift edge cases —
the same engine-portability discipline as the md5 MinHash family
(``dedup.minhash_signatures``).  Hash positions use Kirsch-Mitzenmacher
double hashing over the two 32-bit halves of ``md5(content)``:
``pos_i = (h1 + i*h2) mod n_bits`` — k probe positions from ONE md5, and
(h1 + i*h2) < 2^36 for any practical k, so the arithmetic is
overflow-free everywhere.

Scale shape:

- **build** is one explode (k rows per document) and one
  ``groupBy(word_idx).agg(bit_or)`` — a shuffle whose map-side partial
  aggregation collapses each partition to at most ``n_bits/32`` rows
  before any network movement, regardless of corpus size;
- **probe** is an equi-join of the k exploded probe positions against
  the words table on ``word_idx``.  The words table is ``n_bits/32``
  rows (a few MB even at billions of bits), so Spark broadcasts it and
  the probe is map-side — no shuffle of the incoming batch;
- neither path ever joins incoming rows against historical *rows*; the
  history is only touched by the exact confirmation join, and only for
  the ``maybe`` slice (true dups + the ~FPR sliver of false positives).

For histories past ~2^33 bits, shard the filter by ``pmod(h1,
n_shards)`` and key the words table ``(shard, word_idx)`` — the probe
stays the same equi-join with a compound key; nothing here assumes a
single in-memory bitmap.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 32


def _md5_halves(content: Column) -> tuple[Column, Column]:
    """The two unsigned 32-bit halves of md5(content) as longs."""
    m = F.md5(content.cast("string"))
    h1 = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return h1, h2


def _positions(content: Column, n_bits: int, k: int) -> Column:
    """array<long> of the k Kirsch-Mitzenmacher probe positions."""
    h1, h2 = _md5_halves(content)
    return F.array(*[F.pmod(h1 + i * h2, F.lit(n_bits)) for i in range(k)])


def bloom_build(
    df: DataFrame, content_col: str, *, n_bits: int = 1 << 15, k: int = 4
) -> DataFrame:
    """OR-fold a corpus into Bloom words: ``(word_idx: long, word: long)``.

    Duplicate content (and colliding probe positions within one row) are
    harmless — ``bit_or`` is idempotent — so no distinct pass is needed
    on the input.  Only words with at least one set bit appear; a probe
    treats a missing word as all-zeros.
    """
    pos = F.explode(_positions(F.col(content_col), n_bits, k)).alias("pos")
    # NULL content has no hashable identity: md5(NULL) is NULL, so its
    # k probe positions are an array of NULLs that fold into one junk
    # (NULL word_idx, NULL word) row per build — filtered here, like
    # hll_registers filters NULL keys (the md5(NULL) discipline)
    return (
        df.filter(F.col(content_col).isNotNull()).select(pos)
        .select(
            F.floor(F.col("pos") / WORD_BITS).alias("word_idx"),
            # SQL-form shiftleft: the pyspark wrapper only takes a literal
            # shift amount, the SQL function takes a column
            F.expr(f"shiftleft(1L, CAST(pos % {WORD_BITS} AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    content_col: str,
    bloom: DataFrame,
    *,
    n_bits: int = 1 << 15,
    k: int = 4,
    id_col: str,
    flag_col: str = "maybe_in_bloom",
) -> DataFrame:
    """``df`` + a boolean ``flag_col``: true iff all k probe bits are set.

    No false negatives: every row whose content was fed to
    :func:`bloom_build` (same ``n_bits``/``k``) flags true.  False
    positives occur at ~``bloom_fpr`` rate and are resolved by the exact
    confirmation join the caller runs on the flagged slice.

    The words table is hinted broadcast, which Spark honors regardless
    of ``autoBroadcastJoinThreshold``: the filter must fit an executor
    (up to a few hundred MB of words).
    """
    probes = df.select(
        F.col(id_col),
        F.explode(_positions(F.col(content_col), n_bits, k)).alias("pos"),
    ).select(
        id_col,
        F.floor(F.col("pos") / WORD_BITS).alias("word_idx"),
        (F.col("pos") % WORD_BITS).cast("int").alias("bit"),
    )
    hit = F.col("word").isNotNull() & (
        F.expr("shiftright(word, bit) & 1L") == 1
    )
    flags = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(id_col, hit.alias("hit"))
        .groupBy(id_col)
        .agg(F.bool_and("hit").alias(flag_col))
    )
    # NULL content is NOT probe-able (exact equality is undefined on
    # it): the flag stays NULL rather than false, so bloom_filter_new's
    # "definitely new" filter does NOT re-admit the same NULL-content
    # rows batch after batch (the one duplicate class a false-flag
    # would permanently exempt from dedup); callers wanting verdicts on
    # NULL rows split them off first
    return df.join(flags, id_col, "left").withColumn(
        flag_col,
        F.when(
            F.col(content_col).isNull(), F.lit(None).cast("boolean")
        ).otherwise(F.coalesce(F.col(flag_col), F.lit(False))),
    )


def bloom_filter_new(
    df: DataFrame,
    content_col: str,
    bloom: DataFrame,
    *,
    n_bits: int = 1 << 15,
    k: int = 4,
    id_col: str,
) -> DataFrame:
    """Rows of ``df`` that are DEFINITELY absent from the filtered history.

    The complement (the ``maybe`` slice) is the only part that needs an
    exact join against history; at a well-sized filter that slice is the
    true duplicates plus an ~FPR-sized sliver of false positives.
    """
    flagged = bloom_probe(
        df, content_col, bloom, n_bits=n_bits, k=k, id_col=id_col
    )
    return flagged.filter(~F.col("maybe_in_bloom")).drop("maybe_in_bloom")


def bloom_fpr(n_items: int, n_bits: int, k: int) -> float:
    """Expected false-positive rate ``(1 - e^(-k*n/m))^k`` for sizing."""
    if n_bits <= 0:
        return 1.0
    return (1.0 - math.exp(-k * n_items / n_bits)) ** k


def bloom_size_for(n_items: int, fpr: float) -> tuple[int, int]:
    """(n_bits, k) minimizing space for a target FPR: the classic
    ``m = -n ln p / (ln 2)^2``, ``k = (m/n) ln 2`` sizing rule."""
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    n = max(1, n_items)
    m = math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))
    k = max(1, round(m / n * math.log(2)))
    return m, k
