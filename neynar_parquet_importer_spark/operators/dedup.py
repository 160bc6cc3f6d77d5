"""Deduplication operators.

The reference has two dedup mechanisms (SURVEY §2.4): D1 in-batch
last-wins PK dedup (db.py:800-820, a Python dict overwrite) and D2
cross-batch dedup via the recency-guarded upsert sink (db.py:887-891).
Both are generalized here, plus the content-dedup family a training-data
pipeline needs at 100 TB scale: exact text dedup, MinHash+LSH near-dup,
SimHash near-dup, and exact n-gram Jaccard verification.

Scale notes:
- everything is expressed as DataFrame ops (hash/groupBy/join) so shuffles
  are the only data movement and AQE can coalesce/skew-split them;
- MinHash signatures are computed with JVM-side ``xxhash64`` inside
  higher-order functions — no Python in the hot path;
- LSH banding turns the O(n^2) pair problem into a shuffle on band keys;
  only same-bucket pairs are joined, which is the standard
  Broder/Indyk-Motwani construction.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .bloom import _md5_halves


def md5_signed64(c: Column) -> Column:
    """THE engine-portable signed-64 hash: the first 16 hex chars of
    md5 reinterpreted as a two's-complement BIGINT. shiftleft(h1, 32)
    wraps into the sign bit (bitwise shift is unchecked), reproducing
    the value an ANSI engine derives from the same hex via signed
    arithmetic — DuckDB mirror:
    ``(CASE WHEN hi >= 2^31 THEN hi - 2^32 ELSE hi END) * 2^32 + lo``.
    One definition shared by the md5 SimHash family and winnowing;
    the 32-bit halves come from ``bloom._md5_halves`` (also the
    Kirsch-Mitzenmacher base of the portable MinHash members)."""
    h1, h2 = _md5_halves(c)
    return F.shiftleft(h1, 32).bitwiseOR(h2)

# DataFrames persisted by operators in this module (signature frames that
# feed self-joins). Persisting is load-bearing for performance — without it
# the signature aggregation runs once per join side — but a long-lived
# session must be able to release the blocks: call ``release_cached()``
# after consuming a near-dup result (bench and tests do).
#
# The registries are THREAD-LOCAL: driver-side concurrency in this repo is
# thread-per-pipeline (daemon.run_tables_forever), and a shared list
# would let one pipeline's cleanup unpersist — or worse, release the
# truncated-lineage checkpoints of — another pipeline's in-flight frames.
# Each thread releases exactly what it created; frames belonging to a
# finished thread are reclaimed by the ContextCleaner when the frames are
# garbage collected.
_TLS = threading.local()


def _cached() -> list[DataFrame]:
    """This thread's persisted-frame registry."""
    try:
        return _TLS.cached
    except AttributeError:
        _TLS.cached = []
        return _TLS.cached


def _ckpts() -> list[DataFrame]:
    """This thread's localCheckpoint registry."""
    try:
        return _TLS.ckpts
    except AttributeError:
        _TLS.ckpts = []
        return _TLS.ckpts


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _cached().append(df)
    return df


def _persist_eager(df: DataFrame) -> DataFrame:
    """persist + ONE blocking materialization. For frames whose
    consumers materialize CONCURRENTLY under AQE (self-join sides, a
    broadcast build racing a probe subtree): on a cold cache each
    concurrent query-stage materialization re-runs the frame's full
    build pipeline — the r10 SQL-tab audit of cosupplier_triangle_stats
    showed the persisted edge build's Exchange TWICE with 5.1 s + 3.1 s
    of shuffle-write task time; one eager pass before the fan-out took
    the query from 6.3 s to 4.3 s (min of 3, sf0.1). Use the lazy
    :func:`_persist` when consumers are sequential (iterative loops) or
    the build is trivial — the extra job is pure overhead there."""
    df = _persist(df)
    df.count()
    return df


def release_cached() -> None:
    """Unpersist every signature frame cached by THIS THREAD's operators,
    and free any checkpointed iteration states it still holds (the
    registries are thread-local — see module notes).

    INVALIDATION contract: persisted frames survive release (they
    silently recompute from lineage on next use), but localCheckpoint-
    backed frames — e.g. a :func:`connected_components` result on the
    iterative path — have their lineage truncated to the checkpoint
    blocks, so using such a result AFTER release_cached() fails with
    'checkpoint block not found' instead of recomputing. Consume (or
    copy out, e.g. write/collect) clustering results before calling
    this; it is a between-queries reset, not a mid-query cache trim."""
    cached, ckpts = _cached(), _ckpts()
    while cached:
        cached.pop().unpersist()
    while ckpts:
        _release_ckpt(ckpts[-1])


def _unpersist(df: DataFrame) -> None:
    """Release one frame early (before release_cached), e.g. a superseded
    iteration state; removing it from the registry keeps release_cached
    from double-unpersisting."""
    df.unpersist()
    try:
        _cached().remove(df)
    except ValueError:
        pass


# localCheckpoint()ed frames (iteration states with truncated lineage)
# live in _ckpts(): their storage is at the RDD layer, not the
# CacheManager, so release goes through the checkpointed plan's RDD
# handle (_release_ckpt).


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materializes AND truncates the logical plan
    to a leaf. Load-bearing for iterative algorithms — a loop that joins
    its own output doubles the Catalyst plan every round (the state
    subtree appears twice), so by ~14 rounds analysis alone OOMs the
    driver; persist() caches execution but does NOT truncate the plan."""
    out = df.localCheckpoint(eager=True)
    _ckpts().append(out)
    return out


def _release_ckpt(df: DataFrame) -> None:
    """Free a checkpointed frame's blocks now (best-effort; the context
    cleaner reclaims on GC otherwise)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
    try:
        _ckpts().remove(df)
    except ValueError:
        pass


# --------------------------------------------------------------------------
# PK dedup / last-writer-wins (reference D1/D2)
# --------------------------------------------------------------------------

def last_writer_wins(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
) -> DataFrame:
    """Keep one row per key tuple, the first under ``order_by``.

    Robust form of the reference's D1 dict-overwrite dedup (db.py:800-820):
    the reference keeps the *last occurrence in file order*; a distributed
    engine has no stable file order, so the recency column(s) (typically
    ``updated_at DESC`` plus a unique tiebreak) define the winner — the
    same ordering the upsert guard (db.py:887-891) enforces across batches.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup: one group per distinct content value, keeping
    the minimum id as the canonical representative + the duplicate count.

    Grouping on a 128-bit content hash instead of the raw (potentially
    megabyte) content keeps shuffle rows small at scale; md5 collisions are
    negligible at 100 TB (~2^-64 at 10^12 docs).
    """
    return (
        df.select(
            F.md5(F.col(content_col)).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# --------------------------------------------------------------------------

def _shingle_stream(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, pos, shingle) stream via posexplode + lead(): the codegen-
    friendly shingling shape (array-lambda builds are interpreted and
    ~50x slower). Short docs (< n tokens) contribute one whole-text
    shingle (concat_ws skips the trailing null leads). Pre-spreads the
    (often single-split) corpus keyed by id so tokenization parallelizes
    and the window's partitioning is already satisfied."""
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, shingle_n)]
    n_tok = F.count(F.lit(1)).over(Window.partitionBy("id"))
    return tok.select(
        "id",
        "pos",
        F.concat_ws(" ", *leads).alias("shingle"),
        leads[-1].isNotNull().alias("full"),
        n_tok.alias("n_tok"),
    ).filter(
        # complete n-grams, or the single whole-text shingle for short docs
        F.col("full") | ((F.col("n_tok") < shingle_n) & (F.col("pos") == 0))
    ).select("id", "pos", "shingle")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hot: DataFrame | None = None,
    hash_family: str = "xxhash64",
    capped_stream: DataFrame | None = None,
) -> DataFrame:
    """(id, signature array<long>[num_hashes]) via k universal-hash members.

    ``hash_family`` picks the member-hash construction:

    - ``"xxhash64"`` (default, fastest): member i is
      ``min(xxhash64(xxhash64(shingle), i))`` — engine-internal, use for
      pipelines that only ever compare signatures inside Spark.
    - ``"md5"`` (ENGINE-PORTABLE): one md5 per distinct (id, shingle)
      pair — min is duplicate-invariant, so the md5/conv arithmetic runs
      over a deduplicated stream, not per occurrence — yielding
      two 32-bit halves (h1, h2); member i is
      ``min((h1 + i * h2) mod (2^31 - 1))`` — Kirsch-Mitzenmacher double
      hashing, pure integer arithmetic another engine reproduces exactly
      from the same md5 hex (the discipline that made SimHash
      oracle-checkable). All values stay < 2^39, so the arithmetic is
      overflow-free under ANSI semantics on any engine. This makes the
      whole MinHash/LSH pipeline — signatures, band collisions
      (bucket-hash equality <=> member-slice equality w.h.p.), estimated
      Jaccard — value-checkable against a SQL twin.

    ``hot`` (a stop-shingle frame from :func:`hot_shingles`) excludes
    globally hot shingles from the signature, making the MinHash estimate
    an unbiased estimator of the CAPPED Jaccard — the statistic the exact
    paths (:func:`jaccard_all_pairs`, :func:`ngram_jaccard_pairs`)
    compute under the same cap. Without it, a pair whose capped Jaccard
    clears a threshold can have its signature agreement diluted by
    non-shared boilerplate shingles, and a downstream estimated-Jaccard
    filter loses the Binomial recall bound against capped ground truth.
    A document whose every shingle is hot contributes no signature row
    (its capped shingle set is empty — it cannot pair under the cap
    either).

    Execution shape chosen for whole-stage codegen (higher-order array
    lambdas are interpreted in Spark and were ~40x slower here):
    explode shingles -> ONE codegen'd xxhash64 per shingle -> hash
    aggregate computing min(xxhash64(h, seed_i)) for each family member i
    (re-hashing the 64-bit shingle hash with a per-member seed; pure
    codegen, no ANSI overflow concerns). One shuffle on id; partial
    aggregation runs map-side, so the shuffle carries at most one 64-long
    signature per (id, partition).
    """
    # shingle stream via posexplode + lead() (_shingle_stream): codegen-
    # friendly, and its window shuffle on id is reused by the final
    # aggregation. Duplicate shingles don't change a min, so the cheap
    # xxhash64 family skips any distinct pass; the md5 family dedups the
    # (id, shingle) stream first so the expensive md5 + two conv/substring
    # chain runs once per distinct shingle, not per occurrence (partial
    # hash-aggregation makes the dedup map-side-combining on a stream
    # already clustered by id).
    #
    # ``capped_stream``: a precomputed (id, shingle[, sz]) frame from
    # :func:`capped_distinct_shingles` (64-bit xxhash64 values, hot
    # shingles already excluded). A pipeline that needs BOTH signatures
    # and exact shingle sets (LSH + rerank) persists that frame once and
    # passes it here AND to :func:`ngram_jaccard_pairs.capped_sets` —
    # one tokenize/explode/hash pass instead of two (r10 guide §2.4:
    # share the exchange-producing subtree). min over the distinct
    # stream equals min over the occurrence stream, so signatures are
    # bit-identical. xxhash64 family only: the md5 members need the
    # shingle STRING, which the hashed stream no longer carries.
    if capped_stream is not None:
        if hash_family != "xxhash64":
            raise ValueError(
                "capped_stream requires hash_family='xxhash64' (the md5 "
                "members hash the shingle string, not its xxhash64)"
            )
        if hot is not None:
            raise ValueError(
                "hot must be None with capped_stream — apply the "
                "stop-shingle exclusion when BUILDING the stream "
                "(capped_distinct_shingles(hot=...)); silently dropping "
                "it here would break the capped-Jaccard recall bound"
            )
        base = capped_stream.select("id", F.col("shingle").alias("h"))
        aggs = [
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
        return (
            base.groupBy("id")
            .agg(*aggs)
            .select(
                "id",
                F.array(
                    *[F.col(f"m{i}") for i in range(num_hashes)]
                ).alias("signature"),
            )
        )
    stream = _shingle_stream(df, text_col, id_col, shingle_n)
    if hash_family == "md5":
        dedup_stream = stream.select("id", "shingle").distinct()
        m = F.md5(F.col("shingle"))
        base = dedup_stream.select(
            "id",
            F.xxhash64(F.col("shingle")).alias("h"),
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        )
    elif hash_family == "xxhash64":
        base = stream.select("id", F.xxhash64(F.col("shingle")).alias("h"))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    if hot is not None:
        # the stop-shingle frame is keyed by xxhash64 regardless of the
        # member family (hot_shingles emits xxhash64 values)
        base = base.join(
            F.broadcast(hot.select(F.col("shingle").alias("h"))), "h", "left_anti"
        )
    if hash_family == "md5":
        _P = 2147483647  # 2^31 - 1; h1 + i*h2 < 2^39, overflow-free
        aggs = [
            F.min(F.pmod(F.col("h1") + i * F.col("h2"), F.lit(_P))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    return (
        base.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature"))
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: same band-slice hash => candidate pair.

    Explodes each signature into ``bands`` (band_idx, band_hash) keys and
    self-joins per bucket. The join is an equi-join on (band, hash): a
    single shuffle, skew-handled by AQE; output is distinct unordered
    pairs with the estimated Jaccard from full-signature agreement.

    Inherent skew note: a cluster of d EXACT duplicates collides in every
    band and emits d(d-1)/2 candidate pairs — quadratic in the dup-group
    size, by construction of banding (any LSH implementation pays it).
    The standard pipeline mitigation is upstream, not here: run
    :func:`exact_dedup` first and band only the canonical representatives
    (16-byte-key groupBy — cheap at any scale), so d collapses to 1 per
    identical-content group before near-dup detection. AQE's skew-join
    split bounds what remains.
    """
    n = bands * rows_per_band
    # the banding self-join reads signatures twice; eager localCheckpoint
    # (not persist) so (a) the signature aggregation runs once and (b)
    # BOTH join sides plan as leaves — a persisted frame keeps its full
    # logical plan, so the 64-member aggregate tree would be re-walked
    # by Catalyst on every run for each side (r10 interleaved A/B, min
    # of 4 at sf0.1: ckpt 2.34 s vs persist 2.47 s for the md5 pipeline,
    # ckpt 3.59 vs 4.10 for the LSH+rerank pipeline). A frame the
    # CALLER already PERSISTED is used as-is — re-checkpointing it
    # would build a second full copy plus one blocking job. NOTE: the
    # storageLevel probe only detects persisted frames — a caller-
    # localCheckpoint'ed frame reports StorageLevel.NONE (verified
    # empirically in this session's Spark) and would get a redundant
    # second materialized copy; no current caller passes one (r10
    # advisor).
    # NOTE (release_cached contract): when the checkpoint is taken, the
    # returned pairs' lineage is truncated to checkpoint blocks —
    # consume the result BEFORE release_cached(), as with
    # connected_components' iterative path.
    if signatures.storageLevel == StorageLevel.NONE:
        signatures = _ckpt(signatures)
    banded = signatures.select(
        "id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "signature", "bb.band", "bb.bucket")

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.signature").alias("sig_a"),
            F.col("r.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(agree / F.size("sig_a"), 6).alias("est_jaccard"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hot: DataFrame | None = None,
    capped_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs (the rerank step after
    LSH). Joins shingle sets back onto the candidate pairs — candidates are
    assumed small relative to the corpus, so this is two hash joins.

    Shingling is restricted to documents that actually appear in a
    candidate pair (semi-join first): at 100 TB the candidate set is a
    vanishing fraction of the corpus and shingling everything would
    dominate the query.

    ``hot`` (from :func:`hot_shingles`, built once per corpus) drops the
    SAME stop shingles as :func:`jaccard_all_pairs`' ``max_shingle_df``
    cap, so both exact-Jaccard paths share one definition and "LSH
    approximates the all-pairs ground truth" holds on corpora with hot
    shingles."""
    # eager localCheckpoint: the candidate frame is read three times
    # (two id projections + the final left join), and its producer is
    # typically the whole banding pipeline — truncating the plan to a
    # leaf keeps Catalyst from re-walking that tree per consumer per
    # run (r10 interleaved A/B — see minhash_lsh_candidates, including
    # the already-persisted skip and the consume-before-release_cached
    # contract note, both of which apply here too)
    if candidates.storageLevel == StorageLevel.NONE:
        candidates = _ckpt(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if capped_sets is not None:
        if hot is not None:
            raise ValueError(
                "hot must be None with capped_sets — the "
                "cap is a property of the precomputed frame; passing a "
                "different one here would be silently ignored and the "
                "jaccard values would no longer match the frame's cap"
            )
        # the caller already holds a persisted (id, shingle, sz) frame
        # (capped_distinct_shingles) built for the SAME corpus/cap —
        # e.g. the one its signature stage aggregated — so the rerank
        # restricts it to candidate docs with a broadcast semi-join
        # instead of re-running tokenize/explode/hash/distinct/window
        # over the corpus (sz over the full corpus is identical to sz
        # over the candidate subset: it is a per-id count). No extra
        # persist: the probe over the cached frame is map-side.
        exploded = capped_sets.join(
            F.broadcast(cand_ids),
            capped_sets["id"] == cand_ids["id"],
            "left_semi",
        )
    else:
        needed = df.join(
            F.broadcast(cand_ids), df[id_col] == cand_ids["id"], "left_semi"
        )
        # same inverted-index machinery as jaccard_all_pairs, restricted
        # to candidate docs; candidate pairs sharing no shingle get
        # jaccard 0
        dist = (
            _shingle_stream(needed, text_col, id_col, shingle_n)
            .select("id", F.xxhash64("shingle").alias("shingle"))
            .distinct()
        )
        if hot is not None:
            dist = dist.join(F.broadcast(hot), "shingle", "left_anti")
        exploded = _persist_eager(
            dist.withColumn(
                "sz", F.count(F.lit(1)).over(Window.partitionBy("id"))
            )
        )
    l, r = exploded.alias("l"), exploded.alias("r")
    common = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("l.sz").alias("sz_a"),
            F.min("r.sz").alias("sz_b"),
        )
    )
    out = candidates.select("id_a", "id_b").join(common, ["id_a", "id_b"], "left")
    jac = F.coalesce(
        F.round(
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6
        ),
        F.lit(0.0),
    )
    return out.select("id_a", "id_b", jac.alias("jaccard"))


DEFAULT_MAX_SHINGLE_DF = 1000

# sentinel distinguishing "caller left max_shingle_df at its default"
# from an explicit value (r11 review: int identity against the module
# constant was silently bypassable and interning-dependent). Unset
# resolves to DEFAULT_MAX_SHINGLE_DF normally, and to None when a
# precomputed `hot` frame is supplied (the cap is a property of that
# frame); an EXPLICIT non-None cap alongside `hot` raises.
_CAP_UNSET = object()


def _resolve_cap(max_shingle_df, hot, fn_name):
    if max_shingle_df is _CAP_UNSET:
        return None if hot is not None else DEFAULT_MAX_SHINGLE_DF
    if hot is not None and max_shingle_df is not None:
        raise ValueError(
            f"{fn_name}: max_shingle_df must be None when a precomputed "
            "hot frame is supplied - the cap is a property of that frame"
        )
    return max_shingle_df


def hot_shingles(
    df: DataFrame,
    max_shingle_df: int | float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(shingle-hash) frame of the stop shingles: distinct shingles whose
    corpus-wide document frequency exceeds the cap.

    ``max_shingle_df`` is either an ABSOLUTE document count (int >= 1) or
    a FRACTION of the corpus (float in (0, 1)). The fractional form is
    the one that means the same thing at every scale: an absolute
    df=1000 is vanishingly rare at 10^9 docs while genuine boilerplate
    (df = 0.5% of the corpus) sails under it; df > 0.5% names the same
    shingles at sf0.001 and at 100 TB. The corpus size joins in as a
    broadcast one-row count frame — no driver-side collect.

    In a production pipeline this frame is computed once per corpus and
    persisted beside it; every consumer here also accepts a precomputed
    frame so that amortization is expressible.
    """
    dist = (
        _shingle_stream(df, text_col, id_col, shingle_n)
        .select("id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    return _hot_from_dist(dist, df, max_shingle_df)


def _hot_from_dist(
    dist: DataFrame, df: DataFrame, max_shingle_df: int | float
) -> DataFrame:
    """Stop-shingle set from an existing distinct (id, shingle) stream;
    ``df`` supplies the corpus row count for the fractional form."""
    dfreq = dist.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if isinstance(max_shingle_df, float):
        if not 0 < max_shingle_df < 1:
            raise ValueError(
                "fractional max_shingle_df must be in (0, 1); got "
                f"{max_shingle_df}"
            )
        n = df.select(F.count(F.lit(1)).alias("__n_docs"))
        return (
            dfreq.crossJoin(F.broadcast(n))
            .filter(F.col("df") > F.col("__n_docs") * F.lit(max_shingle_df))
            .select("shingle")
        )
    return dfreq.filter(F.col("df") > int(max_shingle_df)).select("shingle")


def capped_distinct_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_shingle_df: int | float | None = _CAP_UNSET,  # type: ignore[assignment]
    hot: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle-hash, sz) — each document's distinct shingle set with
    globally hot shingles (document frequency > ``max_shingle_df``,
    absolute count or corpus fraction — see :func:`hot_shingles`)
    removed, and ``sz`` = the capped set size.

    The df-cap is the stop-shingle mitigation for inverted-index joins:
    a shingle shared by d documents fans out to d(d-1)/2 pairs in a
    self-join, so ONE boilerplate 3-gram in 1% of a 100 TB corpus makes
    the pair aggregate quadratic in that posting list. Capping df bounds
    per-key fanout and removes exactly the shingles that carry no
    near-dup signal (boilerplate shared across unrelated documents).
    Semantics are explicit, not approximate: downstream Jaccard is
    computed over the CAPPED sets on both sides of the ratio, a rule the
    DuckDB oracles mirror verbatim — and ONE rule shared by every exact-
    Jaccard path (all-pairs and LSH rerank), so the two agree on corpora
    with hot shingles.

    The hot list itself is tiny (it's the df > cap tail), so it ships as
    a broadcast anti-join — no extra shuffle of the shingle stream.
    """
    # matching ngram_jaccard_pairs' capped_sets contract (r10 advisor):
    # the cap is a property of the precomputed hot frame — a DIFFERENT
    # cap passed alongside it would be silently ignored and the output
    # labeled with the wrong cap. The sentinel default counts as unset
    # so `hot=`-only calls stay valid.
    max_shingle_df = _resolve_cap(max_shingle_df, hot, "capped_distinct_shingles")
    dist = (
        _shingle_stream(df, text_col, id_col, shingle_n)
        .select("id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    if hot is None and max_shingle_df is not None:
        # persisted: the hot-list aggregate (broadcast build side) and
        # the anti-join probe are DISTINCT subtrees, so an unpersisted
        # dist pays the tokenize/explode/hash/distinct chain twice —
        # only the pre-window repartition exchange is shared (r10 plan
        # audit; guide §5 persist-when-reused)
        dist = _persist_eager(dist)
        hot = _hot_from_dist(dist, df, max_shingle_df)
    if hot is not None:
        # a precomputed stop-shingle frame (xxhash64 values, the
        # hot_shingles contract) skips the corpus df aggregation — the
        # amortized production path (hot list built once per corpus)
        dist = dist.join(F.broadcast(hot), "shingle", "left_anti")
    return dist.withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))


def jaccard_all_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = _CAP_UNSET,  # type: ignore[assignment]
    hot: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs above ``threshold`` — the
    oracle-checkable ground truth the LSH family approximates — computed
    over df-capped shingle sets (see :func:`capped_distinct_shingles`).

    NOT a naive cross join: an inverted shingle index (explode -> equi-join
    on shingle -> count common) emits only pairs sharing >=1 shingle, which
    for any threshold > 0 is exactly the candidate set. One shuffle on the
    shingle key + one hash aggregate on the pair key; set sizes ride along
    with the exploded rows so no extra join is needed. At 100 TB the
    shingle join is the textbook plan; frequency-skewed shingles are the
    risk, and the df-cap removes them from BOTH candidate generation and
    the Jaccard ratio (AQE skew-split covers what remains under the cap).
    """
    # shingle via the codegen'd stream, then DISTINCT per doc (Jaccard is
    # over shingle SETS) and the set size via a count window that reuses
    # the distinct's hash partitioning on id. The join key is the 64-bit
    # shingle hash, not the string — the shuffle carries 8-byte keys and
    # collisions are negligible (~n²/2^65).
    # ``hot``: a precomputed stop-shingle frame (hot_shingles contract)
    # skips the per-query df aggregation AND the extra persisted copy of
    # the distinct stream it needs — the amortized once-per-corpus path
    # every registered consumer takes via plans._hot_shingles_cached
    exploded = capped_distinct_shingles(
        df, text_col, id_col, shingle_n, max_shingle_df, hot=hot
    )
    exploded = _persist_eager(exploded)  # read twice by the self-join
    l, r = exploded.alias("l"), exploded.alias("r")
    common = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("l.sz").alias("sz_a"),
            F.min("r.sz").alias("sz_b"),
        )
    )
    jac = F.round(
        F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6
    )
    return common.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens, fully JVM-side.

    For each bit position, sum +-1 over token hashes' bit values; the
    sign vector packs into one long. Expressed with higher-order array
    functions so whole-stage codegen applies per row (no shuffle).

    ``token_hash`` picks the 64-bit token hash family: ``xxhash64``
    (fastest, engine-specific) or ``md5`` (the first 16 hex chars of
    md5 reinterpreted as a signed 64-bit value — one md5 per DISTINCT
    token, still codegen). The md5 form is ENGINE-PORTABLE: DuckDB
    reconstructs the identical signed value from the same hex, which
    makes the whole SimHash pipeline — signatures, pigeonhole blocking
    (exact for the hamming threshold), verification — oracle-checkable
    end to end.
    """
    # Same codegen-friendly shape as minhash_signatures: explode tokens,
    # hash each once (codegen), then a hash aggregate with one signed
    # bit-vote sum per bit position; pack the sign vector driver-free in a
    # final projection. Distinct powers of two can't overflow the sum;
    # bit 63 lands on Long.MIN_VALUE which is exactly the sign-bit encoding.
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    tok = F.coalesce(F.col("tok"), F.lit(""))
    if token_hash == "md5":
        token_h = md5_signed64(tok)
    elif token_hash == "xxhash64":
        token_h = F.xxhash64(tok)
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).select("id", token_h.alias("h"))
    votes = [
        F.sum(F.when(F.getbit("h", F.lit(i)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    # pack the sign vector with ONE compact higher-order fold instead of
    # a 64-term chained when-sum: the chained form is a ~400-node
    # expression tree the optimizer re-walks on EVERY run (measured
    # +1.1 s/run of driver time at any data size — r10 micro A/B,
    # 0.95 s -> 2.01 s with the chained projection). The fold is ~20
    # nodes; its per-row interpretation cost is irrelevant (one row per
    # document AFTER the aggregate). Bit i sets via shiftleft(1L, i) —
    # a bit op, so i = 63 yields exactly the Long.MIN_VALUE sign-bit
    # encoding the chained form produced; bitwise OR composes the
    # distinct powers with no arithmetic overflow to reason about.
    votes_arr = F.array(*[F.col(f"b{i}") for i in range(bits)])
    # SQL form: pyspark's F.shiftleft only takes a literal shift amount,
    # and the shift here is the lambda's index variable
    packed = F.expr(
        f"aggregate(zip_with(_votes, sequence(0, {bits - 1}), "
        "(v, i) -> IF(v > 0, shiftleft(1L, i), 0L)), "
        "0L, (acc, x) -> acc | x)"
    )
    return (
        base.groupBy("id")
        .agg(*votes)
        .withColumn("_votes", votes_arr)
        .select("id", packed.alias("simhash"))
    )


def simhash_near_duplicates(
    sim: DataFrame, max_hamming: int = 3, blocks: int = 4
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: split the 64-bit hash into ``blocks`` chunks; any
    pair within distance ``max_hamming < blocks`` must agree on >=1 chunk,
    so candidates come from equi-joins on chunk values (one shuffle),
    then exact popcount verification on the candidate set.
    """
    width = 64 // blocks
    mask = (1 << width) - 1
    # the blocking self-join reads the signature frame twice; without a
    # persist the 64-vote SimHash aggregation runs once per side (this was
    # 77 s -> ~expected <10 s at sf0.1)
    sim = _persist(sim)
    chunked = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bc"),
    ).select("id", "simhash", "bc.blk", "bc.chunk")
    l, r = chunked.alias("l"), chunked.alias("r")
    # popcount-verify IMMEDIATELY after the blocking join, before the
    # distinct: the hamming filter is a map-side codegen expression, so
    # evaluating it first means the dropDuplicates shuffle carries only
    # true near-dup pairs (tiny at any scale) instead of every chunk
    # collision — the collision set is what grows superlinearly on a
    # skewed-vocabulary corpus (sf1 study measured exponent 1.1 with the
    # distinct-first order)
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        l.join(
            r,
            on=[
                F.col("l.blk") == F.col("r.blk"),
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): position-robust LOCAL fingerprint selection
# --------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, fp): the winnowed fingerprint set per document.

    Winnowing selects, from every window of ``w`` consecutive k-gram
    hashes, that window's minimum — the DISTINCT set of those minima is
    the fingerprint set. Guarantee: any shared substring of at least
    ``w + k - 1`` tokens yields at least one shared fingerprint, while
    only ~``2/(w+1)`` of positions are kept — position-robust (an
    insertion far from a match can't unselect it), unlike fixed-stride
    passage chunks (``corpus.passage_chunks``) where a one-token shift
    changes every window.

    Expressed as ``min(hash) OVER (PARTITION BY id ORDER BY pos ROWS
    w-1 PRECEDING)`` + distinct: each trailing window contributes its
    minimum, which is exactly the per-window argmin selection (leading
    partial windows add a benign superset at the document head). The
    gram hash is the engine-portable signed-64 md5 form
    (:func:`md5_signed64`, shared with the md5 SimHash family), so the
    whole selection replays in ANSI SQL and the oracle twin is fully
    static. Per-doc window sort rides the id-keyed spread
    ``_shingle_stream`` already establishes; the distinct shuffles only
    the selected ~``2n/(w+1)`` fingerprints."""
    stream = _shingle_stream(df, text_col, id_col, k)
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        stream.select("id", "pos", md5_signed64(F.col("shingle")).alias("hv"))
        .select("id", F.min("hv").over(win).alias("fp"))
        .distinct()
    )


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= ``min_shared``
    winnowed fingerprints — the MOSS plagiarism-detection join.

    ``max_df`` is the boilerplate cap: a fingerprint present in more
    than ``max_df`` documents is navigation/template text whose postings
    would fan out quadratically (the same df-cap discipline as the
    n-gram inverted index); dropping it loses only pairs whose ONLY
    evidence is corpus-wide boilerplate. The pair join is an equi-join
    on fingerprint value over the capped postings — candidates never
    include documents without a shared selected gram."""
    # the fingerprint frame feeds the df count AND both self-join sides;
    # without the persist the shingle explode + window + distinct subtree
    # runs 3-4x (the same rework simhash_near_duplicates pins down)
    fps = _persist_eager(winnow_fingerprints(df, text_col, id_col, k, w))
    dfc = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__ndocs"))
    sel = fps.join(
        dfc.filter(
            (F.col("__ndocs") >= 2) & (F.col("__ndocs") <= max_df)
        ),
        "fp",
    )
    a = sel.select("fp", F.col("id").alias("id_a"))
    b = sel.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Dedup clustering: near-dup pairs -> connected components -> canonical doc
# --------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 1_000_000,
    detach: bool = False,
) -> DataFrame:
    """(id, component) for every vertex of the (undirected) edge set;
    component = the minimum vertex id reachable from the vertex.

    The clustering step of a dedup pipeline: pair detection (exact hash /
    LSH / SimHash) emits edges, components group transitively-linked
    documents, and min-id-per-component picks the canonical keeper.

    Hybrid execution (what GraphFrames-style CC also converges to): the
    near-dup edge set is a tiny contraction of the corpus — pair
    detection already collapsed 100 TB of documents into pairs — so when
    it fits comfortably at the driver (<= ``driver_threshold`` edges, a
    ~16 MB collect at the default), a local union-find answers in one
    pass instead of paying diameter × (shuffle join + aggregate) jobs
    on KB-sized frames. Above the threshold, iterative min-label
    propagation as a driver loop over DataFrame ops: each round joins
    labels across edges both ways and takes the min; the loop stops when
    a round changes no label (checked with an aggregate, not a collect
    of data rows). Rounds = graph diameter, tiny for near-dup clusters
    (dup groups are cliques or near-cliques); max_iter bounds runaway
    graphs. Both paths produce identical min-id labelings
    (tests/test_operators.py forces each and compares).

    ``detach=True`` makes the result CALLER-OWNED: on the iterative path
    the final labels are copied into a fresh eager ``localCheckpoint``
    that is NOT registered in this module's release registries, so the
    result stays consumable after :func:`release_cached` (the default
    result's lineage is truncated to registry-held checkpoint blocks
    and dies with them — the documented invalidation contract). The
    driver union-find path is already independent, so detach is free
    there. The detached copy's blocks are reclaimed by Spark's
    ContextCleaner once the caller drops the frame.
    """
    # persist BEFORE the size probe: edges usually come off an expensive
    # pair-detection job, and both the probe and whichever path follows
    # must read from the materialization, not recompute upstream
    sym = _persist(
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
    )
    if driver_threshold > 0:
        # Arrow/pandas fetch, not .collect(): Python Row objects carry
        # ~10-20x overhead, so a 1M-edge probe as Rows is hundreds of MB
        # of driver heap; as two int64 numpy columns it is the ~16 MB the
        # threshold was sized for.
        head = sym.limit(driver_threshold + 1).toPandas()
        if len(head) <= driver_threshold:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for u, v in zip(head["u"].to_numpy(), head["v"].to_numpy()):
                u, v = int(u), int(v)
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min id so roots ARE the component labels
                    lo, hi = min(ru, rv), max(ru, rv)
                    parent[hi] = lo
            rows = [(x, find(x)) for x in parent]
            return edges.sparkSession.createDataFrame(
                rows, "id long, component long"
            )

    sym = _persist(
        sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    # each round's state is an EAGER localCheckpoint (_ckpt): it both
    # materializes the round and truncates the logical plan to a leaf —
    # without truncation the state subtree appears twice per round (the
    # label join + the neighbor aggregate) and the Catalyst plan doubles
    # every iteration, OOMing the driver on deep (high-diameter) graphs
    # long before executors see any data
    prev = _ckpt(sym.select("u").distinct().select("u", F.col("u").alias("comp")))
    labels = prev
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels.withColumnsRenamed({"u": "v", "comp": "vcomp"}), "v")
            .groupBy("u")
            .agg(F.min("vcomp").alias("ncomp"))
        )
        # carry the old label alongside the new one so convergence is read
        # off the SAME materialization — no second join/job per round
        updated = _ckpt(
            labels.join(neighbor_min, "u", "left").select(
                "u",
                F.col("comp").alias("old"),
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        changed = updated.filter(F.col("comp") != F.col("old")).limit(1).count()
        # the checkpoint materialized `updated`, so the previous round's
        # labels are superseded — release them eagerly or a long
        # convergence chain accumulates one dead block-manager frame per
        # round
        _release_ckpt(prev)
        prev = updated
        labels = updated.select("u", "comp")
        if changed == 0:
            break
    out = labels.select(F.col("u").alias("id"), F.col("comp").alias("component"))
    if detach:
        # unregistered checkpoint: survives release_cached(); lifecycle
        # passes to the caller (ContextCleaner reclaims on GC)
        out = out.localCheckpoint(eager=True)
    return out


def dedup_cluster_keepers(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    detach: bool = False,
) -> DataFrame:
    """Full dedup decision: (doc_id, component, keep) where keep marks the
    canonical (min-id) document of each near-dup cluster. Documents in no
    pair are implicit singletons (kept); only clustered docs appear here —
    at scale the anti-join of the corpus against this frame IS the
    keep-set complement, no need to materialize singleton rows.
    ``detach=True`` passes through to :func:`connected_components` so the
    result survives :func:`release_cached`."""
    comps = connected_components(pairs, detach=detach)
    return comps.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).alias("keep"),
    )


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity self-join (SSJoin / AllPairs / PPJoin)
# --------------------------------------------------------------------------
#
# The EXACT counterpart to the LSH families above: prefix filtering finds
# every pair with Jaccard >= t — zero false negatives, unlike banding —
# while still never materializing the quadratic all-pairs space. The idea
# (Chaudhuri et al., "A Primitive Operator for Similarity Joins", ICDE'06;
# Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07; Xiao
# et al., "Efficient Similarity Joins for Near Duplicate Detection",
# WWW'08): order every document's shingle set by a GLOBAL token order
# (ascending document frequency — rarest first), and observe that two sets
# with Jaccard >= t MUST share a token within their first
# |x| - ceil(t*|x|) + 1 tokens. Only those prefix tokens enter the
# inverted-index self-join, so candidate fanout is governed by the posting
# lists of RARE tokens; boilerplate lands at the end of the order and
# never generates candidates. Two further exact filters prune inside the
# join: the length filter (J >= t forces t*|y| <= |x| <= |y|/t) and
# PPJoin's positional filter (a token matching at ranks i, j caps the
# achievable overlap at 1 + min(|x|-i, |y|-j), which must still reach
# ceil(t/(1+t)*(|x|+|y|))).
#
# Every predicate is evaluated in EXACT integer arithmetic: the threshold
# is carried as a rational n/d, so "rnk <= |x| - ceil(t|x|) + 1" becomes
# "n*sz <= d*(sz - rnk + 1)" — no float division anywhere, hence no
# engine-dependent boundary behavior. Shingles hash through md5_signed64
# (the engine-portable family), so the candidate pipeline itself — ranks,
# prefixes, filters — replays as static SQL in the stats oracle, while
# the pairs query is value-checked against an INDEPENDENT all-pairs
# DuckDB twin (different algorithm, same answer: an algorithm-level
# differential test of the no-false-negative guarantee).


def _prefix_ranked_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_shingle_df: int | float | None,
) -> DataFrame:
    """(id, shingle, df, sz, rnk): each doc's distinct capped shingle set
    (md5_signed64 hashes) with corpus-wide document frequency, capped set
    size, and the doc-local rank under the global (df ASC, shingle ASC)
    order. One shuffle on shingle (the df aggregate + cap filter), one on
    id (the size/rank windows share a single partitioning)."""
    # hash per occurrence, THEN distinct: the 8-byte md5_signed64 keys
    # shuffle far cheaper than the 3-gram strings a distinct-first plan
    # would carry (measured 1.7x at sf0.1), and the md5 chain is pure
    # codegen. Document frequency comes from a count window over the
    # SAME shingle partitioning — no separate aggregate + join-back.
    dist = (
        _shingle_stream(df, text_col, id_col, shingle_n)
        .select("id", md5_signed64(F.col("shingle")).alias("shingle"))
        .distinct()
    )
    joined = dist.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_shingle_df is not None:
        if isinstance(max_shingle_df, float):
            if not 0 < max_shingle_df < 1:
                raise ValueError(
                    "fractional max_shingle_df must be in (0, 1); got "
                    f"{max_shingle_df}"
                )
            n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
            joined = joined.crossJoin(F.broadcast(n_docs)).filter(
                F.col("df") <= F.col("__n_docs") * F.lit(max_shingle_df)
            )
        else:
            joined = joined.filter(F.col("df") <= int(max_shingle_df))
    wid = Window.partitionBy("id")
    word = wid.orderBy(F.asc("df"), F.asc("shingle"))
    return joined.select(
        "id",
        "shingle",
        "df",
        F.count(F.lit(1)).over(wid).alias("sz"),
        F.row_number().over(word).alias("rnk"),
    )


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    from fractions import Fraction

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1]; got {threshold}")
    frac = Fraction(threshold).limit_denominator(1_000_000)
    return frac.numerator, frac.denominator


def prefix_filter_candidates(
    ranked: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from the prefix-restricted
    inverted-index self-join, with the length and positional filters
    applied INSIDE the join condition (they prune before the pair rows
    ever reach the distinct's shuffle). Exact-integer predicates with the
    threshold as a rational n/d — see section comment."""
    n, d = _threshold_fraction(threshold)
    # prefix: rnk <= sz - ceil(n*sz/d) + 1  <=>  n*sz <= d*(sz - rnk + 1)
    prefix = ranked.filter(
        F.lit(n) * F.col("sz") <= F.lit(d) * (F.col("sz") - F.col("rnk") + 1)
    ).select("id", "shingle", "sz", "rnk")
    l, r = prefix.alias("l"), prefix.alias("r")
    length_ok = F.lit(d) * F.least(F.col("l.sz"), F.col("r.sz")) >= F.lit(
        n
    ) * F.greatest(F.col("l.sz"), F.col("r.sz"))
    # positional: 1 + min(remaining_l, remaining_r) >= ceil(n*(sa+sb)/(n+d))
    # <=> (1 + min(...)) * (n+d) >= n*(sa+sb)
    pos_ok = (
        F.lit(1)
        + F.least(
            F.col("l.sz") - F.col("l.rnk"), F.col("r.sz") - F.col("r.rnk")
        )
    ) * F.lit(n + d) >= F.lit(n) * (F.col("l.sz") + F.col("r.sz"))
    return (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id"))
            & length_ok
            & pos_ok,
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join: every unordered pair whose capped
    n-gram-shingle Jaccard is >= ``threshold`` — (id_a, id_b, jaccard).

    Guaranteed equal to the all-pairs ground truth (the prefix-filtering
    principle has no false negatives; verification is exact), but the
    inverted-index join touches only PREFIX tokens — the rare end of the
    global df order — instead of every posting list. The acceptance
    predicate is exact-integer (``d*common >= n*(union)``), so the result
    is boundary-proof across engines; the reported ``jaccard`` column is
    rounded to 6 dp for display only.

    At 100 TB: candidate generation is an equi-join whose fanout is
    bounded by rare-token df (the global order IS the skew mitigation —
    a token shared by half the corpus sits outside almost every prefix);
    the optional ``max_shingle_df`` cap removes the pathological head
    entirely and keeps Jaccard semantics aligned with the rest of the
    dedup family (one cap rule shared by every exact path). Verification
    joins shingle sets back onto candidate docs only — the
    ``ngram_jaccard_pairs`` discipline.

    THRESHOLD REGIME: prefix length is ``sz - ceil(t*sz) + 1``, so the
    prefix is ~(1-t) of each set — prefix filtering is the high-
    threshold (t >= ~0.7) exact join. At t <= 0.5 on a vocabulary-dense
    corpus HALF of every set is prefix and candidates approach the
    naive shared-token join (measured: 18M candidates on a 50k-doc
    replica corpus at t=0.5 vs thousands at 0.8); below ~0.7 prefer the
    MinHash-LSH family and rerank. The candidate joins are NOT forced
    broadcasts for exactly this reason — AQE broadcasts them when they
    are genuinely small."""
    ranked = _persist(
        _prefix_ranked_sets(df, text_col, id_col, shingle_n, max_shingle_df)
    )
    return _verified_pairs_from_ranked(ranked, threshold)


def _verified_pairs_from_ranked(
    ranked: DataFrame, threshold: float, cand: DataFrame | None = None
) -> DataFrame:
    """Candidate generation + exact verification over an already-ranked
    (and persisted) capped-set frame — shared by the pairs query and the
    stats profile so the stats run builds the pipeline once. ``cand``
    lets the stats profile hand in its already-persisted candidate frame
    so counting and verifying share ONE evaluation of the join (the most
    expensive stage) instead of rebuilding it."""
    n, d = _threshold_fraction(threshold)
    if cand is None:
        cand = _persist(prefix_filter_candidates(ranked, threshold))
    # CANDIDATE-FIRST intersection (round-10): attach each candidate
    # pair's a-side set rows, then equi-join the b-side on
    # (id_b, shingle) — every intermediate row is one (candidate pair,
    # shared shingle), so the volume is bounded by |cand| x capped set
    # size. The previous shape self-joined the candidate DOCS' posting
    # lists on shingle and semi-joined pairs down afterwards — i.e. it
    # re-enumerated every shared-token pair among candidate docs (the
    # naive-join population restricted to candidate ids) before the
    # filter. Same exact-integer acceptance; values identical (A/B'd
    # row-for-row at sf0.1); measured 2.8 s -> 1.3 s on the t=0.8
    # corpus. NO forced broadcast on cand: at low thresholds candidates
    # reach tens of millions (measured 18M at t=0.5 on the 50k-doc sf1
    # replica) and AQE picks the join strategy from real sizes.
    sets = ranked.select("id", "shingle", "sz")
    a_rows = cand.join(
        sets.select(
            F.col("id").alias("id_a"),
            "shingle",
            F.col("sz").alias("sz_a"),
        ),
        "id_a",
    )
    common = a_rows.join(
        sets.select(
            F.col("id").alias("id_b"),
            "shingle",
            F.col("sz").alias("sz_b"),
        ),
        ["id_b", "shingle"],
    ).groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.min("sz_a").alias("sz_a"),
        F.min("sz_b").alias("sz_b"),
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        common.filter(F.lit(d) * F.col("n_common") >= F.lit(n) * union_sz)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_common") / union_sz, 6).alias("jaccard"),
        )
    )


def prefix_filter_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
) -> DataFrame:
    """One-row pruning profile of the prefix-filter join — the numbers
    that justify it at scale: corpus/posting sizes, prefix-row fraction,
    candidates surviving the in-join filters, naive shared-token pair
    count (what an unfiltered inverted index would aggregate), and the
    verified-pair count. All exact integers; the stats oracle replays the
    ENTIRE candidate pipeline (md5 hashes, global order, ranks, all three
    filters) as static SQL, value-checking the algorithm's internals."""
    n, d = _threshold_fraction(threshold)
    ranked = _persist(
        _prefix_ranked_sets(df, text_col, id_col, shingle_n, max_shingle_df)
    )
    # one persisted candidate frame, shared by the n_candidates count
    # and the verification leg — previously the self-join (the most
    # expensive stage) evaluated twice: once unpersisted for the count,
    # again inside _verified_pairs_from_ranked
    cand = _persist(prefix_filter_candidates(ranked, threshold))
    base = ranked.agg(
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_set_rows"),
        F.sum(
            (
                F.lit(n) * F.col("sz")
                <= F.lit(d) * (F.col("sz") - F.col("rnk") + 1)
            ).cast("long")
        ).alias("n_prefix_rows"),
    )
    l, r = ranked.alias("l"), ranked.alias("r")
    naive = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_naive_pairs"))
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = _verified_pairs_from_ranked(ranked, threshold, cand=cand).agg(
        F.count(F.lit(1)).alias("n_verified")
    )
    return (
        base.crossJoin(naive).crossJoin(n_cand).crossJoin(n_ver)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | float | None = None,
) -> DataFrame:
    """EXACT asymmetric containment join: every ORDERED pair (a, b),
    a != b, where ``|Sa ∩ Sb| / |Sa| >= threshold`` over the capped
    shingle sets — (id_contained, id_container, containment). The
    quote/subset detector: a doc whose shingles are mostly inside
    another's (eval-set passages embedded in training docs, boilerplate
    wrappers around a shared core) is invisible to symmetric Jaccard
    when the container is much larger.

    Candidate generation is the one-sided prefix-filter lemma: if
    ``|Sa ∩ Sb| >= ceil(t*|Sa|)`` then Sa's first
    ``|Sa| - ceil(t*|Sa|) + 1`` tokens (global ascending-df order) must
    contain a shared token (pigeonhole) — so only the CONTAINED side's
    prefix joins, against the container's full posting rows. No length
    filter exists for containment (the container may be any size), and
    the symmetric PPJoin positional filter degenerates to the prefix
    bound itself when the required overlap is ``ceil(t*|Sa|)`` — the
    prefix cut is the complete one-sided filter set. Candidate
    volume is sum-over-prefix-tokens of df — LINEAR in posting-list
    length, bounded by the df-cap, never quadratic. Verification and
    the acceptance predicate are exact-integer: ``d*common >= n*sz_a``.

    Oracle strategy: independent all-ordered-pairs DuckDB twin — same
    differential discipline as :func:`prefix_filter_pairs`."""
    n, d = _threshold_fraction(threshold)
    ranked = _persist(
        _prefix_ranked_sets(df, text_col, id_col, shingle_n, max_shingle_df)
    )
    # contained-side prefix: rnk <= sz - ceil(n*sz/d) + 1. For the
    # ONE-SIDED join this is also the strongest positional bound — the
    # symmetric PPJoin positional filter degenerates to exactly this
    # inequality when the required overlap depends only on the contained
    # side's size (ceil(t*|Sa|)), so no further in-join pruning exists.
    prefix = ranked.filter(
        F.lit(n) * F.col("sz") <= F.lit(d) * (F.col("sz") - F.col("rnk") + 1)
    )
    a, b = prefix.alias("a"), ranked.alias("b")
    cand = _persist(
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_contained"), F.col("b.id").alias("id_container"))
        .distinct()
    )
    # candidate-first intersection, same reshape as
    # _verified_pairs_from_ranked (round-10): intermediate rows are
    # (candidate pair, shared shingle) — bounded by |cand| x capped set
    # size instead of all shared-token pairs among candidate docs
    sets = ranked.select("id", "shingle", "sz")
    a_rows = cand.join(
        sets.select(
            F.col("id").alias("id_contained"),
            "shingle",
            F.col("sz").alias("sz_a"),
        ),
        "id_contained",
    )
    common = a_rows.join(
        sets.select(F.col("id").alias("id_container"), "shingle"),
        ["id_container", "shingle"],
    ).groupBy("id_contained", "id_container").agg(
        F.count(F.lit(1)).alias("n_common"), F.min("sz_a").alias("sz_a")
    )
    return common.filter(
        F.lit(d) * F.col("n_common") >= F.lit(n) * F.col("sz_a")
    ).select(
        "id_contained",
        "id_container",
        F.round(F.col("n_common") / F.col("sz_a"), 6).alias("containment"),
    )
