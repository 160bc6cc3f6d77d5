"""End-to-end pre-training data pipeline: the composition the individual
operators exist for, as ONE lazy DataFrame plan.

    raw corpus
      -> feature projection (tokens / quality / language; pure codegen)
      -> quality gates (non-empty, min tokens, min quality)
      -> exact dedup (min-id winner per normalized-content fingerprint)
      -> benchmark decontamination (3-gram overlap vs broadcast shingle set)
      -> stratified per-language downsample (deterministic md5 thresholds)
      -> train/val/test split assignment

Everything here is a composition of already-tested operators from
``operators.text`` / ``operators.sampling`` / ``operators.corpus``; no new
semantics are introduced, so the whole pipeline stays oracle-expressible
(see ``ORACLE_SQL['pretrain_corpus_summary']``) — the one stage that is
not (MinHash near-dup dedup) is an optional plug-in point covered by the
rows-only ``dedup_*`` family.

Scale shape: stages 1-2 and 5-6 are codegen'd projections/filters on the
scan (no shuffle); exact dedup is one shuffle on the 128-bit fingerprint;
decontamination is a broadcast join on shingles + one aggregate keyed by
doc id. Nothing collects to the driver; the plan's only wide exchanges
carry fingerprints and per-doc counters, never document payloads twice.

Declared fully lazily, the contamination join-back re-derives the deduped
subtree (a second column-pruned corpus scan). That is the right default
for a one-shot batch plan — re-reading pruned parquet is usually cheaper
than caching ~the whole corpus — but a production run that feeds MULTIPLE
consumers from the curated frame should materialize the dedup stage once
(persist to disk / write an intermediate table) and fan out from there.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import sampling as smp
from ..operators import text as tx
from ..operators.corpus import ngram_contamination

DEFAULT_STRAT_FRACTIONS = {"en": 0.8, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 1.0}
DEFAULT_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}

# The streaming leg inlines the benchmark's distinct shingles as a literal
# array (a stream-static join-back of exploded shingles would be
# stream-stream, which Structured Streaming rejects). Literal arrays are
# compiled into the physical plan, so their size is bounded hard: past this
# many shingles the plan blows up Janino codegen / driver memory and the
# caller must pre-reduce the benchmark (or run the batch leg, which
# broadcast-joins and has no such limit).
MAX_STREAM_BENCH_SHINGLES = 50_000


def pretrain_pipeline(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_quality: float = 0.3,
    max_contamination: float = 0.5,
    strat_fractions: Mapping[str, float] = DEFAULT_STRAT_FRACTIONS,
    split_weights: Mapping[str, float] = DEFAULT_SPLIT_WEIGHTS,
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus -> curated, deduped, decontaminated, split corpus.

    Returns one row per surviving document:
    (doc_id, lang, n_tokens, quality, contamination, split).
    """
    feats = docs.select(
        F.col(id_col),
        F.col("lang"),
        F.col(text_col),
        tx.token_count(text_col).alias("n_tokens"),
        tx.quality_score(text_col).alias("quality"),
        tx.fingerprint(text_col).alias("__fp"),
    )

    gated = feats.filter(
        (F.length(F.trim(text_col)) > 0)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("quality") >= min_quality)
    )

    # exact dedup: canonical keeper = min id per normalized-content
    # fingerprint; one shuffle keyed on the 128-bit hash, not the text
    w = Window.partitionBy("__fp").orderBy(id_col)
    deduped = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )

    if benchmark is not None:
        # contamination is per-document (its own shingles vs the
        # broadcast benchmark set), so computing it over GATED instead
        # of DEDUPED yields the identical value for every surviving doc
        # — the left join still matches exactly one contam row per id —
        # while rooting this branch ABOVE the window dedup: previously
        # the scan -> project -> filter -> full-text shuffle -> sort ->
        # row_number subtree was evaluated twice (once under the shingle
        # aggregate, once as the join-back left side; the two differ in
        # pruned columns, so neither ReusedExchange nor AQE stage dedup
        # fires — the q2 failure mode, r10 plan audit). The extra
        # shingle rows for dup docs it now processes are bounded by the
        # dup rate; the saved full-corpus exchange+sort is not
        # (optimization guide §2.4).
        contam = ngram_contamination(
            gated, benchmark, text_col, id_col, shingle_n
        ).select(id_col, "contamination")
        deduped = deduped.join(contam, id_col, "left").filter(
            F.coalesce("contamination", F.lit(0.0)) <= max_contamination
        )
    else:
        deduped = deduped.withColumn("contamination", F.lit(0.0))

    sampled = smp.stratified_sample(
        deduped, "lang", strat_fractions, [id_col], seed="pretrain-mix"
    )

    return sampled.select(
        id_col,
        "lang",
        "n_tokens",
        "quality",
        F.coalesce("contamination", F.lit(0.0)).alias("contamination"),
        smp.split_column([id_col], split_weights, seed="pretrain-split").alias("split"),
    )


def curate_stream(
    stream_docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_quality: float = 0.3,
    strat_fractions: Mapping[str, float] = DEFAULT_STRAT_FRACTIONS,
    split_weights: Mapping[str, float] = DEFAULT_SPLIT_WEIGHTS,
    shingle_n: int = 3,
) -> DataFrame:
    """The curation pipeline's streaming leg: every stage that is
    per-row-stateless — feature projection, quality gates, benchmark
    decontamination as a stream-static broadcast semi-join of shingles,
    deterministic sampling and split assignment — applied to a streaming
    DataFrame unchanged.

    The one stateful stage (cross-batch exact dedup) deliberately does
    NOT live here: keying the upsert sink on the content fingerprint
    (``fp``) makes re-observed content idempotent with an UNBOUNDED
    horizon and zero engine state — the reference's W10 sink-as-state
    pattern (db.py:884-893) applied to training data. Spark's
    ``dropDuplicatesWithinWatermark`` would instead bound the dedup
    horizon by its watermark.
    """
    feats = stream_docs.select(
        F.col(id_col),
        F.col("lang"),
        F.col(text_col),
        tx.token_count(text_col).alias("n_tokens"),
        tx.quality_score(text_col).alias("quality"),
        tx.fingerprint(text_col).alias("fp"),
    )
    gated = feats.filter(
        (F.length(F.trim(text_col)) > 0)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("quality") >= min_quality)
    )
    if benchmark is not None:
        # strict rule for the streaming leg: drop any doc sharing >=1
        # shingle with the benchmark. A join-back of exploded shingles
        # would be stream-stream (illegal), so the check is row-local:
        # the benchmark's distinct shingle set (eval suites are small by
        # construction — the reference broadcasts the same way) collects
        # once to a literal array and the filter is a pure arrays_overlap
        # expression — zero streaming state.
        from ..operators.corpus import distinct_shingles, shingle_array

        bench_shingles = [
            r.shingle
            for r in distinct_shingles(benchmark, text_col, id_col, shingle_n)
            .select("shingle")
            .distinct()
            .limit(MAX_STREAM_BENCH_SHINGLES + 1)
            .collect()
        ]
        if len(bench_shingles) > MAX_STREAM_BENCH_SHINGLES:
            raise ValueError(
                "curate_stream: benchmark has more than "
                f"{MAX_STREAM_BENCH_SHINGLES} distinct shingles; a literal "
                "array that large is unsafe to compile into a streaming "
                "plan. Pre-reduce the benchmark or use the batch leg "
                "(pretrain_pipeline), which decontaminates via a broadcast "
                "join with no size limit."
            )
        bench_arr = F.array(*[F.lit(s) for s in bench_shingles])
        gated = gated.filter(
            ~F.arrays_overlap(shingle_array(text_col, shingle_n), bench_arr)
        )
    sampled = smp.stratified_sample(
        gated, "lang", strat_fractions, [id_col], seed="pretrain-mix"
    )
    return sampled.select(
        id_col,
        "lang",
        "fp",
        "n_tokens",
        "quality",
        smp.split_column([id_col], split_weights, seed="pretrain-split").alias("split"),
    )


def corpus_summary(curated: DataFrame) -> DataFrame:
    """The report a data-mixture scheduler consumes: per (split, lang)
    document count, token budget, and mean quality. One partial+final
    aggregate over the pipeline's output."""
    return curated.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


def budget_delta(batch: DataFrame, previous: DataFrame | None = None) -> DataFrame:
    """Per-(split, lang) doc/token delta of one curated micro-batch.

    ``batch`` carries the latest version of each fingerprint it restates
    (curate_stream's output: doc_id, lang, fp, n_tokens, split, ...);
    ``previous`` the sink's prior version of those same fingerprints
    (None/empty when all are first-seen). A first-seen fp contributes
    (+1 doc, +n_tokens) to its cell; a superseding version moves the
    contribution between cells (lang, split, and token count can all
    change when new content wins the fingerprint); an unchanged restate
    nets to zero — the fold is idempotent per version.
    """
    plus = batch.select("split", "lang", F.lit(1).alias("dd"), F.col("n_tokens").alias("dt"))
    if previous is not None:
        minus = previous.select(
            "split", "lang", F.lit(-1).alias("dd"), (-F.col("n_tokens")).alias("dt")
        )
        plus = plus.unionByName(minus)
    return plus.groupBy("split", "lang").agg(
        F.sum("dd").alias("doc_delta"), F.sum("dt").alias("token_delta")
    )


def fold_budget_batch(
    spark,
    doc_sink,
    budget_sink,
    batch: DataFrame,
    epoch: int,
    version_column: str = "doc_id",
) -> None:
    """Sink-as-state maintenance of the per-(split, lang) training budget:
    O(batch) work per micro-batch instead of re-aggregating the curated
    corpus (O(state)) every time the mixture scheduler wants fresh totals
    — the W10 pattern (and the graph counts fold, graph/counts.py) applied
    to training-data bookkeeping.

    Protocol mirrors fold_counts_batch exactly: the doc sink (PK fp)
    supplies each restated fingerprint's prior version, stale replays
    (batch version older than the sink's) are filtered before the delta,
    the budget upsert runs first stamping ``epoch``, and crash replay is
    guarded PER CELL (a (split, lang) row already stamped at >= epoch
    absorbed this delta; a whole-batch gate would lose un-swapped
    buckets' deltas under the lake sink's non-atomic multi-bucket swap).
    """
    from ..operators.dedup import last_writer_wins

    # the budget sink's own version column stamps/guards the fold; read
    # it from the sink (a sink built with any other version column would
    # otherwise be silently mis-guarded by a hardcoded 'updated_at')
    budget_vcol = getattr(budget_sink, "version_column", "updated_at")

    latest = last_writer_wins(batch, ["fp"], [F.desc(version_column)])
    prior_all = doc_sink.read()
    prior = None
    if prior_all is not None:
        prior = prior_all.join(
            latest.select("fp"), "fp", "left_semi"
        )
        pv = prior.select("fp", F.col(version_column).alias("__prior_v"))
        latest = (
            latest.join(pv, "fp", "left")
            .filter(
                F.col("__prior_v").isNull()
                | (F.col(version_column) >= F.col("__prior_v"))
            )
            .drop("__prior_v")
        )
        # only fps actually restated by the surviving batch rows matter
        prior = prior.join(latest.select("fp"), "fp", "left_semi")
    delta = budget_delta(latest, prior)
    old = budget_sink.read()
    if old is None:
        old_subset = spark.createDataFrame(
            [], "split string, lang string, n_docs long, n_tokens long"
        )
    else:
        old_subset = old.select("split", "lang", "n_docs", "n_tokens").join(
            delta.select("split", "lang"), ["split", "lang"], "left_semi"
        )
        absorbed = old.filter(F.col(budget_vcol) >= epoch).select("split", "lang")
        delta = delta.join(absorbed, ["split", "lang"], "left_anti")
    merged = old_subset.join(delta, ["split", "lang"], "full_outer").select(
        "split",
        "lang",
        (F.coalesce("n_docs", F.lit(0)) + F.coalesce("doc_delta", F.lit(0))).alias(
            "n_docs"
        ),
        (
            F.coalesce("n_tokens", F.lit(0)) + F.coalesce("token_delta", F.lit(0))
        ).alias("n_tokens"),
    ).withColumn(budget_vcol, F.lit(epoch).cast("long"))
    budget_sink.upsert(merged, epoch)
    doc_sink.upsert(latest, epoch)


def read_budget(budget_sink) -> DataFrame | None:
    """Live budget view: cells whose counts returned to zero are dropped,
    matching a fresh corpus_summary-style recompute over the doc sink."""
    df = budget_sink.read()
    if df is None:
        return None
    return df.select("split", "lang", "n_docs", "n_tokens").filter(
        (F.col("n_docs") != 0) | (F.col("n_tokens") != 0)
    )
