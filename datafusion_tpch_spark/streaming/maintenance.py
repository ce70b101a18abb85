"""Incremental-maintenance algebra of the foreachBatch gates.

Seven gates in queries/stream.py maintain state one micro-batch at a
time.  Each runs ONE ``Fold`` (built by its ``*_fold`` factory here) over
its feed; the per-batch merge logic is pure DataFrame→DataFrame functions
over explicit state, so its defining properties are testable without a
streaming runtime — ``tests/test_maintenance_algebra.py`` calls the same
folds on hypothesis-chosen batch boundaries:

- **Order-INSENSITIVE folds** (CDC upsert argmax, admission and span
  verdict appends, token and IVF-occupancy sums, the appended IVF index):
  the state after any partition of the feed into batches — in any order —
  equals the one-batch answer.
- **SCD2 interval state** is order-DEPENDENT: batches must arrive in
  event-time order (the per-key ordering a Kafka/CDC feed guarantees),
  but WHERE the boundaries fall must not matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class Fold:
    """The one maintained-state fold of the foreachBatch gates, called
    once per micro-batch: as the foreachBatch function of
    ``runner.run_fold``, or on hypothesis-cut slices in
    ``tests/test_maintenance_algebra.py`` — the gates' own fold either way.

    ``step(state, batch)`` returns what ``batch`` contributes, or None for
    an empty batch, which folds nothing and is not counted in ``n``.
    Every state the fold holds is localCheckpointed (each frame of a tuple
    state), so lineage never grows with stream length.  By default the
    step returns the next state.  With ``append`` it returns the batch's
    own rows, checkpointed alone and unioned onto the state, so a batch
    never re-materializes what earlier batches appended.  ``state`` is the
    base state (None: no base); ``empty`` (DDL) types the zero-row result
    when there is neither a base nor a non-empty batch."""

    def __init__(self, step, state=None, empty: str | None = None,
                 append: bool = False):
        self.step, self.empty, self.append = step, empty, append
        self.state = None if state is None else _checkpoint(state)
        self.n = 0

    def __call__(self, batch: DataFrame, batch_id: int | None = None) -> None:
        out = self.step(self.state, batch)
        if out is None:
            return
        if self.append:
            seg = out.localCheckpoint()
            self.state = seg if self.state is None else self.state.unionByName(seg)
        else:
            self.state = _checkpoint(out)
        self.n += 1

    def result(self, spark: SparkSession):
        if self.state is None:
            return spark.createDataFrame([], self.empty)
        return self.state


def _checkpoint(state):
    if isinstance(state, tuple):
        return tuple(_checkpoint(x) for x in state)
    return state.localCheckpoint() if isinstance(state, DataFrame) else state


def _nonempty(step):
    """``step`` behind one ``isEmpty`` job: an empty batch contributes
    nothing (so the batch count proves real incremental merges)."""
    return lambda state, batch: None if batch.isEmpty() else step(state, batch)


def nonempty_appends(write):
    """foreachBatch function of a gate whose micro-batches only append
    files and maintain no state: ``write(batch)`` runs for each non-empty
    batch, behind the folds' one ``isEmpty`` skip."""
    step = _nonempty(lambda _, batch: write(batch))
    return lambda batch, batch_id: step(None, batch)


# ----------------------------------------------------------- CDC upsert

CDC_STATE_COLS = (
    "user_id", "state_ts", "event_id", "is_feed", "state_type",
    "state_value",
)


def cdc_compact(df: DataFrame, is_feed: bool) -> DataFrame:
    """Reduce an event set to its latest row per key (argmax by
    (ts, event_id) — a hash aggregate with map-side combine, never a
    per-key sort window), tagged with feed provenance."""
    m = F.max(
        F.struct(
            "ts",
            "event_id",
            F.lit(is_feed).alias("is_feed"),
            F.col("event_type").alias("state_type"),
            F.col("value").alias("state_value"),
        )
    ).alias("m")
    return df.groupBy("user_id").agg(m).select(
        "user_id",
        F.col("m.ts").alias("state_ts"),
        F.col("m.event_id").alias("event_id"),
        F.col("m.is_feed").alias("is_feed"),
        F.col("m.state_type").alias("state_type"),
        F.col("m.state_value").alias("state_value"),
    )


def cdc_merge_batch(state: DataFrame, batch_compacted: DataFrame) -> DataFrame:
    """Fold one compacted batch into CDC state: union + the same argmax
    reduction.  Associative and commutative, so the result is independent
    of batch boundaries AND batch order."""
    return (
        state.unionByName(batch_compacted)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "state_ts", "event_id", "is_feed", "state_type",
                    "state_value",
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.state_ts").alias("state_ts"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.is_feed").alias("is_feed"),
            F.col("m.state_type").alias("state_type"),
            F.col("m.state_value").alias("state_value"),
        )
    )


def cdc_finalize(state: DataFrame, tombstone: str) -> DataFrame:
    """Read-side view of CDC state: drop keys whose latest FEED row is a
    tombstone (provenance-flagged, so a snapshot row whose own type
    collides with the marker is never dropped)."""
    # coalesce: a NULL state_type must compare as NOT-tombstone — without
    # it, true & NULL = NULL and ~NULL = NULL silently drops the row
    is_tomb = F.coalesce(F.col("state_type") == tombstone, F.lit(False))
    return (
        state.filter(~(F.col("is_feed") & is_tomb))
        .select("user_id", "state_value", "state_ts", "state_type")
        .orderBy("user_id")
    )


def cdc_fold(snapshot: DataFrame) -> Fold:
    """CDC upsert state over a change feed, based on the compacted
    ``snapshot`` events (``events_cdc_stream``)."""
    return Fold(
        _nonempty(lambda s, b: cdc_merge_batch(s, cdc_compact(b, is_feed=True))),
        cdc_compact(snapshot, is_feed=False),
    )


# -------------------------------------------------------- SCD2 intervals

def scd2_empty_state(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(closed-aggregate table, open-version table) — both empty."""
    agg = spark.createDataFrame(
        [], "user_id bigint, state_type string, n_versions bigint, "
            "closed_dwell_us bigint"
    )
    opn = spark.createDataFrame(
        [], "user_id bigint, open_us bigint, open_type string"
    )
    return agg, opn


def scd2_apply_batch(
    agg: DataFrame, opn: DataFrame, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold one event-time-ordered batch into SCD2 state.

    ``batch`` carries (user_id, event_id, state_type, us).  Closes the
    previously-open version of every key present in the batch at the
    batch's first event for that key (attributing the cross-boundary
    dwell to the OPEN version's type), folds the batch's internal
    versions with one key-partitioned ``lead`` window, and installs each
    key's last event as the new open version.  Correct whenever every
    event in ``batch`` is later than every already-applied event for the
    same key — the caller asserts the (stronger) global-time ordering."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    versions = batch.withColumn("next_us", F.lead("us").over(w))
    batch_agg = versions.groupBy("user_id", "state_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.sum(
            F.coalesce(F.col("next_us") - F.col("us"), F.lit(0))
        ).cast("bigint").alias("closed_dwell_us"),
    )
    firsts = batch.groupBy("user_id").agg(
        F.min(F.struct("us", "event_id")).alias("f")
    ).select("user_id", F.col("f.us").alias("first_us"))
    lasts = batch.groupBy("user_id").agg(
        F.max(F.struct("us", "event_id", "state_type")).alias("l")
    ).select(
        "user_id",
        F.col("l.us").alias("open_us"),
        F.col("l.state_type").alias("open_type"),
    )
    closeouts = opn.join(firsts, "user_id", "inner").select(
        "user_id",
        F.col("open_type").alias("state_type"),
        F.lit(0).cast("bigint").alias("n_versions"),
        (F.col("first_us") - F.col("open_us"))
        .cast("bigint")
        .alias("closed_dwell_us"),
    )
    new_agg = (
        agg.unionByName(batch_agg)
        .unionByName(closeouts)
        .groupBy("user_id", "state_type")
        .agg(
            F.sum("n_versions").cast("bigint").alias("n_versions"),
            F.sum("closed_dwell_us").cast("bigint").alias("closed_dwell_us"),
        )
    )
    new_opn = (
        opn.join(lasts.select("user_id"), "user_id", "left_anti")
        .unionByName(lasts)
    )
    return new_agg, new_opn


def scd2_finalize(agg: DataFrame, opn: DataFrame) -> DataFrame:
    """Read-side join of the two SCD2 state tables into the per-(key,
    type) summary the batch derivation produces."""
    marks = opn.select(
        "user_id",
        F.col("open_type").alias("state_type"),
        F.lit(1).cast("bigint").alias("n_open"),
    )
    return (
        agg.join(marks, ["user_id", "state_type"], "left")
        .select(
            "user_id",
            "state_type",
            F.col("n_versions").cast("bigint").alias("n_versions"),
            F.coalesce(F.col("n_open"), F.lit(0)).cast("bigint").alias(
                "n_open"
            ),
            F.col("closed_dwell_us").cast("bigint").alias("closed_dwell_us"),
        )
        .orderBy("user_id", "state_type")
    )


def scd2_fold(spark: SparkSession) -> Fold:
    """SCD2 state ``(closed aggregates, open versions, last event us)``
    over an event-time-ordered feed (``events_scd2_stream``).  Each batch
    must start no earlier than the previous one ended — asserted per
    batch; its emptiness comes from that bounds collect, not an extra
    ``isEmpty`` job."""
    return Fold(_scd2_step, (*scd2_empty_state(spark), None))


def _scd2_step(state, batch: DataFrame):
    us = F.unix_micros(F.col("ts"))
    b = batch.select(
        "user_id", "event_id", F.col("event_type").alias("state_type"),
        us.alias("us"),
    ).localCheckpoint()
    lo, hi = b.agg(F.min("us"), F.max("us")).collect()[0]
    if lo is None:
        return None
    agg, opn, last_us = state
    if last_us is not None and lo < last_us:
        raise AssertionError("feed violated event-time order across micro-batches")
    return (*scd2_apply_batch(agg, opn, b), hi)


# ------------------------------------------- near-dup ingest admission

def admit_batch(
    batch_buckets: DataFrame, batch_ids: DataFrame, corpus_cells: DataFrame
) -> DataFrame:
    """Admission verdicts for one micro-batch of incoming documents
    probed against the corpus's prebuilt (band, bkey) LSH index:
    ``n_hit_buckets`` = how many of the doc's bucket cells the index
    already holds, ``kept`` iff zero.  The index is corpus-capped
    upstream, so a verdict depends only on (doc, index) — NEVER on what
    else shares the micro-batch — which is what makes the maintained
    verdict table provably independent of batch boundaries (the
    hypothesis property in tests/test_maintenance_algebra.py)."""
    hits = (
        batch_buckets.join(corpus_cells, ["band", "bkey"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_buckets"))
    )
    return batch_ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hit_buckets"), F.lit(0))
        .cast("bigint")
        .alias("n_hit_buckets"),
        (F.coalesce(F.col("n_hit_buckets"), F.lit(0)) == 0).alias("kept"),
    )


def admission_fold(corpus_cells: DataFrame) -> Fold:
    """Appended admission verdicts of an incoming crawl against the
    corpus's LSH cells (``docs_dedup_ingest_stream``).  Incoming doc_ids
    are unique across batches (a file feed delivers each doc once), so
    the merge is a pure append."""
    from ..operators.dedup import lsh_buckets

    return Fold(
        _nonempty(lambda _, b: admit_batch(
            lsh_buckets(b), b.select("doc_id"), corpus_cells)),
        empty="doc_id bigint, n_hit_buckets bigint, kept boolean",
        append=True,
    )


# --------------------------------------------------- stream token metering

def meter_batch(batch_docs: DataFrame, vocab_tok: DataFrame) -> DataFrame:
    """Per-source token metering of one micro-batch of incoming documents
    against the DEPLOYED tokenizer table (word -> n_tok under the learned
    BPE merges): every ingested word is costed via the vocab join,
    out-of-vocabulary words fall back to their character count (the
    byte-fallback every real BPE tokenizer has), and zero-word documents
    still count as documents (explode_outer).  Output: (source, n_docs,
    n_tokens) for THIS batch only."""
    from ..functions import text

    w = batch_docs.select(
        "source", "doc_id",
        F.explode_outer(text.words(F.col("text"))).alias("word"),
    )
    j = w.join(vocab_tok.select("word", "n_tok"), "word", "left")
    tok = F.when(F.col("word").isNull(), F.lit(0).cast("long")).otherwise(
        F.coalesce(F.col("n_tok"), F.length("word").cast("long"))
    )
    return j.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(tok).cast("long").alias("n_tokens"),
    )


def meter_merge(state: DataFrame | None, batch_meter: DataFrame) -> DataFrame:
    """Fold one batch's per-source meter into the maintained totals: union
    + re-sum.  Sums are associative and commutative and a file feed
    delivers each doc once, so the maintained table is independent of
    batch boundaries and order (hypothesis property in
    tests/test_maintenance_algebra.py)."""
    if state is None:
        return batch_meter
    return (
        state.unionByName(batch_meter)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def meter_fold(vocab_tok: DataFrame) -> Fold:
    """Per-source token totals of an incoming crawl against the deployed
    tokenizer table (``docs_token_meter_stream``)."""
    return Fold(
        _nonempty(lambda s, b: meter_merge(s, meter_batch(b, vocab_tok))),
        empty="source string, n_docs bigint, n_tokens bigint",
    )


# ------------------------------------------- streaming IVF cell maintenance

def ivf_ingest_batch(batch_emb: DataFrame, centroids) -> DataFrame:
    """Per-(cell, dim) occupancy increments for one micro-batch of
    incoming vectors against the DEPLOYED IVF index: assign each vector
    to its nearest centroid (floor-quantized L2, the exact metric the
    batch ANN gates use — ``operators/similarity.ivf_assign``), then one
    posexplode pass map-side combined down to at most |cells|·|dims|
    rows of (n, Σ floor(v·1e8)) — decimal(38,0) sums, so every
    accumulator is order-independent and exactly mergeable.  A vector's
    cell depends only on (vector, index), never on what else shares the
    micro-batch."""
    from pyspark.sql import functions as F

    from ..operators.similarity import ivf_assign

    assigned = ivf_assign(batch_emb, centroids)
    ex = assigned.select(
        "cell", F.posexplode(F.col("embedding")).alias("dim", "v")
    )
    vq = F.floor(F.col("v").cast("double") * F.lit(100000000.0)).cast(
        "decimal(38,0)"
    )
    return ex.groupBy("cell", "dim").agg(
        F.sum(vq).alias("sumq"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def ivf_ingest_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold one batch's per-(cell, dim) increments into the maintained
    occupancy table: union + re-sum.  Decimal sums and counts are
    associative and commutative, so the maintained table is independent
    of batch boundaries and order (hypothesis property in
    tests/test_maintenance_algebra.py)."""
    from pyspark.sql import functions as F

    if state is None:
        return batch
    return (
        state.unionByName(batch)
        .groupBy("cell", "dim")
        .agg(
            F.sum("sumq").cast("decimal(38,0)").alias("sumq"),
            F.sum("n").cast("bigint").alias("n"),
        )
    )


def ivf_fold(centroids) -> Fold:
    """Per-(cell, dim) occupancy of an incoming vector feed against the
    deployed centroids (``embeddings_ingest_stream``)."""
    return Fold(
        _nonempty(lambda s, b: ivf_ingest_merge(s, ivf_ingest_batch(b, centroids))),
        empty="cell bigint, dim int, sumq decimal(38,0), n bigint",
    )


def ann_index_fold(corpus: DataFrame, centroids) -> Fold:
    """The cell-assigned search index of ``ann_ingest_topk``: the corpus
    assigned to the frozen centroids, each incoming batch appended as its
    own assigned segment — assignment is row-wise against constants, so
    the index is independent of batch boundaries and order."""
    from ..operators.similarity import ivf_assign

    return Fold(
        _nonempty(lambda _, b: ivf_assign(b.select("vec_id", "embedding"), centroids)),
        ivf_assign(corpus, centroids),
        append=True,
    )


# -------------------------------------- stream exact-substring admission

def span_admit_batch(
    batch_docs: DataFrame, corpus_span_idx: DataFrame, k: int = 8
) -> DataFrame:
    """Admission verdicts for one micro-batch of incoming documents
    probed against the corpus's prebuilt exact-substring span index
    (DISTINCT 60-bit hashes of the corpus's positional k-token grams):
    ``n_spans`` = the doc's k-gram positions, ``n_dup_spans`` = how many
    of them the corpus already contains, ``kept`` iff at most half its
    spans are recycled corpus text (``2*n_dup <= n_spans`` — the
    integer form, so no float threshold can drift between engines;
    span-less short docs are kept).  A verdict depends only on
    (doc, index) — never on what else shares the micro-batch — so the
    maintained table is provably independent of batch boundaries."""
    from ..functions import hashing, text

    g = batch_docs.select(
        "doc_id",
        F.explode(text.positional_kgrams(F.col("text"), k)).alias("gram"),
    ).select("doc_id", hashing.md5_int(F.col("gram")).alias("h"))
    per = (
        g.join(corpus_span_idx.withColumn("in_corpus", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.coalesce(F.col("in_corpus"), F.lit(0)))
            .cast("bigint").alias("n_dup_spans"),
        )
    )
    return batch_docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint")
        .alias("n_dup_spans"),
        (
            F.lit(2) * F.coalesce(F.col("n_dup_spans"), F.lit(0))
            <= F.coalesce(F.col("n_spans"), F.lit(0))
        ).alias("kept"),
    )


def span_fold(corpus_span_idx: DataFrame) -> Fold:
    """Appended ExactSubstr admission verdicts of an incoming crawl
    against the corpus span index (``docs_substring_ingest_stream``)."""
    return Fold(
        _nonempty(lambda _, b: span_admit_batch(b, corpus_span_idx)),
        empty="doc_id bigint, n_spans bigint, n_dup_spans bigint, kept boolean",
        append=True,
    )
