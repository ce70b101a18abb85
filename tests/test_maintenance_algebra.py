"""Property tests for the foreachBatch maintenance algebra
(streaming/maintenance.py): each gate's own ``Fold``, called on
hypothesis-chosen batch boundaries — the property the single 4-way
streaming run can't pin: the final state is identical for EVERY way of
cutting the feed into micro-batches (any cuts and any batch ORDER for the
order-insensitive folds; any time-ordered cuts for SCD2)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_tpch_spark.streaming.maintenance import (
    cdc_compact,
    cdc_finalize,
    cdc_fold,
    scd2_apply_batch,
    scd2_empty_state,
    scd2_finalize,
    scd2_fold,
)

_EPOCH = dt.datetime(2024, 1, 1)
_TYPES = ["click", "view", "purchase", "error"]


def _events(spark, seed: int, n: int):
    """Deterministic little event table: (event_id, ts, user_id,
    event_type, value) with unique (ts, event_id)."""
    import random

    rng = random.Random(seed)
    rows = []
    for eid in range(n):
        rows.append(
            (
                eid,
                _EPOCH + dt.timedelta(minutes=rng.randrange(10_000)),
                rng.randrange(6),
                _TYPES[rng.randrange(len(_TYPES))],
                round(rng.uniform(-5, 5), 3),
            )
        )
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    )


def _cuts_to_slices(n: int, cuts: list[int]) -> list[tuple[int, int]]:
    bounds = sorted({0, n, *[c % (n + 1) for c in cuts]})
    return [(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]


def test_cdc_state_is_boundary_and_order_independent(spark):
    @settings(max_examples=8, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 80), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        ev = _events(spark, seed, 80).localCheckpoint()
        rows = ev.orderBy("event_id").collect()
        slices = _cuts_to_slices(len(rows), cuts)
        rnd.shuffle(slices)  # CDC must tolerate ANY batch order
        fold = cdc_fold(ev.limit(0))
        for a, b in slices:
            fold(spark.createDataFrame(rows[a:b], ev.schema))
        got = cdc_finalize(fold.result(spark), "error").collect()
        want = cdc_finalize(
            cdc_compact(ev, is_feed=True), "error"
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    prop()


def test_scd2_state_is_boundary_independent(spark):
    @settings(max_examples=8, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 80), min_size=0, max_size=3),
    )
    def prop(seed, cuts):
        ev = _events(spark, seed, 80).localCheckpoint()
        b_all = ev.select(
            "user_id", "event_id",
            F.col("event_type").alias("state_type"),
            F.unix_micros("ts").alias("us"),
        )
        rows = ev.orderBy("ts", "event_id").collect()  # time-ordered feed
        fold = scd2_fold(spark)
        for a, b in _cuts_to_slices(len(rows), cuts):
            fold(spark.createDataFrame(rows[a:b], ev.schema))
        agg, opn, _ = fold.result(spark)
        got = scd2_finalize(agg, opn).collect()
        agg1, opn1 = scd2_apply_batch(*scd2_empty_state(spark), b_all)
        want = scd2_finalize(agg1, opn1).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    prop()


def _docs(spark, seed: int, n: int):
    """Deterministic little document table with enough shared phrases
    that some incoming docs near-dup against the corpus."""
    import random

    rng = random.Random(seed)
    vocab = ["spark", "query", "table", "join", "scan", "batch", "row"]
    rows = []
    for did in range(n):
        if rng.random() < 0.4 and did > 0:
            # near-copy of an earlier doc: likely shares LSH buckets
            base = rows[rng.randrange(len(rows))][1]
            words = base.split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            t = " ".join(words)
        else:
            t = " ".join(rng.choice(vocab) for _ in range(12))
        rows.append((did, t))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_admission_is_boundary_and_order_independent(spark):
    """The streaming near-dup admission verdicts must be identical for
    EVERY way of cutting the incoming crawl into micro-batches, in any
    order — the property docs_dedup_ingest_stream's single 4-way run
    can't pin."""
    from datafusion_tpch_spark.operators.dedup import lsh_buckets
    from datafusion_tpch_spark.queries.extensions import (
        _corpus_index_cells,
        _INCR_SPLIT,
    )
    from datafusion_tpch_spark.streaming.maintenance import (
        admission_fold,
        admit_batch,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 60), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        n = _INCR_SPLIT + 60
        docs = _docs(spark, seed, n).localCheckpoint()
        cells = _corpus_index_cells(lsh_buckets(docs)).localCheckpoint()
        incoming = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
        rows = incoming.orderBy("doc_id").collect()
        slices = _cuts_to_slices(len(rows), cuts)
        rnd.shuffle(slices)  # admission must tolerate ANY batch order
        fold = admission_fold(cells)
        for a, b in slices:
            fold(spark.createDataFrame(rows[a:b], incoming.schema))
        got = sorted(tuple(r) for r in fold.result(spark).collect())
        want = sorted(
            tuple(r)
            for r in admit_batch(
                lsh_buckets(incoming), incoming.select("doc_id"), cells
            ).collect()
        )
        assert got == want

    prop()


def test_token_meter_is_boundary_and_order_independent(spark):
    """Per-source stream token metering must be identical for EVERY way of
    cutting the crawl into micro-batches, in any order — including
    out-of-vocabulary words (char-count fallback) and zero-word docs."""
    import random

    from datafusion_tpch_spark.streaming.maintenance import (
        meter_batch,
        meter_fold,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 60), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        rng = random.Random(seed)
        vocab_words = ["spark", "table", "join", "scan"]
        oov_words = ["zeppelin", "qq"]
        rows = []
        for did in range(40):
            if rng.random() < 0.1:
                t = ""  # zero-word document still counts as a doc
            else:
                t = " ".join(
                    rng.choice(vocab_words + oov_words) for _ in range(6)
                )
            rows.append((did, t, f"src{did % 3}"))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).localCheckpoint()
        vocab_tok = spark.createDataFrame(
            [(w, len(w), 2) for w in vocab_words],
            "word string, freq long, n_tok long",
        ).localCheckpoint()
        ordered = docs.orderBy("doc_id").collect()
        slices = _cuts_to_slices(len(ordered), cuts)
        rnd.shuffle(slices)
        fold = meter_fold(vocab_tok)
        for a, b in slices:
            fold(spark.createDataFrame(ordered[a:b], docs.schema))
        got = sorted(tuple(r) for r in fold.result(spark).collect())
        want = sorted(
            tuple(r) for r in meter_batch(docs, vocab_tok).collect()
        )
        assert got == want

    prop()


def test_meter_oov_fallback_matches_sql_oracle(spark):
    """The OOV char-count fallback in meter_batch, checked against a
    DuckDB SQL mirror with a vocab that is a TRUE SUBSET of the corpus
    words — the case the driver's oracle gate never exercises (its vocab
    is induced from the full corpus, so every word is in-vocab there).
    Pins that the fallback semantics are exactly the SQL definition:
    COALESCE(vocab.n_tok, length(word)), zero-word docs still counted."""
    import duckdb

    from datafusion_tpch_spark.functions.text import words_sql
    from datafusion_tpch_spark.streaming.maintenance import meter_batch

    rows = [
        (0, "Spark joins the TABLE scan", "web"),
        (1, "zeppelin qq spark", "web"),
        (2, "", "pdf"),                       # zero-word doc
        (3, "qq qq unknownword table", "pdf"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    vocab = [("spark", 9, 2), ("table", 7, 1), ("scan", 5, 3)]  # true subset
    vocab_tok = spark.createDataFrame(vocab, "word string, freq long, n_tok long")
    got = sorted(tuple(r) for r in meter_batch(docs, vocab_tok).collect())

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    con.execute("CREATE TABLE vocab(word VARCHAR, freq BIGINT, n_tok BIGINT)")
    con.executemany("INSERT INTO vocab VALUES (?, ?, ?)", vocab)
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH w AS (
              SELECT d.source, d.doc_id, u.word
              FROM docs d LEFT JOIN
                   (SELECT doc_id, unnest({words_sql('text')}) AS word
                    FROM docs) u USING (doc_id))
            SELECT w.source,
                   CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN w.word IS NULL THEN 0
                            ELSE COALESCE(v.n_tok, length(w.word)) END)
                        AS BIGINT) AS n_tokens
            FROM w LEFT JOIN vocab v ON w.word = v.word
            GROUP BY w.source ORDER BY w.source
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    # the fallback branch really fired: some word was OOV
    assert any(w not in {v[0] for v in vocab}
               for r in rows for w in r[1].lower().split())


def test_ivf_ingest_is_boundary_and_order_independent(spark):
    """Per-(cell, dim) IVF occupancy maintenance must be identical for
    EVERY way of cutting the vector feed into micro-batches, in any
    order — decimal sums and counts are associative, and a vector's cell
    depends only on (vector, index)."""
    import random

    from datafusion_tpch_spark.streaming.maintenance import (
        ivf_fold,
        ivf_ingest_batch,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 40), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        rng = random.Random(seed)
        dims = 6
        centroids = [
            (cid, [rng.uniform(-1, 1) for _ in range(dims)])
            for cid in (3, 11, 25)
        ]
        rows = [
            (vid, [rng.uniform(-1, 1) for _ in range(dims)])
            for vid in range(30)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).localCheckpoint()
        ordered = emb.orderBy("vec_id").collect()
        slices = _cuts_to_slices(len(ordered), cuts)
        rnd.shuffle(slices)
        fold = ivf_fold(centroids)
        for a, b in slices:
            fold(spark.createDataFrame(ordered[a:b], emb.schema))
        got = sorted(tuple(r) for r in fold.result(spark).collect())
        want = sorted(
            tuple(r) for r in ivf_ingest_batch(emb, centroids).collect()
        )
        assert got == want

    prop()


def test_span_admission_is_boundary_and_order_independent(spark):
    """The streaming ExactSubstr admission verdicts must be identical for
    EVERY way of cutting the incoming crawl into micro-batches, in any
    order — the property docs_substring_ingest_stream's single 4-way run
    can't pin."""
    from datafusion_tpch_spark.functions import hashing, text
    from datafusion_tpch_spark.queries.extensions import _INCR_SPLIT
    from datafusion_tpch_spark.streaming.maintenance import (
        span_admit_batch,
        span_fold,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 60), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        n = _INCR_SPLIT + 60
        docs = _docs(spark, seed, n).localCheckpoint()
        idx = (
            docs.filter(F.col("doc_id") < _INCR_SPLIT)
            .select(
                F.explode(
                    text.positional_kgrams(F.col("text"), 8)
                ).alias("gram")
            )
            .select(hashing.md5_int(F.col("gram")).alias("h"))
            .distinct()
            .localCheckpoint()
        )
        incoming = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
        rows = incoming.orderBy("doc_id").collect()
        slices = _cuts_to_slices(len(rows), cuts)
        rnd.shuffle(slices)  # admission must tolerate ANY batch order
        fold = span_fold(idx)
        for a, b in slices:
            fold(spark.createDataFrame(rows[a:b], incoming.schema))
        got = sorted(tuple(r) for r in fold.result(spark).collect())
        want = sorted(
            tuple(r) for r in span_admit_batch(incoming, idx).collect()
        )
        assert got == want

    prop()


def test_ann_ingest_index_is_boundary_and_order_independent(spark):
    """The maintained cell-assigned index behind ann_ingest_topk must be
    identical for EVERY way of cutting the vector feed into
    micro-batches, in any order: assignment is row-wise against FROZEN
    centroids, and the maintenance op is a set union — both trivially
    associative, which is exactly why the serving index can be appended
    to mid-stream without a rebuild."""
    import random

    from datafusion_tpch_spark.operators.similarity import ivf_assign
    from datafusion_tpch_spark.streaming.maintenance import ann_index_fold

    @settings(max_examples=5, deadline=None)
    @given(
        st.integers(0, 2**16),
        st.lists(st.integers(0, 40), min_size=0, max_size=3),
        st.randoms(use_true_random=False),
    )
    def prop(seed, cuts, rnd):
        rng = random.Random(seed)
        dims = 6
        centroids = [
            (cid, [rng.uniform(-1, 1) for _ in range(dims)])
            for cid in (3, 11, 25)
        ]
        rows = [
            (vid, [rng.uniform(-1, 1) for _ in range(dims)])
            for vid in range(30)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).localCheckpoint()
        # the first 10 vectors are the indexed corpus, the rest stream in
        ordered = emb.orderBy("vec_id").collect()[10:]
        slices = _cuts_to_slices(len(ordered), cuts)
        rnd.shuffle(slices)
        fold = ann_index_fold(emb.filter(F.col("vec_id") < 10), centroids)
        for a, b in slices:
            fold(spark.createDataFrame(ordered[a:b], emb.schema))
        got = sorted((r.vec_id, r.cell) for r in fold.result(spark).collect())
        want = sorted(
            (r.vec_id, r.cell)
            for r in ivf_assign(emb, centroids).collect()
        )
        assert got == want

    prop()


_DOCS_FEED = "doc_id bigint, text string, source string"
_EMB_FEED = "vec_id bigint, embedding array<float>"


@pytest.mark.parametrize("gate", [
    "docs_dedup_ingest_stream", "docs_token_meter_stream",
    "embeddings_ingest_stream", "docs_substring_ingest_stream",
])
def test_fold_over_empty_feed_is_typed_and_zero(spark, tmp_path, gate):
    """A gate's fold run over a feed that delivers no rows counts no batch
    and returns a zero-row frame of the gate's own state schema (the fold
    holds no base state, so its ``empty`` DDL types the result)."""
    from datafusion_tpch_spark.queries import all_queries
    from datafusion_tpch_spark.streaming import maintenance as mt
    from datafusion_tpch_spark.streaming.runner import file_feed, run_fold

    from tests.conftest import SF_DIR, memoized

    # no batch carries rows, so the steps never run and need no index
    fold, feed_ddl = {
        "docs_dedup_ingest_stream": (lambda: mt.admission_fold(None), _DOCS_FEED),
        "docs_token_meter_stream": (lambda: mt.meter_fold(None), _DOCS_FEED),
        "embeddings_ingest_stream": (lambda: mt.ivf_fold([]), _EMB_FEED),
        "docs_substring_ingest_stream": (lambda: mt.span_fold(None), _DOCS_FEED),
    }[gate]
    path = str(tmp_path / "empty_feed")
    spark.createDataFrame([], feed_ddl).write.parquet(path)
    state, n = run_fold(spark, f"t_empty_{gate}", file_feed(spark, path), fold())
    assert n == 0
    assert state.count() == 0
    all_queries()[gate].build(spark, SF_DIR)
    want = memoized(spark, "stream", gate, SF_DIR)[0]
    assert state.dtypes == want.dtypes
