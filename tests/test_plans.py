"""Plan-shape assertions: the scale-critical physical properties hold.

These are the checks a 100 TB design review does by eye on `.explain` —
pinned as tests so a regression (lost pushdown, un-broadcast dimension,
extra shuffle) fails CI instead of a cluster bill.
"""

from __future__ import annotations

from datafusion_tpch_spark.plans import (
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    scan_columns,
)
from datafusion_tpch_spark.queries import all_queries
from datafusion_tpch_spark.session import forget

SF_DIR = "/root/testdata/sf0.001"


def _build(spark, name):
    return all_queries()[name].build(spark, SF_DIR)


def test_q1_filter_pushed_and_pruned(spark):
    df = _build(spark, "q1")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, pushed
    cols = scan_columns(df)
    assert cols, "expected a parquet scan"
    # 11-column lineitem must be pruned to the 7 q1 needs at most
    assert all(len(c) <= 7 for c in cols), cols


def test_q3_dimension_join_broadcasts(spark):
    df = _build(spark, "q3")
    assert broadcast_join_count(df) >= 1


def test_q5_six_way_join_all_dims_broadcast(spark):
    df = _build(spark, "q5")
    # customer/supplier/nation/region sides must broadcast: no sort-merge
    # join should survive for a star join at these dimension sizes
    assert broadcast_join_count(df) >= 3


def test_q6_single_stage_no_join(spark):
    df = _build(spark, "q6")
    assert broadcast_join_count(df) == 0
    # global agg: one partial/final exchange at most
    assert exchange_count(df) <= 1


def test_ann_bruteforce_corpus_not_shuffled(spark):
    """The corpus side must stream (broadcast query set), not shuffle —
    THE property that makes brute-force ANN viable on a 100 TB corpus."""
    df = _build(spark, "ann_bruteforce_topk")
    assert broadcast_join_count(df) >= 1
    # top-k per query: only the window/orderBy shuffles, ≤2 exchanges
    assert exchange_count(df) <= 2


def test_dedup_exact_single_shuffle_plus_sort(spark):
    df = _build(spark, "dedup_exact")
    assert exchange_count(df) <= 2  # agg hash + output sort


def test_ngram_jaccard_hot_shingle_cap_in_plan(spark):
    """The df>cap skew defense must be a real part of the executed plan: a
    broadcast ANTI-join against the hot-shingle (df > cap) list carrying
    the cap literal, upstream of the self-join (the shingle set is
    checkpointed after the cap, so the filter sits in the checkpointed
    subplan)."""
    from datafusion_tpch_spark.plans import plan_string
    from datafusion_tpch_spark.queries.extensions import (
        _SHINGLE_MAX_DF,
        _shingle_set,
    )

    # audit the BUILD plan: if an earlier test materialized the session-
    # cached twin, the CacheManager would substitute InMemoryTableScan for
    # this identical plan and hide the pre-checkpoint shape
    spark.catalog.clearCache()
    plan = plan_string(_shingle_set(spark, SF_DIR, checkpoint=False))
    assert "LeftAnti" in plan, plan
    assert f"> {_SHINGLE_MAX_DF}" in plan, plan


def test_minhash_lsh_hot_bucket_cap_in_plan(spark):
    """Same skew defense for the band-bucket self-join: buckets holding
    more than cap docs filtered out by a count window before candidate
    generation."""
    from datafusion_tpch_spark.plans import plan_string
    from datafusion_tpch_spark.queries.extensions import (
        _LSH_MAX_BUCKET,
        _lsh_buckets,
    )

    spark.catalog.clearCache()  # see the shingle-cap test's note
    plan = plan_string(_lsh_buckets(spark, SF_DIR, checkpoint=False))
    assert "Window" in plan, plan
    assert f"<= {_LSH_MAX_BUCKET}" in plan, plan


def test_pairwise_cosine_no_driver_materialization(spark):
    """dedup_embedding_cosine's plan must be the blocked distributed
    all-pairs: a shuffle into block-pair tasks feeding FlatMapGroupsInPandas
    — no collect/broadcast of the corpus anywhere."""
    from datafusion_tpch_spark.plans import plan_string

    df = _build(spark, "dedup_embedding_cosine")
    plan = plan_string(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Broadcast" not in plan, plan


def test_semantic_pair_pipeline_plan(spark):
    """dedup_semantic's pre-materialization pipeline (the build plan the
    shared persist() amortizes) must be the fused bucket kernel:
    posexplode of band buckets into one FlatMapGroupsInPandas — no corpus
    broadcast, no driver materialization."""
    from datafusion_tpch_spark.plans import plan_string
    from datafusion_tpch_spark.queries.extensions import _sem_pairs_plan

    spark.catalog.clearCache()  # see the shingle-cap test's note
    plan = plan_string(_sem_pairs_plan(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Broadcast" not in plan, plan
    assert "Generate posexplode" in plan or "posexplode" in plan, plan


def test_ann_pq_corpus_not_shuffled(spark):
    """PQ = compressed SCAN: encode is a narrow kernel pass (codebook in
    the closure — no join to encode) and ADC scoring broadcasts the query
    side, so the corpus never shuffles; only the per-query top-k window
    and the output sort exchange."""
    df = _build(spark, "ann_pq_topk")
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 2


def test_zorder_single_aggregation(spark):
    """Morton coding is pure per-row integer arithmetic: one hash
    aggregation on the bucket + the output sort, nothing else."""
    df = _build(spark, "lineitem_zorder")
    assert broadcast_join_count(df) == 0
    assert exchange_count(df) <= 2


def test_pagerank_no_driver_loop_leakage(spark):
    """The 3-iteration rank loop must be ONE declarative plan: joins per
    round (ranks->edges) plus contribution aggregations, no
    collect-driven scalar recursion.  Exchange budget: ~3 per round
    (join + agg + node re-join) plus setup/output."""
    df = _build(spark, "events_pagerank")
    assert exchange_count(df) <= 14


def test_delta_agg_partial_state_merges(spark):
    """Incremental MV merge: two branch aggregations + one merge
    aggregation + output sort; both branches' date filters must push to
    the parquet scan (the O(delta) refresh property)."""
    df = _build(spark, "lineitem_delta_agg")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed or "ship_date" in pushed, pushed


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouping_sets_single_expand_single_scan(spark):
    plan = _plan_str(_build(spark, "lineitem_grouping_sets"))
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1  # one scan feeds all levels


def test_time_rollup_single_expand_single_scan(spark):
    plan = _plan_str(_build(spark, "events_time_rollup"))
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1


def test_ivf_pq_single_corpus_pass_no_stitch_join(spark):
    """The fused kernel must keep ONE scan for the candidate side and no
    vec_id join between assignment and encoding; the only join is the
    broadcast of the tiny query side on the cell key."""
    df = _build(spark, "ann_ivf_pq_topk")
    plan = _plan_str(df)
    # exactly one shuffle (the rank window); the cell join is broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_path_ngrams_no_self_join(spark):
    plan = _plan_str(_build(spark, "events_path_ngrams"))
    assert "Join" not in plan  # LEAD windows, not a sequence self-join


def test_interval_union_single_window_partitioning(spark):
    """Both window passes and the first aggregation share the user_id
    hash partitioning: at most 2 exchanges in the whole plan (one for
    the windows, one if the final global sort reshuffles)."""
    df = _build(spark, "events_interval_union")
    assert exchange_count(df) <= 3


def test_band_join_no_shuffle_before_agg(spark):
    """BNLJ against the broadcast band table adds no exchange; the only
    exchanges belong to the final aggregation."""
    df = _build(spark, "lineitem_band_join")
    assert exchange_count(df) <= 2
    plan = _plan_str(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_dsir_topk_not_global_window(spark):
    """The selection budget must plan as TakeOrderedAndProject (per-
    partition heaps), NOT a single-partition global row_number window
    over the full scored corpus."""
    plan = _plan_str(_build(spark, "docs_dsir_score"))
    assert "TakeOrderedAndProject" in plan
    # the rank window sits ABOVE the limit (plan strings print root-first),
    # i.e. it only ever sees the k survivors
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_dsir_domain_models_broadcast(spark):
    """Both hashed-feature domain models (and their totals) ride one
    bucket-bounded table that must broadcast — a shuffled join against a
    256-row side is wrong."""
    df = _build(spark, "docs_dsir_score")
    assert broadcast_join_count(df) >= 1
    plan = _plan_str(df)
    for shuffled in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert shuffled not in plan, plan


def test_knn_graph_no_cartesian(spark):
    """Mutual-kNN rides the banded LSH candidates: no cartesian/nested-
    loop pair generation anywhere in the plan."""
    plan = _plan_str(_build(spark, "embeddings_knn_graph"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_yield_no_cartesian_single_pass(spark):
    """The funnel is one lazy plan reducing in ONE conditional aggregate
    over stage-survival flags (round 6: the per-stage union of scalar
    aggregates cost 7 corpus scans; the flag form costs 3 — flags,
    contamination explode, eval slice), eval shingles broadcast."""
    df = _build(spark, "docs_pipeline_yield")
    plan = _plan_str(df)
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1
    assert plan.count("FileScan parquet") <= 3, plan.count("FileScan parquet")


# Queries whose global (partition-less) window runs over input that is
# bounded by CONSTRUCTION rather than by a limit operator the plan can
# show.  Each exemption names the bound; anything else with an unbounded
# global window is a scale bug (one task sorts data-sized input).
_GLOBAL_WINDOW_BOUNDED_BY_CONSTRUCTION = {
    # dense_rank input = revenue rows joined on equality to the broadcast
    # global max — the tie set at the maximum, not the supplier table
    "q15_window": "max-revenue tie set",
    # rolling window over one row per DAY: calendar-domain-sized input
    "events_rolling_kmv": "per-day grain (calendar-bounded)",
    # centered moving average over one row per MONTH
    "orders_seasonality": "per-month grain (calendar-bounded)",
}


def test_no_unbounded_global_window_registry_wide(spark):
    """THE single-reducer killer, asserted for every registered query: a
    partition-less Window must rank only limit-bounded survivors (the
    limit-then-rank pattern) or construction-bounded input (exemptions
    above, each with its bound named)."""
    from datafusion_tpch_spark.plans import unbounded_global_windows

    offenders = {}
    for name, qspec in sorted(all_queries().items()):
        if name.endswith("_stream"):
            continue  # micro-batch plans; windows asserted in stream tests
        bad = unbounded_global_windows(qspec.build(spark, SF_DIR))
        if bad and name not in _GLOBAL_WINDOW_BOUNDED_BY_CONSTRUCTION:
            offenders[name] = bad[0][:160]
    assert not offenders, offenders


def test_bm25_topk_not_global_window(spark):
    """Round-6 fix: both bm25 windows (query-term selection, final rank)
    must plan as TakeOrderedAndProject with rank windows only above the
    limit — never a corpus-sized partition-less sort."""
    from datafusion_tpch_spark.plans import unbounded_global_windows

    df = _build(spark, "docs_bm25_topk")
    assert unbounded_global_windows(df) == []
    plan = _plan_str(df)
    assert "TakeOrderedAndProject" in plan


def test_ann_filtered_predicate_pushed_below_probe(spark):
    """Filtered ANN: the label predicate must reach the parquet scan of
    the candidate/index side (pre-filter semantics), NOT post-filter the
    top-k — the pushed form is the one that prunes the index scan at
    corpus scale."""
    df = _build(spark, "ann_filtered_topk")
    pushed = " ".join(pushed_filters(df))
    assert "label" in pushed, pushed
    rows = df.collect()
    assert rows, "filtered ANN returned nothing on the fixture"
    assert all(r.cand_label in (1, 3, 5, 7) for r in rows)
    # dense top-k over the ALLOWED corpus: every query returns full k
    from collections import Counter

    per_q = Counter(r.query_id for r in rows)
    assert all(n == 5 for n in per_q.values()), per_q


def test_perceptual_dedup_gates_group_join_broadcasts(spark):
    """The round-10 perceptual-dedup family: the signature-group verdict
    join must broadcast the (small, signature-width) group table and
    never sort-merge; the whole plan is kernel pass + one aggregation +
    that broadcast join."""
    from datafusion_tpch_spark.plans import strip_cached_subtrees

    # audit the from-scratch plan: depending on test order the signature
    # tables may already be session-persisted, and the CacheManager would
    # splice differently-shaped InMemoryTableScan trees into the audit
    spark.catalog.clearCache()
    forget(spark, "table")
    for name in (
        "multimodal_cross_codec_dedup",
        "multimodal_audio_fp_dedup",
        "multimodal_video_frame_dedup",
        "multimodal_scale_invariant_dedup",
    ):
        df = _build(spark, name)
        plan = strip_cached_subtrees(
            df._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan, name
        assert broadcast_join_count(df) >= 1, name
        assert exchange_count(df) <= 3, (name, exchange_count(df))


def test_exact_substring_pair_fold_is_single_kernel_pass(spark):
    """docs_exact_substring_dedup must fold grams to (doc, hash, count)
    pairs before any join — the raw gram stream (one explode per token
    position) must appear in the plan exactly once, not once per
    consumer."""
    df = _build(spark, "docs_exact_substring_dedup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("generate explode") <= 2, (
        "gram explode materialized more than expected"
    )
    assert "SortMergeJoin" not in plan


def test_video_clip_dedup_no_cartesian_windows_per_clip(spark):
    """multimodal_video_clip_dedup: candidate generation must be the
    fingerprint equi-join (never a cartesian/BNLJ pair enumeration), and
    every window in the plan is partitioned per clip (doc_id) or per
    fingerprint (fp — the hot-fingerprint stoplist occupancy count) — a
    GLOBAL window here would serialize the corpus at scale, while both
    keyed forms stay bounded shuffles."""
    df = _build(spark, "multimodal_video_clip_dedup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every Window operator keys on doc_id or fp
    import re

    for spec in re.findall(r"windowspecdefinition\(([^,]+),", plan):
        assert "doc_id" in spec or "fp" in spec, plan[:2000]


def test_phash_band_dedup_equi_join_only(spark):
    """multimodal_phash_band_dedup: candidates must come from the
    (band, value) equi-join — no cartesian/BNLJ pair enumeration and no
    sort-merge join (band buckets are capped, sides stay hash-joinable)."""
    df = _build(spark, "multimodal_phash_band_dedup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_refine_shortlist_broadcasts(spark):
    """The refine step must broadcast the (query x R) shortlist against
    the vector table — re-reading R raw rows per query is the refine IO
    contract; a shuffled join of the corpus would break it."""
    df = _build(spark, "ann_ivf_pq_refine_topk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert broadcast_join_count(df) >= 2


def test_session_table_builds_are_lazy_no_jobs(spark):
    """The shared-intermediate cache persists LAZILY (persist, never an
    eager localCheckpoint): BUILDING a gate DataFrame backed by
    _session_table — the LSH bucket table, the drift cell table — must
    trigger zero Spark jobs.  Plan-only consumers (explain, PLANS.md,
    registry smoke) pay nothing; only an action materializes."""
    from datafusion_tpch_spark.queries import extensions as ext

    sc = spark.sparkContext
    # warm the fixture schemas so footer sniffing doesn't muddy the count
    ext._t(spark, SF_DIR, "documents", "events")
    forget(spark, "table")
    sc.setJobGroup("lazy-build-check", "plan-only build must run no jobs")
    try:
        ext.dedup_minhash_lsh(spark, SF_DIR)          # LSH bucket cache
        ext.events_distribution_drift(spark, SF_DIR)  # drift cell cache
        jobs = sc.statusTracker().getJobIdsForGroup("lazy-build-check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], f"plan-only build ran jobs: {jobs}"


# A frame declared once must be EVALUATED once: the gates below share a
# subtree between consumers through operators/reuse.evaluate_once, whose
# docstring names the optimizer rules that would fork it.  These counts
# audit the POST-EXECUTION final plan — runtime ReusedExchange is
# invisible in the initial plan — at sf0.01 (at sf0.001 selective gates
# collapse to EmptyRelation and hide the shape).  A lost reuse shows as
# more scans or Generates and fewer ReusedExchange nodes.
_SF01 = "/root/testdata/sf0.01"

# gate -> (max FileScan parquet, max Generate, min ReusedExchange) in the
# executed final plan; each value as measured before evaluate_once existed
_SINGLE_EVAL_BOUNDS = {
    "tfidf_top_terms": (2, 1, 1),     # tokenize once + the n_corpus scan
    "docs_bm25_topk": (1, 1, 3),      # tf/dl/dfreq/stats share one explode
    "docs_chunk_dedup": (1, 1, 1),
    "docs_boilerplate_strip": (3, 1, 1),  # df+strip share; before/total scans
    "docs_dsir_score": (2, 2, 0),     # full corpus + the non-en slice
    "docs_negative_pairs": (3, 1, 2),  # sharded_prefix: one range exchange
    "docs_token_budget": (1, 0, 2),
    "docs_token_budget_bpe": (3, 1, 0),
    "docs_token_pack": (1, 0, 2),
    "events_concurrency": (1, 1, 2),
    "events_late_audit": (1, 0, 2),
    "events_type_dow_chisq": (1, 0, 3),  # cells exchange feeds all marginals
    "events_stickiness": (1, 0, 1),
    "events_user_retention": (1, 0, 0),
    "events_funnel": (3, 0, 2),       # one scan per funnel stage
    "part_skyline": (2, 0, 2),
    "q15": (2, 0, 1),                 # revenue exchange reused; + supplier
    "q15_window": (2, 0, 1),
}


def _reuse_counters(df):
    """(FileScan parquet, Generate, ReusedExchange) in ``df``'s executed
    final plan; collects ``df``."""
    df.collect()  # the FINAL adaptive plan is what actually ran
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return (
        final.count("FileScan parquet"),
        final.count("Generate "),
        final.count("ReusedExchange"),
    )


def test_shared_subtrees_evaluated_once(spark):
    offenders = {}
    for name, (max_scans, max_gen, min_reused) in sorted(
        _SINGLE_EVAL_BOUNDS.items()
    ):
        df = all_queries()[name].build(spark, _SF01)
        scans, gens, reused = _reuse_counters(df)
        moved = []
        if scans > max_scans:
            moved.append(f"FileScan {scans} > {max_scans}")
        if gens > max_gen:
            moved.append(f"Generate {gens} > {max_gen}")
        if reused < min_reused:
            moved.append(f"ReusedExchange {reused} < {min_reused}")
        if moved:
            offenders[name] = ", ".join(moved)
    assert not offenders, f"shared subtree evaluated more than once: {offenders}"


def test_evaluate_once_keeps_pruning_consumer_on_one_scan(spark, tmp_path):
    """Two consumers of one (doc, term) count: the df side drops ``tf``,
    which without the helper prunes its aggregate to a distinct-style one
    that no longer matches the tf side's, so the file is scanned twice."""
    from pyspark.sql import functions as F

    from datafusion_tpch_spark.operators.reuse import evaluate_once

    path = str(tmp_path / "terms.parquet")
    spark.createDataFrame(
        [(d, f"t{(d * w) % 7}") for d in range(40) for w in range(5)],
        "doc_id long, term string",
    ).write.parquet(path)

    def shape(pin):
        tf = pin(
            spark.read.parquet(path)
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        return _reuse_counters(tf.join(df_, "term"))

    scans, _, reused = shape(evaluate_once)
    assert scans == 1 and reused >= 1, (
        f"with evaluate_once: {scans} scans, {reused} ReusedExchange"
    )
    scans, _, reused = shape(lambda df: df)
    assert scans == 2, f"without evaluate_once the scan ran {scans}x, not 2x"


def test_recall_audit_inputs_pair_distinct(spark):
    """dedup_lsh_recall_audit's three counts are exact ONLY if both
    inputs are unique on (doc1, doc2) — true by construction today
    (the LSH side ends in .distinct(), the exact side is aggregate-
    keyed), but nothing upstream enforced it; an upstream change
    emitting duplicate pairs would skew n_hit/n_candidate_pairs
    silently (round-14 advisor note)."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        df = _build(spark, name)
        n = df.count()
        nd = df.select("doc1", "doc2").distinct().count()
        assert n == nd, f"{name}: {n} rows but {nd} distinct (doc1, doc2)"


def test_kernel_width_rule(spark):
    """clamp(ceil(rows / ROWS_PER_PY_TASK), 1, defaultParallelism) at the
    edges; an unknown row count gets the full width."""
    from datafusion_tpch_spark.operators.fanout import (
        ROWS_PER_PY_TASK as D,
        kernel_width,
    )

    cap = spark.sparkContext.defaultParallelism
    got = {rows: kernel_width(spark, rows) for rows in (0, 1, D, D + 1, 10**9)}
    assert got == {0: 1, 1: 1, D: 1, D + 1: min(2, cap), 10**9: cap}, got
    assert kernel_width(spark, None) == cap
    # the rule's own bounds: sf0.01's 500 documents in one task, sf0.1's
    # 5000 at no less than four tasks' worth
    assert 500 <= D <= 1250


def test_kernel_front_starts_no_job(spark):
    """Building a front reads parquet footers in-process; it must not
    start a Spark job (no count(), no sampling)."""
    from datafusion_tpch_spark.catalog import load_table
    from datafusion_tpch_spark.operators import fanout

    sc = spark.sparkContext
    docs = load_table(spark, _SF01, "documents")
    forget(spark, "footer_rows")  # read the footers again
    group = "kernel-front-no-job"
    sc.setJobGroup(group, "building a front must run no jobs")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        front = fanout.kernel_front(docs, "text")
        front._jdf.queryExecution().executedPlan()
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert before == after == [], f"building a front ran jobs: {after}"
    assert fanout.input_rows(docs) == 500


def test_input_rows_stops_at_cap(spark, tmp_path):
    """Once the footers read reach ``stop_at`` rows, the rest are not read:
    a many-file input costs no more footer reads than the cap needs."""
    from datafusion_tpch_spark.operators import fanout

    for i in range(3):
        spark.range(i * 10, i * 10 + 10).write.parquet(str(tmp_path / f"part{i}"))
    df = spark.read.parquet(*(str(tmp_path / f"part{i}") for i in range(3)))
    files = set(df.inputFiles())
    assert len(files) >= 3
    rows = fanout.input_rows(df, stop_at=1)
    known = {k[1]: v for k, v in forget(spark, "footer_rows").items()}
    read = files & known.keys()
    assert rows == sum(known[f] for f in read) >= 1
    assert len(read) < len(files), f"read all {len(files)} footers for stop_at=1"
    assert fanout.input_rows(df) == 30


def test_kernel_fronts_sized_from_rows(spark):
    """Every gate whose mapInPandas is fed by ``kernel_front`` gives its
    Python node the rule's width: one task for sf0.01's 500 documents, not
    one per core."""
    from datafusion_tpch_spark.catalog import load_table
    from datafusion_tpch_spark.operators.fanout import input_rows, kernel_width
    from datafusion_tpch_spark.plans import kernel_front_widths

    docs = load_table(spark, _SF01, "documents")
    want = kernel_width(spark, input_rows(docs))
    assert want == 1
    fed, offenders = [], {}
    for name, qspec in sorted(all_queries().items()):
        if name.endswith("_stream"):
            continue  # micro-batch plans
        widths = kernel_front_widths(qspec.build(spark, _SF01))
        if widths:
            fed.append(name)
        if any(w != want for w in widths):
            offenders[name] = f"python input width {sorted(set(widths))} != rule {want}"
    assert not offenders, offenders
    # the scan must see the fronts at all (the codec and pixel gates)
    assert "multimodal_pixel_stats" in fed and len(fed) >= 30, fed
