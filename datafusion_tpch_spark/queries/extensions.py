"""LLM-data-pipeline extension queries (north-star operators beyond the
reference's own surface): deduplication, similarity search, text analysis,
and event-stream analytics — each as a DataFrame builder + DuckDB oracle.

Everything is built from JVM-side built-ins (higher-order array functions,
window functions) — no Python UDFs — so the same plans scale to 100 TB
document/embedding tables: dedup is a shuffle on a fingerprint key, LSH is a
bucket-join instead of an O(n²) self-join, similarity search broadcasts the
(small) query set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import hashing, text, vectors
from ..functions.exact import davg, davg_sql, dsum, dsum_sql
from ..operators import dedup
from ..operators.fanout import kernel_front
from ..operators.reuse import evaluate_once
from ..operators.similarity import (
    probe_join,
    query_rank,
    query_rank_sql,
    query_topk,
    query_topk_sql,
)
from ..session import memo
from . import QuerySpec


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [load_table(spark, sf_dir, n) for n in names]


# Shared-intermediate materialization: several gate families derive the
# same expensive table (capped shingle set, LSH buckets, SimHash
# signatures, semantic near-dup pairs) and Catalyst does not share
# subplans across separately-submitted queries.  Materialize each once
# per (session, fixture) — the in-session form of "write the
# intermediate table once", which is what a 100 TB pipeline does on disk.
# persist() (not localCheckpoint) keeps the build LAZY — plan-only
# consumers (explain, PLANS.md, registry smoke) trigger no jobs — and
# keeps LINEAGE, so executor loss during a long session recomputes the
# lost blocks instead of failing the job.  The session memo is also what
# stops re-invocations from stacking fresh persisted copies in storage
# memory: every caller of the same (fixture, tag) shares ONE persisted
# frame per session.
def _session_table(spark: SparkSession, sf_dir: str, tag: str,
                   build) -> DataFrame:
    return memo(spark, ("table", sf_dir, tag), lambda: build().persist())


# ===========================================================================
# Deduplication
# ===========================================================================

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: survivor = min doc_id per normalized-text fingerprint.
    One hash-shuffle on the fingerprint; no O(n²) anywhere."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", text.fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("survivor_id")
    )


DEDUP_EXACT_SQL = f"""
SELECT {text.fingerprint_sql('text')} AS fp,
       MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
FROM documents
GROUP BY fp
ORDER BY survivor_id
"""


_INCR_SPLIT = 400  # doc_id >= split is the "incoming batch", rest the corpus


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup shape: an incoming batch is checked against the
    existing corpus, not against itself.  Exact-fingerprint anti-join: keep
    only incoming docs whose fingerprint is NOT already in the corpus.
    One hash-shuffle on the fingerprint (corpus side aggregates to distinct
    fingerprints first — at 100 TB that's the pre-built dedup index table
    this query would read instead of recompute)."""
    (docs,) = _t(spark, sf_dir, "documents")
    fp = text.fingerprint(F.col("text")).alias("fp")
    corpus_fps = docs.filter(F.col("doc_id") < _INCR_SPLIT).select(fp).distinct()
    incoming = docs.filter(F.col("doc_id") >= _INCR_SPLIT).select("doc_id", fp)
    return (
        incoming.join(corpus_fps, "fp", "left_anti")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH corpus AS (
  SELECT DISTINCT {text.fingerprint_sql('text')} AS fp
  FROM documents WHERE doc_id < {_INCR_SPLIT}),
incoming AS (
  SELECT doc_id, {text.fingerprint_sql('text')} AS fp
  FROM documents WHERE doc_id >= {_INCR_SPLIT})
SELECT doc_id, fp
FROM incoming
WHERE fp NOT IN (SELECT fp FROM corpus)
ORDER BY doc_id
"""


# --- n-gram Jaccard near-dup --------------------------------------------

_JACCARD_T = 0.35
# Hot-shingle document-frequency cap: a shingle present in more than this
# many documents is boilerplate (headers, license text) — it carries no
# near-dup signal but drives the self-join fan-out quadratically
# (Σ df(shingle)² pairs).  Dropping df > cap bounds any one shingle's
# contribution at cap² and is mirrored exactly in the oracle SQL, so
# results still hash-match.
_SHINGLE_MAX_DF = 50


def _shingle_set(spark: SparkSession, sf_dir: str, checkpoint: bool = True) -> DataFrame:
    """Distinct (doc_id, shingle-hash) pairs with the hot-shingle df cap
    applied as a broadcast anti-join against the df > cap shingle list:
    counting a hot key is linear (hash aggregate with partial combine);
    only joining on it would be quadratic — which the filter prevents.
    The hot list is bounded by corpus boilerplate, not corpus size, so the
    broadcast stays small at 100 TB.

    ``checkpoint=True`` materializes the capped set once per (session,
    fixture) via ``_session_table`` — it feeds jaccard, containment, and
    the recall audit, each with multiple consumers of both join sides.
    Tests pass ``checkpoint=False`` to audit the pre-checkpoint plan.
    """
    if checkpoint:
        return _session_table(
            spark, sf_dir, "shingle_set",
            lambda: _shingle_set(spark, sf_dir, checkpoint=False),
        )
    (docs,) = _t(spark, sf_dir, "documents")
    sh_all = dedup.shingle_hashes(docs)
    # hot-shingle list: only shingles with df > cap survive the HAVING, so
    # it is tiny (boilerplate n-grams) however large the corpus — broadcast
    # anti-join beats a count window here because the window would re-sort
    # the full shingle set, while the hash aggregate partial-combines and
    # the anti-join adds no shuffle on the big side
    hot = (
        sh_all.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _SHINGLE_MAX_DF)
        .select("h")
    )
    return sh_all.join(F.broadcast(hot), "h", "left_anti")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard similarity over
    informative shingles (document frequency ≤ {cap}).

    Relational formulation: explode distinct shingles, drop hot shingles
    (df > {cap} — the skew defense: without it one boilerplate shingle in
    k docs contributes k² candidate pairs), self-join on shingle, count
    common / (n1 + n2 - common).  The shingle join is a hash shuffle on the
    int64 shingle hash; banding (see dedup_minhash_lsh) cuts candidate
    pairs further when approximate recall is acceptable — this variant is
    the exact-Jaccard baseline.
    """
    sh = _shingle_set(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.join(s1, "doc1").join(s2, "doc2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("doc1", "doc2", "common", "n1", "n2", "jaccard")
        .orderBy("doc1", "doc2")
    )


dedup_ngram_jaccard.__doc__ = (dedup_ngram_jaccard.__doc__ or "").format(
    cap=_SHINGLE_MAX_DF
)


# oracle mirror of operators.dedup.shingle_hashes
_SHINGLE_HASHES_SQL = f"""
SELECT DISTINCT doc_id, {hashing.md5_int_sql('shingle')} AS h
FROM (SELECT doc_id, unnest({text.shingles_sql('text', dedup.SHINGLE_N)}) AS shingle
      FROM documents)"""


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh_all AS ({_SHINGLE_HASHES_SQL}),
hot AS (SELECT h FROM sh_all GROUP BY h HAVING COUNT(*) > {_SHINGLE_MAX_DF}),
sh AS (SELECT * FROM sh_all WHERE h NOT IN (SELECT h FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY doc1, doc2)
SELECT doc1, doc2, common, s1.n_sh AS n1, s2.n_sh AS n2,
       common * 1.0 / (s1.n_sh + s2.n_sh - common) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE common * 1.0 / (s1.n_sh + s2.n_sh - common) >= {_JACCARD_T}
ORDER BY doc1, doc2
"""


# --- MinHash + LSH banding ------------------------------------------------

def _minhash_sig_sql() -> str:
    mins = ",\n       ".join(
        f"MIN({hashing.minhash_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(hashing.perm_params(dedup.MH_K))
    )
    return f"""
SELECT doc_id,
       {mins}
FROM ({_SHINGLE_HASHES_SQL})
GROUP BY doc_id
"""


# Hot-bucket cap: a band bucket holding more than this many documents
# (boilerplate-heavy corpora collapse near-identical docs into one bucket)
# would contribute count² candidate pairs to the self-join; such buckets
# are skipped — the standard banded-LSH skew defense (their members are
# better handled by exact-fingerprint dedup first).  Mirrored in the
# oracle SQL, so results still hash-match.
_LSH_MAX_BUCKET = 50


def _lsh_buckets(spark: SparkSession, sf_dir: str, checkpoint: bool = True) -> DataFrame:
    """(doc_id, band, bkey) bucket membership with the hot-bucket cap
    applied as a count window over the bucket key: rides the same
    (band, bkey) shuffle the self-join needs; a hot bucket costs a linear
    count, never the quadratic join.  ``checkpoint=True`` materializes the
    buckets once per (session, fixture) via ``_session_table`` — the LSH
    gate, the recall audit, and the provenance matrix all consume the
    same table, each on both join sides; tests pass ``checkpoint=False``
    to audit the pre-checkpoint plan."""
    if checkpoint:
        return _session_table(
            spark, sf_dir, "lsh_buckets",
            lambda: _lsh_buckets(spark, sf_dir, checkpoint=False),
        )
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        dedup.lsh_buckets(kernel_front(docs, "text"))
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey")))
        .filter(F.col("n_docs") <= _LSH_MAX_BUCKET)
        .drop("n_docs")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH banding (4 bands × 4 rows): candidate pairs are
    documents agreeing on at least one full band whose bucket holds at
    most {cap} documents.

    Scale path for near-dup at 100 TB: the only shuffles are (a) shingle →
    signature aggregation and (b) the band-bucket self-join, whose fan-out
    the bucket cap bounds at {cap}² per bucket — one hot bucket can no
    longer produce a straggler task.
    """
    buckets = _lsh_buckets(spark, sf_dir)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
        .orderBy("doc1", "doc2")
    )


def _band_sql(alias: str) -> str:
    rows = []
    for band in range(dedup.MH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(m{band * dedup.MH_ROWS + r} AS VARCHAR)"
            for r in range(dedup.MH_ROWS)
        )
        rows.append(
            f"SELECT doc_id, {band} AS band, md5({cols}) AS bkey FROM {alias}"
        )
    return " UNION ALL ".join(rows)


dedup_minhash_lsh.__doc__ = (dedup_minhash_lsh.__doc__ or "").format(
    cap=_LSH_MAX_BUCKET
)


DEDUP_MINHASH_LSH_SQL = f"""
WITH sig AS ({_minhash_sig_sql()}),
buckets_all AS ({_band_sql('sig')}),
hot AS (SELECT band, bkey FROM buckets_all
        GROUP BY band, bkey HAVING COUNT(*) > {_LSH_MAX_BUCKET}),
buckets AS (
  SELECT b.* FROM buckets_all b
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.band = b.band AND h.bkey = b.bkey))
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
ORDER BY doc1, doc2
"""


def _lsh_buckets_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED (doc_id, band, bkey) bucket membership, session-cached.
    The incremental-admission gate derives its corpus-capped index from
    this; the batch self-join gate keeps its own jointly-capped table
    (``_lsh_buckets``) because a self-join must cap the cells it joins."""
    return _session_table(
        spark, sf_dir, "lsh_buckets_raw",
        lambda: dedup.lsh_buckets(
            kernel_front(_t(spark, sf_dir, "documents")[0], "text")
        ),
    )


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission (the crawl-ingest deployment shape):
    an incoming batch probes the existing corpus's PREBUILT LSH bucket
    index instead of re-deduping the whole corpus — the near-dup
    counterpart of ``dedup_incremental``'s exact anti-join.  Per incoming
    doc: how many (band, bucket) cells it shares with any corpus doc, and
    the admission verdict (kept iff zero collisions).

    The index cells are capped on CORPUS occupancy only (a cell already
    holding more than {cap} corpus docs is boilerplate — dropped from
    the index, its members handled by exact dedup first), so a probe's
    fan-out is bounded AND a verdict never depends on what else happens
    to be in the same incoming batch — the same verdict the stored,
    batch-appended index of a real pipeline would give.  The only
    per-batch work is hashing the batch and one (band, bkey) semi-join
    whose build side is the index — at 100 TB the batch never shuffles
    the corpus."""
    from ..streaming.maintenance import admit_batch

    (docs,) = _t(spark, sf_dir, "documents")
    buckets = _lsh_buckets_raw(spark, sf_dir)
    corpus_cells = _corpus_index_cells(buckets)
    incoming_b = buckets.filter(F.col("doc_id") >= _INCR_SPLIT)
    incoming = docs.filter(F.col("doc_id") >= _INCR_SPLIT).select("doc_id")
    return admit_batch(incoming_b, incoming, corpus_cells).orderBy("doc_id")


def _corpus_index_cells(buckets: DataFrame) -> DataFrame:
    """The corpus-capped (band, bkey) admission index: cells from corpus
    docs only, hot cells (boilerplate) dropped on CORPUS occupancy so a
    probe's fan-out is bounded and verdicts are batch-independent."""
    return (
        buckets.filter(F.col("doc_id") < _INCR_SPLIT)
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= _LSH_MAX_BUCKET)
        .select("band", "bkey")
    )


dedup_incremental_lsh.__doc__ = (dedup_incremental_lsh.__doc__ or "").format(
    cap=_LSH_MAX_BUCKET
)


def dedup_persisted_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_lsh`` with the bucket index's lifetime moved
    from the session to STORAGE — the deployment shape where an index
    build job hashes the corpus once and every later crawl-ingest session
    admits its batch from the artifacts alone.  Build: corpus (band, bkey)
    occupancy written ``partitionBy("band")`` with a fingerprint manifest
    (manifest LAST, so a killed build is invisible; see
    ``operators/artifact_io.py``).  Serve: hash ONLY the incoming batch, one
    semi-join against the stored cells under the serve-side hot-cell cap —
    the corpus is never rehashed, never reshuffled, never even scanned.

    Verdicts are defined to match ``dedup_incremental_lsh`` row-for-row
    (same oracle), so persistence provably changed the index's lifetime,
    not its answers — ``tests/test_lsh_index.py`` serves a fresh session
    with corpus bucket-building forcibly disabled to prove it.

    At 100 TB: the bucket table is tiny relative to the corpus (one row
    per occupied cell), the probe is an equi-semi-join whose build side is
    the index, and the cap keeps per-doc fan-out bounded regardless of
    boilerplate density."""
    from ..operators import artifact_io as aio
    from ..operators import lsh_index as li
    from ..streaming.maintenance import admit_batch

    (docs,) = _t(spark, sf_dir, "documents")
    path = li.lsh_index_path(sf_dir)
    fp = _corpus_fingerprint(spark, sf_dir, "documents")
    params = {"bands": dedup.MH_BANDS, "rows": dedup.MH_ROWS, "split": _INCR_SPLIT}
    if not aio.is_current(spark, path, li.FORMAT_VERSION, fp, params):
        _build_lsh_bucket_index(docs, path, fp, params)
    incoming = kernel_front(docs, "text").filter(
        F.col("doc_id") >= _INCR_SPLIT
    )
    cells = (
        aio.load(spark, path, "cells")
        .filter(F.col("n_docs") <= _LSH_MAX_BUCKET)  # serve-side cap
        .select("band", "bkey")
    )
    return admit_batch(
        dedup.lsh_buckets(incoming), incoming.select("doc_id"), cells
    ).orderBy("doc_id")


def _build_lsh_bucket_index(docs: DataFrame, path: str, fp: str,
                            params: dict) -> None:
    """The LSH index BUILD JOB — the only place the corpus is hashed.
    Kept as a named seam so the fresh-session test can make it raise and
    prove the serve path runs from artifacts alone."""
    from ..operators import lsh_index as li

    corpus = kernel_front(docs, "text").filter(
        F.col("doc_id") < _INCR_SPLIT
    )
    cells = (
        dedup.lsh_buckets(corpus)
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    li.write_lsh_index(cells, path, fp, params)


DEDUP_INCREMENTAL_LSH_SQL = f"""
WITH sig AS ({_minhash_sig_sql()}),
buckets_all AS ({_band_sql('sig')}),
corpus_cells AS (
  SELECT band, bkey FROM buckets_all WHERE doc_id < {_INCR_SPLIT}
  GROUP BY band, bkey HAVING COUNT(*) <= {_LSH_MAX_BUCKET}),
hits AS (
  SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_buckets
  FROM buckets_all i
  WHERE i.doc_id >= {_INCR_SPLIT}
    AND EXISTS (SELECT 1 FROM corpus_cells c
                WHERE c.band = i.band AND c.bkey = i.bkey)
  GROUP BY i.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_hit_buckets, 0) AS n_hit_buckets,
       COALESCE(h.n_hit_buckets, 0) = 0 AS kept
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id >= {_INCR_SPLIT}
ORDER BY d.doc_id
"""


# --- Recall audits: approximate paths measured against exact baselines ----

def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's quality loop closed IN-PLAN: banded-LSH
    candidate pairs measured against the exact-Jaccard baseline —
    recall (true near-dup pairs the bands caught) and candidate
    efficiency (fraction of candidates that are true pairs).  Approx
    methods at 100 TB are tuned by exactly this audit run on a sampled
    shard; asserting recall in a doc is not the same as measuring it.

    Both sides are this repo's own gates (`dedup_ngram_jaccard`,
    `dedup_minhash_lsh`) composed lazily — one plan, no intermediate
    materialization; counts are exact integers, ratios identical IEEE
    divides."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc1", "doc2", F.lit(1).alias("_true")
    )
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        "doc1", "doc2", F.lit(1).alias("_cand")
    )
    # ONE full-outer join gives all three counts in a single pass — both
    # the exact-Jaccard self-join AND the LSH candidate side execute
    # once each (the old left-join + separate candidate count evaluated
    # the banded-LSH chain twice; both sides are unique on (doc1, doc2),
    # so the outer join preserves every count exactly)
    marked = exact.join(cand, ["doc1", "doc2"], "full_outer")
    counts = marked.agg(
        F.count("_true").alias("n_true_pairs"),
        F.count("_cand").alias("n_candidate_pairs"),
        F.count(
            F.when(F.col("_true").isNotNull() & F.col("_cand").isNotNull(), 1)
        ).alias("n_hit"),
    )
    return counts.select(
        "n_true_pairs", "n_candidate_pairs", "n_hit",
        (F.col("n_hit").cast("double")
         / F.col("n_true_pairs").cast("double")).alias("recall"),
        (F.col("n_hit").cast("double")
         / F.col("n_candidate_pairs").cast("double")
         ).alias("efficiency"),
    )


_DEDUP_LSH_RECALL_AUDIT_TMPL = f"""
WITH exact_pairs AS (
  SELECT doc1, doc2 FROM ({{NGRAM}})),
cand_pairs AS (
  SELECT doc1, doc2 FROM ({{LSH}})),
hit AS (
  SELECT e.doc1 FROM exact_pairs e
  JOIN cand_pairs c ON e.doc1 = c.doc1 AND e.doc2 = c.doc2)
SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_true_pairs,
       (SELECT COUNT(*) FROM cand_pairs) AS n_candidate_pairs,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM exact_pairs) AS DOUBLE) AS recall,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM cand_pairs) AS DOUBLE) AS efficiency
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality scoreboard measured in-plan, one row per index family:
    the trained-IVF nprobe path, its PQ-compressed ADC twin (same probed
    cells, ranked by compressed distance — the recall delta is what the
    compression costs the search), and the SRP multi-probe path are each
    scored against the brute-force exact top-k — overall recall@k, the
    per-query worst/best hit counts (the tail is what an ANN SLO is
    written against, not the mean), and the MEASURED efficiency price:
    candidate pairs actually scored and the fraction of the full
    query x corpus cross product they represent.  Recall without its
    candidate fraction is not a result — a method can always buy recall
    by probing more.  Both methods reuse the exact pair frames their
    gates run (``_ivf_pairs`` / ``_srp_multiprobe_pairs``), so the audit
    scores the deployed plans, not replicas.  Same closed quality loop
    as ``dedup_lsh_recall_audit``, on the similarity-search side; the
    trained-IVF row is the headline — ~73-80% recall@5 at ~20-24%
    candidates vs SRP's ~30% at ~16% on the near-uniform fixture.

    The ivfpq row's low recall (~10% at the 4x16 codebook) is the
    honest price of 64x compression on NEAR-UNIFORM vectors — measured
    sweep: even a 16x128 codebook only reaches ~45% ADC recall@5 here,
    because unclustered dimensions leave quantization noise comparable
    to the cosine gaps being ranked (the same data property behind the
    SRP ceiling, see ann_lsh_topk).  Production closes it by exact
    re-ranking the ADC shortlist against raw vectors (the FAISS refine
    step); the uncompressed ivf row IS that exact ranking over the same
    probed cells, so the pair of rows brackets the refine step's win."""
    # the gold top-k is consumed once per method row and each method's
    # pair frame feeds both its top-k branch and its count branch —
    # persist the small frames (<= a few thousand rows) via the session
    # cache so the audit executes each candidate plan once, not once per
    # consumer, AND re-invocations (bench warm-up + best-of-2, plan/scale
    # sweeps) reuse the same persisted frames instead of stacking fresh
    # copies in storage memory for the process lifetime.
    gold = _session_table(
        spark, sf_dir, "audit_gold",
        lambda: ann_bruteforce_topk(spark, sf_dir).select(
            "query_id", "cand_id"
        ),
    )
    (emb,) = _t(spark, sf_dir, "embeddings")
    n_corpus = emb.agg(F.count(F.lit(1)).alias("nc"))
    out = None
    for method, pairs_build, score in (
        ("ivf", lambda: _ivf_pairs(spark, sf_dir), "cos_sim"),
        # ivfpq probes the SAME cells as ivf but ranks by compressed ADC
        # distance — its recall delta vs the ivf row is exactly what the
        # 64x compression costs the SEARCH (distortion audit covers the
        # reconstruction side)
        ("ivfpq", lambda: _ivf_pq_pairs(spark, sf_dir), "adc_dist"),
        # the refine row's cand_frac counts RAW-vector reads (the refine
        # IO budget: _PQ_REFINE_R per query), not the ADC scan behind it
        ("ivfpq_refine", lambda: _ivf_pq_refine_pairs(spark, sf_dir),
         "cos_sim"),
        ("srp", lambda: _srp_multiprobe_pairs(spark, sf_dir), "cos_sim"),
    ):
        pairs = _session_table(
            spark, sf_dir, f"audit_pairs_{method}", pairs_build
        )
        top = query_topk(pairs, score, score == "cos_sim", _TOPK).select(
            F.col("query_id").alias("aq"), F.col("cand_id").alias("ac")
        )
        per_q = (
            gold.join(
                top,
                (F.col("query_id") == F.col("aq"))
                & (F.col("cand_id") == F.col("ac")),
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("ac").alias("h"), F.count(F.lit(1)).alias("g"))
        )
        npairs = pairs.agg(F.count(F.lit(1)).alias("np"))
        row = (
            per_q.agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.sum("g").cast("long").alias("n_gold"),
                F.sum("h").cast("long").alias("n_hits"),
                (F.sum("h").cast("double") / F.sum("g").cast("double"))
                .alias("recall_at_k"),
                F.min("h").cast("long").alias("min_hits_per_query"),
                F.max("h").cast("long").alias("max_hits_per_query"),
            )
            .crossJoin(npairs)   # 1-row scalar broadcasts
            .crossJoin(n_corpus)
            .select(
                F.lit(method).alias("method"),
                "n_queries", "n_gold", "n_hits", "recall_at_k",
                "min_hits_per_query", "max_hits_per_query",
                F.col("np").cast("long").alias("n_cand_pairs"),
                (F.col("np").cast("double")
                 / (F.col("n_queries").cast("double")
                    * (F.col("nc").cast("double") - 1.0))).alias("cand_frac"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method")


# --- SimHash ---------------------------------------------------------------

_SIMHASH_BITS = 16


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature table shared by the simhash gate and BOTH sides of the
    multi-probe Hamming join — one materialization per (session, fixture)."""
    return _session_table(
        spark, sf_dir, "simhash", lambda: _simhash_plan(spark, sf_dir)
    )


def _simhash_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("tok")
    ).withColumn("h", hashing.md5_int(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for j in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: bit j is 1 iff the majority of token
    hashes have bit j set. Computed as 16 conditional sums over exploded
    tokens — one aggregation, no UDF. Returns (doc_id, simhash)."""
    return _simhash_table(spark, sf_dir).orderBy("doc_id")


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h & {1 << j}) <> 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
FROM (SELECT doc_id, {sums}
      FROM (SELECT doc_id, {hashing.md5_int_sql('tok')} AS h
            FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
                  FROM documents))
      GROUP BY doc_id)
ORDER BY doc_id
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


def dedup_simhash_hamming1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SimHash near-dup lookup: pairs whose 16-bit signatures
    differ in AT MOST one bit, found by the multi-probe trick — each doc
    emits its signature plus all {b} single-bit flips (a fixed {b}+1
    fan-out), and candidates fall out of one equi-join probe-vs-signature
    instead of any Hamming-distance scan.  This is how signature stores
    answer tolerance queries at scale: fan-out is constant in corpus
    size, the join is a hash join on a 64-bit key, and tolerance k costs
    C({b},≤k) probes — a parameter, not a new plan.  Exact bit distance
    rides along for the consumer."""
    sims = _simhash_table(spark, sf_dir)
    a = sims.select(
        F.col("doc_id").alias("doc1"),
        F.col("simhash").alias("s1"),
        F.explode(
            F.array(
                F.col("simhash"),
                *[
                    F.col("simhash").bitwiseXOR(F.lit(1 << j))
                    for j in range(_SIMHASH_BITS)
                ],
            )
        ).alias("probe"),
    )
    b = sims.select(F.col("doc_id").alias("doc2"), F.col("simhash").alias("s2"))
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int")
    return (
        a.join(b, (F.col("probe") == F.col("s2")) & (F.col("doc1") < F.col("doc2")))
        .select("doc1", "doc2", "s1", "s2")
        .distinct()
        .withColumn("hamming", ham)
        .orderBy("doc1", "doc2")
    )


dedup_simhash_hamming1.__doc__ = (dedup_simhash_hamming1.__doc__ or "").format(
    b=_SIMHASH_BITS
)


def _simhash_hamming1_sql() -> str:
    flips = ", ".join(f"xor(simhash, {1 << j})" for j in range(_SIMHASH_BITS))
    return f"""
WITH sims AS MATERIALIZED ({_simhash_sql().replace('ORDER BY doc_id', '')}),
probes AS (
  SELECT doc_id AS doc1, simhash AS s1,
         unnest([simhash, {flips}]) AS probe
  FROM sims),
pairs AS (
  SELECT DISTINCT p.doc1, b.doc_id AS doc2, p.s1, b.simhash AS s2
  FROM probes p JOIN sims b ON p.probe = b.simhash AND p.doc1 < b.doc_id)
SELECT doc1, doc2, s1, s2,
       CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
FROM pairs
ORDER BY doc1, doc2
"""


DEDUP_SIMHASH_HAMMING1_SQL = _simhash_hamming1_sql()


# --- Embedding cosine near-dup ---------------------------------------------

_COS_T = 0.40  # fixture embeddings are cluster-sampled; max pairwise ~0.51


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with cosine similarity above threshold over the
    embedding column, via the blocked distributed all-pairs kernel
    (operators.similarity.pairwise_cosine): rows shuffle to block-pair
    tasks, each task runs one BLAS dgemm prefilter + the exact quantized
    verify — no driver-side materialization anywhere in the plan.  Exact
    all-pairs stays quadratic in compute by definition; at corpus scale
    candidate generation moves to LSH (ann_lsh_topk / MinHash banding) and
    this same quantized kernel verifies the candidate pairs."""
    from ..operators.similarity import pairwise_cosine

    (emb,) = _t(spark, sf_dir, "embeddings")
    return pairwise_cosine(emb, "vec_id", "embedding", _COS_T).orderBy("id1", "id2")


DEDUP_EMBEDDING_COSINE_SQL = f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {vectors.cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {vectors.cosine_sql('a.embedding', 'b.embedding')} >= {_COS_T}
ORDER BY id1, id2
"""


_SEM_BANDS = 8          # bands of SRP planes; candidate = share >=1 band bucket
_SEM_PLANES = 6         # planes per band -> 64 buckets per band
_SEM_CAP = 100          # hot-bucket straggler guard (as in dedup_minhash_lsh)
# same threshold as the exact all-pairs baseline (dedup_embedding_cosine),
# so recall of this sub-quadratic path is directly measurable against it.
# Parameter scaling: planes-per-band P sets the candidate fraction
# (~2^-P per random pair per band), so P grows with log2(n) to keep
# buckets O(1)-sized and the cap a guard rather than a filter; the band
# count B buys recall (1-(1-p^P)^B for per-plane agreement p).  On the
# fixture corpus (threshold 0.40 — far looser than a production near-dup
# 0.9+, where SRP agreement is much higher) 8x6 gives ~0.4 recall vs the
# all-pairs baseline with ~13% of pairs generated as candidates.
_SEM_T = _COS_T


def _sem_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic near-dup pair table feeds four gates (pair listing,
    cluster formation, the kNN graph, the threshold sweep); materialize
    once per (session, fixture), exactly as a real pipeline persists the
    pair table before survivor election."""
    return _session_table(
        spark, sf_dir, "sem_pairs", lambda: _sem_pairs_plan(spark, sf_dir)
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup dedup, the **sub-quadratic 100 TB path**: banded
    SRP-LSH candidate generation + exact quantized cosine verify.

    One corpus pass computes all band buckets per vector
    (operators.similarity.srp_band_buckets); candidate generation + exact
    verify are FUSED into one applyInPandas over the (band, bucket)
    shuffle (bucket_pair_cosine): each bucket's vectors arrive once, one
    dgemm scores every member pair, the hot-bucket cap guards stragglers
    in-kernel, and only >=threshold pairs leave the task — the candidate
    fan-out never hits a shuffle.  Shuffle volume is n_bands x corpus
    rows in, result rows out.  Contrast with dedup_embedding_cosine, the
    exact blocked all-pairs baseline this pipeline's recall is measured
    against.  Misses are by construction (pairs bucketed apart in every
    band); the oracle mirrors the banding bit-for-bit, expressed as the
    equivalent capped bucket self-join + pair verify.
    """
    return _sem_pairs(spark, sf_dir).orderBy("id1", "id2")


def _sem_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized pair pipeline behind :func:`dedup_semantic`."""
    import hashlib

    from ..operators.similarity import srp_band_buckets

    def _sign(p: int, d: int) -> int:
        h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    _MAX_DIM = 512
    signs = [
        [_sign(p, d) for d in range(_MAX_DIM)]
        for p in range(_SEM_BANDS * _SEM_PLANES)
    ]
    from ..operators.similarity import bucket_pair_cosine

    (emb,) = _t(spark, sf_dir, "embeddings")
    banded = srp_band_buckets(emb, signs, _SEM_BANDS)
    long_form = banded.select(
        "vec_id",
        "embedding",
        F.posexplode(F.col("buckets")).alias("band", "bucket"),
    )
    pairs = bucket_pair_cosine(long_form, _SEM_CAP, _SEM_T)
    return pairs.distinct()


def _sem_band_bucket_sql(e: str, band: int) -> str:
    bits = []
    for p in range(_SEM_PLANES):
        gp = band * _SEM_PLANES + p
        sign_hash = hashing.md5_int_sql(f"'{gp}_' || CAST(d - 1 AS VARCHAR)")
        proj = (
            f"list_aggregate(list_transform(range(1, len({e}) + 1), "
            f"d -> CAST(floor((CASE WHEN ({sign_hash}) % 2 = 0 "
            f"THEN CAST({e}[d] AS DOUBLE) ELSE -CAST({e}[d] AS DOUBLE) END) "
            f"* 1000000000.0) AS BIGINT)), 'sum')"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def _sem_ctes() -> str:
    """The semantic-dedup pipeline as a reusable CTE chain ending in
    ``sem_pairs`` — shared by the pair gate and the clustering oracle."""
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, {_sem_band_bucket_sql('embedding', b)} AS bucket"
        f" FROM embeddings"
        for b in range(_SEM_BANDS)
    )
    cos = vectors.cosine_sql("e1.embedding", "e2.embedding")
    return f"""long_form AS (
{band_rows}),
capped AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS cnt FROM long_form)
  WHERE cnt <= {_SEM_CAP}),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
sem_pairs AS (
  SELECT cand.id1, cand.id2, {cos} AS cos_sim
  FROM cand
  JOIN embeddings e1 ON e1.vec_id = cand.id1
  JOIN embeddings e2 ON e2.vec_id = cand.id2
  WHERE {cos} >= {_SEM_T})"""


DEDUP_SEMANTIC_SQL = f"""
WITH {_sem_ctes()}
SELECT id1, id2, cos_sim FROM sem_pairs
ORDER BY id1, id2
"""


def _sem_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels over the semantic pair table, shared by
    the cluster gates (canonical survivor listing + quality election) —
    materialized once per (session, fixture), exactly as a real pipeline
    persists cluster assignments before any election policy runs."""
    from ..operators.graph import connected_components

    return _session_table(
        spark, sf_dir, "sem_cc",
        lambda: connected_components(
            _sem_pairs(spark, sf_dir), src="id1", dst="id2"
        ),
    )


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup **cluster** formation + survivor election — the step after
    pairwise detection: connected components over the semantic near-dup
    edge set (operators/graph.connected_components, iterative distributed
    min-label propagation), survivor = min doc id per component.

    Pairwise output alone under-deduplicates (a~b and b~c chains must
    collapse to ONE survivor even when a!~c); transitive closure is the
    iterative algorithm no single join expresses.  The oracle replays the
    same closure as a recursive CTE — label-set enumeration to the same
    min-label fixpoint.
    """
    # the loop shuffle width is derived from the measured edge count
    # inside connected_components (narrow for fixture-scale graphs, full
    # cluster width at 100 TB)
    cc = _sem_cc_labels(spark, sf_dir)
    return (
        cc.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_member"),
        )
        .select(
            F.col("component").alias("survivor_id"), "n_members", "max_member"
        )
        .orderBy("survivor_id")
    )


DEDUP_SEMANTIC_CLUSTERS_SQL = f"""
WITH RECURSIVE {_sem_ctes()},
edges AS (
  SELECT id1 AS a, id2 AS b FROM sem_pairs
  UNION ALL
  SELECT id2, id1 FROM sem_pairs),
cc(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a),
labeled AS (
  SELECT node, MIN(label) AS component FROM cc GROUP BY node)
SELECT component AS survivor_id, COUNT(*) AS n_members, MAX(node) AS max_member
FROM labeled
GROUP BY component
ORDER BY survivor_id
"""


_ELECT_PRIO_SCALE = 10_000


def dedup_cluster_quality_elect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor election over the near-dup clusters — what
    production dedup actually keeps: NOT the arbitrary min-id member
    (``dedup_semantic_clusters``' canonical labeling) but the
    best-quality document per connected component (here the shared
    integer stopword-density priority, ties to the smallest doc id).

    Plan: the same CC closure as the clusters gate, one broadcast-sized
    join of the clustered nodes onto per-doc priorities, then the
    election as a HASH AGGREGATE — ``min(struct(-priority, node))`` is
    exactly argmax-with-min-tiebreak, map-side combinable, so no
    per-cluster sort window exists at any corpus size (the same argmax
    idiom as label propagation's community election)."""
    cc = _sem_cc_labels(spark, sf_dir)
    (docs,) = _t(spark, sf_dir, "documents")
    prio = docs.select(
        "doc_id",
        text.quality_priority(F.col("text"), _ELECT_PRIO_SCALE).alias("priority"),
    )
    return (
        cc.join(prio, cc.node == prio.doc_id)
        .groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("priority")).alias("np"),
                    F.col("node").alias("nid"),
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            F.col("m.nid").alias("survivor_id"),
            (-F.col("m.np")).alias("survivor_priority"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


DEDUP_CLUSTER_QUALITY_ELECT_SQL = f"""
WITH RECURSIVE {_sem_ctes()},
edges AS (
  SELECT id1 AS a, id2 AS b FROM sem_pairs
  UNION ALL
  SELECT id2, id1 FROM sem_pairs),
cc(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a),
labeled AS (
  SELECT node, MIN(label) AS component FROM cc GROUP BY node),
scored AS (
  SELECT doc_id,
         {text.quality_priority_sql('text', _ELECT_PRIO_SCALE)} AS priority
  FROM documents),
ranked AS (
  SELECT l.component, l.node, s.priority,
         ROW_NUMBER() OVER (PARTITION BY l.component
                            ORDER BY s.priority DESC, l.node) AS rn,
         COUNT(*) OVER (PARTITION BY l.component) AS n_members
  FROM labeled l JOIN scored s ON s.doc_id = l.node)
SELECT component AS cluster_id, node AS survivor_id,
       priority AS survivor_priority,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


_KNN_K = 3              # neighbor budget per node in the kNN graph


def embeddings_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor graph over the embedding corpus — the
    sparsified similarity graph semantic-clustering pipelines (SemDeDup,
    density-based coresets) build before community detection: each
    vector keeps its top-k cosine neighbors, and an edge survives only
    if BOTH endpoints keep each other (the mutual filter that strips
    hub/boilerplate false edges).

    Built on the same banded SRP-LSH candidate pipeline as
    ``dedup_semantic`` (shared per-session pair materialization): the
    pair table is already sub-quadratic; ranking is one window per node
    (rank by cosine desc, neighbor id tie-break — cosines are
    bit-identical cross-engine, proven by the pair gate's hash), and the
    mutual filter is a self-join of the two rank-<=k halves on the
    reversed key.  Scale: shuffle keyed on node id, state per node is k
    rows; no step touches more than the candidate pair volume.
    """
    pairs = _sem_pairs(spark, sf_dir)
    sym = pairs.select(
        F.col("id1").alias("a"), F.col("id2").alias("b"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("id2").alias("a"), F.col("id1").alias("b"), "cos_sim"
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("cos_sim").desc(), F.col("b"))
    ranked = (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KNN_K)
    )
    rev = ranked.select(
        F.col("a").alias("ra"), F.col("b").alias("rb"),
        F.col("rank").alias("rank_rev"),
    )
    return (
        ranked.join(rev, (ranked.a == rev.rb) & (ranked.b == rev.ra))
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("id1"), F.col("b").alias("id2"), "cos_sim",
            F.col("rank").alias("rank_fwd"), "rank_rev",
        )
        .orderBy("id1", "id2")
    )


EMBEDDINGS_KNN_GRAPH_SQL = f"""
WITH {_sem_ctes()},
sym AS (
  SELECT id1 AS a, id2 AS b, cos_sim FROM sem_pairs
  UNION ALL
  SELECT id2, id1, cos_sim FROM sem_pairs),
ranked AS (
  SELECT a, b, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY a
                                 ORDER BY cos_sim DESC, b) AS INTEGER)
           AS rank
  FROM sym
  QUALIFY rank <= {_KNN_K})
SELECT f.a AS id1, f.b AS id2, f.cos_sim,
       f.rank AS rank_fwd, r.rank AS rank_rev
FROM ranked f JOIN ranked r ON f.a = r.b AND f.b = r.a
WHERE f.a < f.b
ORDER BY id1, id2
"""


_SWEEP_TS = (80, 85, 90, 95)   # candidate thresholds, in hundredths


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sensitivity analysis over the semantic near-dup pairs —
    the tuning table a dedup owner reads before picking the cut: for
    each candidate cosine threshold, how many pairs fire and how many
    distinct documents they touch.  Sweeping thresholds does NOT re-run
    the pipeline: all four rows come from one pass over the SAME shared
    pair materialization (`_sem_pairs`, cached with `dedup_semantic` /
    the cluster and kNN gates), because the pair table already carries
    the exact cosine — the expensive part is threshold-independent.

    Scale: |thresholds| × pairs rows after a tiny cross join; both
    aggregates are threshold-keyed with constant output."""
    pairs = _sem_pairs(spark, sf_dir)
    from ..inline import inline_table

    ts = inline_table(spark, [(t,) for t in _SWEEP_TS], "threshold_pct int")
    hit = pairs.crossJoin(F.broadcast(ts)).filter(
        F.col("cos_sim") >= F.col("threshold_pct").cast("double") / 100.0
    )
    docs_touched = (
        hit.select(
            "threshold_pct",
            F.explode(F.array("id1", "id2")).alias("doc"),
        )
        .groupBy("threshold_pct")
        .agg(F.count_distinct("doc").alias("n_docs_affected"))
    )
    n_pairs = hit.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        ts.join(n_pairs, "threshold_pct", "left")
        .join(docs_touched, "threshold_pct", "left")
        .select(
            "threshold_pct",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
        )
        .orderBy("threshold_pct")
    )


DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH {_sem_ctes()},
ts(threshold_pct) AS (VALUES {", ".join(f"({t})" for t in _SWEEP_TS)}),
hit AS (
  SELECT ts.threshold_pct, p.id1, p.id2
  FROM sem_pairs p CROSS JOIN ts
  WHERE p.cos_sim >= CAST(ts.threshold_pct AS DOUBLE) / 100.0),
np AS (SELECT threshold_pct, COUNT(*) AS n_pairs FROM hit
       GROUP BY threshold_pct),
nd AS (
  SELECT threshold_pct, COUNT(DISTINCT doc) AS n_docs_affected
  FROM (SELECT threshold_pct, unnest([id1, id2]) AS doc FROM hit)
  GROUP BY threshold_pct)
SELECT CAST(ts.threshold_pct AS INTEGER) AS threshold_pct,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs_affected, 0) AS n_docs_affected
FROM ts LEFT JOIN np USING (threshold_pct) LEFT JOIN nd USING (threshold_pct)
ORDER BY threshold_pct
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (class centroids for
    curriculum / coreset selection).  Long-form plan: posexplode to
    (label, dim, val) and hash-aggregate — the shuffle carries one row per
    (label, dim) after partial combine, so a 10^10-vector corpus reduces
    to |labels| x dim rows however large n grows.  Fixed-point mean
    (functions.exact.davg) keeps the result bit-identical cross-engine."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    return (
        e.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg(F.col("val")).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


EMBEDDING_CENTROIDS_SQL = f"""
SELECT label, s.dim AS dim, COUNT(*) AS n_vecs,
       {davg_sql('s.val')} AS centroid
FROM (
  SELECT label,
         unnest(list_transform(range(1, len(embedding) + 1),
                d -> {{'dim': d - 1, 'val': CAST(embedding[d] AS DOUBLE)}})) AS s
  FROM embeddings)
GROUP BY label, s.dim
ORDER BY label, dim
"""


# ===========================================================================
# Similarity search (ANN)
# ===========================================================================

_TOPK = 5
_NQUERY = 8  # vec_id < 8 are the query vectors


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors for a small query set.

    The query side is tiny → broadcast; the corpus side streams through a
    narrow projection, so at 100 TB this is a single scan + a top-k
    (TakeOrdered) per query — no shuffle of the corpus."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NQUERY).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    pairs = probe_join(q, c, "cos_sim", vectors.cosine(F.col("qe"), F.col("ce")))
    return _topk(pairs, "cos_sim")


def _topk(pairs: DataFrame, score: str, *cols: str) -> DataFrame:
    """The top-k output of the ANN gates, ``query_id, cand_id, *cols,
    score, rank`` in rank order: ``cos_sim`` ranks descending, the PQ
    gates' ``adc_dist`` ascending."""
    return (
        query_topk(pairs, score, score == "cos_sim", _TOPK)
        .select("query_id", "cand_id", *cols, score, "rank")
        .orderBy("query_id", "rank")
    )


_COS_TOPK_SQL = query_topk_sql("cos_sim DESC", _TOPK, "query_id, cand_id, cos_sim")
_ADC_TOPK_SQL = query_topk_sql("adc_dist", _TOPK, "query_id, cand_id, adc_dist")


ANN_BRUTEFORCE_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_NQUERY}),
{_COS_TOPK_SQL}
"""


def embeddings_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (SQ8) with an in-plan recall audit — the
    standard cheap ANN compression (4× smaller than float32 per vector,
    the default "fast" tier next to PQ): per-dimension [min, max] over
    the corpus, each component coded to floor((x-mn)/(mx-mn)*255+0.5),
    candidates scored ASYMMETRICALLY (raw query vs reconstructed
    candidate, the higher-accuracy form).  Output: per query, how many
    of the exact cosine top-k survive in the SQ8 top-k.

    Plan: the per-dimension stats are one narrow posexplode aggregate
    whose result (≤512 doubles) is collected and inlined as literals —
    the same bounded driver traffic as the IVF centroids / PQ codebook;
    reconstruction is a ``transform`` inside the corpus scan (no
    shuffle, no extra pass).  Like ann_bruteforce_topk this audit scores
    query×corpus — the labeled exact-baseline shape; the production
    path pairs SQ8 with IVF cell pruning so only probed cells are
    scanned.  Both ranking orders are floor-quantized fixed-point, so
    the oracle hash-matches bit-for-bit."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.min(F.col("val").cast("double")).alias("mn"),
            F.max(F.col("val").cast("double")).alias("mx"),
        )
        .orderBy("dim")
        .collect()
    )
    mn_arr = F.array(*[F.lit(float(r.mn)) for r in stats])
    mx_arr = F.array(*[F.lit(float(r.mx)) for r in stats])

    def sq8_reconstruct(col):
        def f(x, i):
            lo = F.element_at(mn_arr, i + 1)
            hi = F.element_at(mx_arr, i + 1)
            span = hi - lo
            code = F.least(
                F.greatest(
                    F.floor((x.cast("double") - lo) / span * F.lit(255.0) + F.lit(0.5)),
                    F.lit(0.0),
                ),
                F.lit(255.0),
            )
            return F.when(span == F.lit(0.0), lo).otherwise(
                lo + code / F.lit(255.0) * span
            )

        return F.transform(col, f)

    # norms are per-VECTOR, so compute them before the query×corpus join
    # (3 norm lambdas per pair would otherwise dominate the scan)
    q = emb.filter(F.col("vec_id") < _NQUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        vectors.norm(F.col("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("ce"),
        sq8_reconstruct(F.col("embedding")).alias("re"),
    ).select(
        "cand_id", "ce", "re",
        vectors.norm(F.col("ce")).alias("cn"),
        vectors.norm(F.col("re")).alias("rn"),
    )
    exact_cos = vectors.exact_dot(F.col("qe"), F.col("ce")) / (
        F.col("qn") * F.col("cn")
    )
    sq_cos = vectors.exact_dot(F.col("qe"), F.col("re")) / (
        F.col("qn") * F.col("rn")
    )
    hit = (F.col("exact_rank") <= _TOPK) & (F.col("sq_rank") <= _TOPK)
    return (
        probe_join(q, c, "exact_cos", exact_cos)
        .withColumn("sq_cos", sq_cos)
        .withColumn("exact_rank", query_rank("exact_cos", True))
        .withColumn("sq_rank", query_rank("sq_cos", True))
        .groupBy("query_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("int").alias("n_hits"),
            (
                F.sum(F.when(hit, 1).otherwise(0)).cast("double")
                / F.lit(float(_TOPK))
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


EMBEDDINGS_SQ8_RECALL_SQL = f"""
WITH elem AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings),
stats AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM elem GROUP BY dim),
rec AS (
  SELECT e.vec_id, e.dim, e.val,
         CASE WHEN s.mx - s.mn = 0.0 THEN s.mn
              ELSE s.mn + LEAST(GREATEST(
                     floor((e.val - s.mn) / (s.mx - s.mn) * 255.0 + 0.5),
                     0.0), 255.0) / 255.0 * (s.mx - s.mn)
         END AS rv
  FROM elem e JOIN stats s USING (dim)),
dots AS (
  SELECT qr.vec_id AS query_id, cr.vec_id AS cand_id,
         CAST(SUM(CAST(floor(qr.val * cr.val * {vectors._Q:.1f}) AS BIGINT)) AS DOUBLE)
           / {vectors._Q:.1f} AS dot_exact,
         CAST(SUM(CAST(floor(qr.val * cr.rv * {vectors._Q:.1f}) AS BIGINT)) AS DOUBLE)
           / {vectors._Q:.1f} AS dot_sq
  FROM rec qr
  JOIN rec cr ON cr.dim = qr.dim AND cr.vec_id <> qr.vec_id
  WHERE qr.vec_id < {_NQUERY}
  GROUP BY 1, 2),
norms AS (
  SELECT vec_id,
         sqrt(CAST(SUM(CAST(floor(val * val * {vectors._Q:.1f}) AS BIGINT)) AS DOUBLE)
              / {vectors._Q:.1f}) AS n_raw,
         sqrt(CAST(SUM(CAST(floor(rv * rv * {vectors._Q:.1f}) AS BIGINT)) AS DOUBLE)
              / {vectors._Q:.1f}) AS n_rec
  FROM rec GROUP BY vec_id),
ranked AS (
  SELECT d.query_id, d.cand_id,
         ROW_NUMBER() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot_exact / (nq.n_raw * nc.n_raw) DESC,
                                     d.cand_id) AS exact_rank,
         ROW_NUMBER() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot_sq / (nq.n_raw * nc.n_rec) DESC,
                                     d.cand_id) AS sq_rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id)
SELECT query_id,
       CAST(SUM(CASE WHEN exact_rank <= {_TOPK} AND sq_rank <= {_TOPK}
                     THEN 1 ELSE 0 END) AS INTEGER) AS n_hits,
       CAST(SUM(CASE WHEN exact_rank <= {_TOPK} AND sq_rank <= {_TOPK}
                     THEN 1 ELSE 0 END) AS DOUBLE) / {float(_TOPK)!r} AS recall
FROM ranked
GROUP BY query_id
ORDER BY query_id
"""


_LSH_PLANES = 6  # sign-random-projection bits → 64 buckets
# Hyperplanes are deterministic pseudo-random ±1 vectors: component d of
# plane p has sign +1 iff md5(f"{p}_{d}") is even — the identical pattern is
# reproduced in the oracle SQL.


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH with margin-guided multi-probe: 6
    deterministic ±1 hyperplanes bucket every vector into one of 64
    cells; each query scores its own cell, the 6 cells one sign-flip
    away, and the 3 two-flip cells over its three CLOSEST hyperplanes
    (smallest |quantized projection| — the planes a true neighbor most
    likely landed across).  This is the scale path: the corpus self-join
    becomes a probe-bucket equi-join — 10/64 of the corpus per query
    instead of O(n²) — and the probe ladder is measured in-plan by
    ann_recall_audit: single-probe 10%, +Hamming-1 20%, +margin-guided
    pairs 30% recall@5 at sf0.1.

    Recall remains partial by construction (the oracle mirrors the same
    probes, so results still hash-match exactly).  The ceiling is a DATA
    property, not a tuning gap: the fixture embeddings are near-uniform,
    so measured recall tracks ~2-3x the probed candidate fraction at
    every geometry (6/7/8 planes -> 30%/23%/12% recall at 15.6%/8.6%/
    4.7% of the corpus probed) — on unclustered vectors no LSH
    configuration reaches high recall at bounded cost, which is exactly
    what the audit exists to surface.  Contrast dedup_lsh_recall_audit:
    98% recall at 2.3% candidates, because near-dup pairs are strongly
    clustered.  The production paths for weakly-clustered corpora are
    IVF (partition-prunable cells) and PQ (compressed exhaustive ADC
    scan) — both live gates with their own audits.
    """
    return _srp_multiprobe_topk(spark, sf_dir)


def _srp_multiprobe_pairs(
    spark: SparkSession, sf_dir: str,
    cand_filter=None, keep_label: bool = False,
) -> DataFrame:
    """THE SRP multi-probe candidate plan (pre-ranking), shared by
    ann_lsh_topk, ann_filtered_topk, and ann_recall_audit so the probe
    ladder and hyperplane recipe cannot drift between them (their
    oracles already share _PROBE_LIST_SQL / _PAIR_PROBES_SQL).
    ``cand_filter`` is applied to the candidate side UPSTREAM of the
    bucketing kernel — Catalyst pushes it into the parquet scan, so the
    bucket index only ever holds allowed vectors; ``keep_label`` rides
    the label column through the kernel into the output (the filtered
    gate's proof column).  No (query, cand) pair appears twice: all 10
    probe masks are distinct and each candidate has one bucket."""
    import hashlib

    from ..operators.similarity import srp_bucket

    (emb,) = _t(spark, sf_dir, "embeddings")

    def _sign(p: int, d: int) -> int:
        # Python replica of hashing.md5_int over f"{p}_{d}" — the hyperplane
        # pattern is row-independent, so precompute it at plan time instead
        # of re-hashing per row x plane x dim (was ~1.5s/query at sf0.1)
        h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    _MAX_DIM = 512
    signs = [
        [_sign(p, d) for d in range(_MAX_DIM)] for p in range(_LSH_PLANES)
    ]
    # probe set: own bucket + all one-bit flips + the three margin-guided
    # two-bit flips (pairs of the query's three closest hyperplanes).
    # All 10 masks are distinct and each candidate has one bucket, so no
    # (query, cand) pair can appear twice.
    probes = F.concat(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(_LSH_PLANES)
            ],
        ),
        F.transform(
            F.col("pair_masks"),
            lambda m: F.col("bucket").bitwiseXOR(m),
        ),
    )
    # bucket the query side from the pre-filtered rows — a filter cannot
    # push through mapInPandas, so q-from-the-candidate-frame would run
    # the bucketing kernel over the whole corpus once per join side
    q = srp_bucket(
        emb.filter(F.col("vec_id") < _NQUERY), signs,
        pair_probe_col="pair_masks",
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.explode(probes).alias("qbucket"),
    )
    cand_src = emb if cand_filter is None else emb.filter(cand_filter)
    # bucketing runs in the vectorized numpy kernel (same quantized
    # arithmetic as the previous JVM expression and the oracle SQL)
    cols = [
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("bucket").alias("cbucket"),
    ]
    label = ["cand_label"] if keep_label else []
    if keep_label:
        cols.append(F.col("label").cast("int").alias("cand_label"))
    c = srp_bucket(
        cand_src, signs, keep_cols=("label",) if keep_label else ()
    ).select(*cols)
    return probe_join(
        q, c, "cos_sim", vectors.cosine(F.col("qe"), F.col("ce")), on="bucket"
    ).select("query_id", "cand_id", *label, "cos_sim")


def _srp_multiprobe_topk(
    spark: SparkSession, sf_dir: str,
    cand_filter=None, keep_label: bool = False,
) -> DataFrame:
    """Top-k ranking over ``_srp_multiprobe_pairs`` (exact cosine within
    the probed buckets, smallest-cand tie-break)."""
    pairs = _srp_multiprobe_pairs(
        spark, sf_dir, cand_filter=cand_filter, keep_label=keep_label
    )
    return _topk(pairs, "cos_sim", *(["cand_label"] if keep_label else []))


_ANN_FILTER_LABELS = (1, 3, 5, 7)  # the metadata predicate of the filtered gate


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — production ANN is always
    predicate-constrained (language, source, licence, date), and the
    correct shape applies the predicate to the candidate set BEFORE the
    probe join, not to the top-k afterwards: post-filtering silently
    under-returns (a query whose 5 nearest global neighbors all fail the
    predicate returns nothing instead of its 5 nearest ALLOWED
    neighbors).  Here the ``label IN {labels}`` predicate sits on the
    candidate side upstream of the SRP bucketing kernel, so Catalyst
    pushes it into the parquet scan (plan-asserted: In(label, ...) in
    PushedFilters) and the bucket index is built over exactly the
    allowed corpus — every ranked candidate satisfies the predicate and
    top-k is dense.  Queries keep the full multi-probe ladder of
    ann_lsh_topk (own bucket + 6 one-flip + 3 margin-guided two-flip).

    At 100 TB the predicate prunes the index scan itself (partition
    columns / row-group stats), so a 10%-selective filter reads ~10% of
    the index — the same plan, a smaller scan."""
    return _srp_multiprobe_topk(
        spark, sf_dir,
        cand_filter=F.col("label").isin(*_ANN_FILTER_LABELS),
        keep_label=True,
    )


ann_filtered_topk.__doc__ = (ann_filtered_topk.__doc__ or "").format(
    labels=_ANN_FILTER_LABELS
)


def _proj_sql(e: str, p: int) -> str:
    sign_hash = hashing.md5_int_sql(f"'{p}_' || CAST(d - 1 AS VARCHAR)")
    return (
        f"list_aggregate(list_transform(range(1, len({e}) + 1), "
        f"d -> CAST(floor((CASE WHEN ({sign_hash}) % 2 = 0 "
        f"THEN CAST({e}[d] AS DOUBLE) ELSE -CAST({e}[d] AS DOUBLE) END) "
        f"* 1000000000.0) AS BIGINT)), 'sum')"
    )


def _bucket_sql(e: str) -> str:
    bits = [
        f"(CASE WHEN {_proj_sql(e, p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_PLANES)
    ]
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


_PROBE_LIST_SQL = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << p})" for p in range(_LSH_PLANES)
) + "]"
# margin-guided Hamming-2 probes: sort |proj|*8 + p (the exact integer key
# the Spark kernel sorts), pairwise-OR the 1-bit masks of the 3 smallest
_MARGIN_KEYS_SQL = "list_sort([" + ", ".join(
    f"abs({_proj_sql('embedding', p)}) * 8 + {p}" for p in range(_LSH_PLANES)
) + "])"
_PAIR_PROBES_SQL = (
    "[xor(bucket, (1 << (k[1] % 8)) + (1 << (k[2] % 8))), "
    "xor(bucket, (1 << (k[1] % 8)) + (1 << (k[3] % 8))), "
    "xor(bucket, (1 << (k[2] % 8)) + (1 << (k[3] % 8)))]"
)

_SRP_SCORED_SQL = f"""
WITH e AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings),
q AS (
  SELECT vec_id, embedding,
         unnest(list_concat({_PROBE_LIST_SQL}, {_PAIR_PROBES_SQL})) AS qb
  FROM (
    SELECT vec_id, embedding, bucket, {_MARGIN_KEYS_SQL} AS k
    FROM e WHERE vec_id < {_NQUERY}))
SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
FROM q JOIN e c ON c.bucket = q.qb AND q.vec_id <> c.vec_id
"""


ANN_LSH_SQL = f"""
WITH scored AS ({_SRP_SCORED_SQL}),
{_COS_TOPK_SQL}
"""


ANN_FILTERED_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding, label, {_bucket_sql('embedding')} AS bucket
  FROM embeddings WHERE label IN {_ANN_FILTER_LABELS}),
q AS (
  SELECT vec_id, embedding,
         unnest(list_concat({_PROBE_LIST_SQL}, {_PAIR_PROBES_SQL})) AS qb
  FROM (
    SELECT vec_id, embedding, bucket, {_MARGIN_KEYS_SQL} AS k
    FROM (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
          FROM embeddings)
    WHERE vec_id < {_NQUERY})),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS cand_label,
         {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
  FROM q JOIN e c ON c.bucket = q.qb AND q.vec_id <> c.vec_id),
{query_topk_sql('cos_sim DESC', _TOPK,
                'query_id, cand_id, CAST(cand_label AS INTEGER) AS cand_label, cos_sim')}
"""


_IVF_K = 128        # fixed centroid count — constant regardless of corpus size
_IVF_ITERS = 1      # Lloyd refinement iterations at index-build time (the
                    # second iteration moves measured recall by <1pt on the
                    # fixture while doubling build cost and oracle CTEs)
_IVF_NPROBE = 24    # cells each query probes (cell-union) — the recall knob
_EMB_D = 64         # fixture embedding dimensionality (oracle CTEs unroll it)

def _ivf_trained_centroids(spark: SparkSession, sf_dir: str) -> list:
    """THE deployed IVF index: ``_IVF_K`` md5-sampled seed vectors refined
    by ``_IVF_ITERS`` exact Lloyd iterations (``operators/clustering.
    kmeans_refine``, ``exact=True``) — assignment is the floor-quantized
    L2 argmin kernel, means are fixed-point order-independent, so the
    DuckDB oracle replays the identical centroids from unrolled CTEs
    (``_ivf_cent_ctes``) and every downstream gate hash-matches.  Trained
    cells raised audited recall@5 from ~30% (SRP geometry ceiling on the
    near-uniform fixture) to ~73-80% at <25% candidate fraction — see
    ``ann_recall_audit``, which scores both paths side by side.  Driver
    traffic per iteration is k x d mean rows + the k-row centroid table —
    corpus-size-independent.  Trained once per (session, fixture) and
    shared by ann_ivf_topk / ann_ivf_pq_topk / ann_recall_audit."""
    from ..operators.clustering import kmeans_refine, md5_seeds

    def train() -> list:
        (emb,) = _t(spark, sf_dir, "embeddings")
        seeds = md5_seeds(emb, _IVF_K)
        return kmeans_refine(emb, seeds, iters=_IVF_ITERS, exact=True)[0]

    return memo(spark, ("ivf_centroids", sf_dir), train)


def _ivf_query_probes(emb: DataFrame, centroids: list) -> DataFrame:
    """Per query (vec_id < ``_NQUERY``): the ``_IVF_NPROBE`` nearest cells
    by the same quantized L2 + smallest-cid tie-break the assignment
    kernel uses — so the rank-1 probe is provably the query's own cell
    and the probe union strictly widens nprobe=1.  8 queries x k literal
    centroids is a broadcast join bounded at any corpus size (the one
    crossJoin is against the fixed-k inline centroid table)."""
    from ..inline import inline_table

    cent_df = inline_table(
        emb.sparkSession, [(cid, vec) for cid, vec in centroids],
        "cid long, ce array<double>",
    )
    wq = Window.partitionBy("query_id").orderBy("qd", "cid")
    return (
        emb.filter(F.col("vec_id") < _NQUERY)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("qd", _l2q(F.col("qe"), F.col("ce")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("query_id", "qe", F.col("cid").alias("qcell"))
    )


def _ivf_assigned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-assigned corpus, materialized once per (session, fixture) —
    the in-session form of the cell-partitioned index table a production
    store persists on disk; ann_ivf_topk and the recall audit read it
    instead of re-running the assignment kernel per query build."""
    from ..operators.similarity import ivf_assign

    def build() -> DataFrame:
        (emb,) = _t(spark, sf_dir, "embeddings")
        return ivf_assign(emb, _ivf_trained_centroids(spark, sf_dir))

    return _session_table(spark, sf_dir, "ivf_assigned", build)


def _ivf_qprobe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (query, probed-cell) frame, materialized once per (session,
    fixture): 8 x nprobe rows, but rebuilding it re-parses the k x d
    literal centroid table and re-runs the probe window every query
    build."""
    def build() -> DataFrame:
        (emb,) = _t(spark, sf_dir, "embeddings")
        return _ivf_query_probes(emb, _ivf_trained_centroids(spark, sf_dir))

    return _session_table(spark, sf_dir, "ivf_qprobes", build)


def _ivf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF candidate frame (query x probed-cell members) with exact
    cosine, BEFORE top-k ranking — shared by ``ann_ivf_topk`` and
    ``ann_recall_audit`` so the audit measures exactly the plan the gate
    runs.  No pair appears twice: probes are distinct cells and each
    candidate lives in exactly one cell."""
    c = _ivf_assigned_table(spark, sf_dir).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("cell").alias("ccell"),
    )
    return _ivf_cos_pairs(_ivf_qprobe_table(spark, sf_dir), c).select(
        "query_id", "cand_id", "cos_sim"
    )


def _ivf_cos_pairs(q: DataFrame, c: DataFrame) -> DataFrame:
    """Probed-cell pairs with exact cosine: query probes ``q``
    (``query_id, qe, qcell``) against cell members ``c`` (``cand_id, ce,
    ccell``) — the IVF-flat candidate step of the in-session, persisted
    and ingest gates."""
    return probe_join(
        q, c, "cos_sim", vectors.cosine(F.col("qe"), F.col("ce")), on="cell"
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over a TRAINED index with multi-cell probing: the
    corpus is inverted-file-partitioned by nearest trained centroid
    (fixed {k} md5-sampled seeds + {it} exact Lloyd iterations, the
    production index build); each query unions the {np} nearest cells
    (nprobe) and ranks exact cosine within them.

    The index build is corpus-size-independent driver traffic (k x d
    rows per iteration), assignment is one Arrow kernel pass, and the
    probe join touches ~nprobe/k of the corpus per query — measured
    in-plan by ``ann_recall_audit`` at ~73-80% recall@5 for ~20-24%
    candidate fraction (vs the SRP path's ~30% at ~16%: on weakly
    clustered vectors trained cells beat data-blind hyperplanes).  At
    100 TB the cell id becomes a parquet partition column and probes are
    partition-pruned scans; recall scales with nprobe — parameter
    change, same plan.
    """
    return _topk(_ivf_pairs(spark, sf_dir), "cos_sim")


ann_ivf_topk.__doc__ = (ann_ivf_topk.__doc__ or "").format(
    k=_IVF_K, it=_IVF_ITERS, np=_IVF_NPROBE
)


def _l2q_sql(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * 1000000000.0) AS BIGINT)), "
        f"'sum')"
    )


def _ivf_cent_ctes(prefix: str = "", corpus_where: str = "") -> str:
    """Oracle replay of ``_ivf_trained_centroids`` as unrolled CTEs ending
    in ``{prefix}cent(cid, ce)``: md5-sampled seeds, then ``_IVF_ITERS``
    exact Lloyd iterations — quantized-L2 argmin assignment (smallest-cid
    tie-break) and fixed-point per-dimension means, with empty cells
    keeping the PREVIOUS iteration's centroid (the same fallback
    ``operators/clustering._update_centroids`` applies).  ``prefix``
    namespaces the CTEs so the chain composes with the PQ CTEs;
    ``corpus_where`` restricts the training slice (the streaming-ingest
    gate trains on the pre-stream corpus only)."""
    p = prefix
    d = _EMB_D

    def assign(name: str, cent: str) -> str:
        return f"""{p}{name} AS MATERIALIZED (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_l2q_sql('e.embedding', 'c.ce')}, c.cid) AS rn
    FROM {p}ebase e CROSS JOIN {p}{cent} c)
  WHERE rn = 1)"""

    def update(i: int, aname: str, prev: str) -> str:
        return f"""{p}m{i} AS MATERIALIZED (
  SELECT cell, i AS dim, {davg_sql('CAST(embedding[i + 1] AS DOUBLE)')} AS m
  FROM {p}{aname}, range(0, {d}) t(i)
  GROUP BY cell, i),
{p}c{i} AS MATERIALIZED (
  SELECT v.cid,
         list(COALESCE(m.m, CAST(v.ce[t.i + 1] AS DOUBLE)) ORDER BY t.i) AS ce
  FROM {p}{prev} v CROSS JOIN range(0, {d}) t(i)
  LEFT JOIN {p}m{i} m ON m.cell = v.cid AND m.dim = t.i
  GROUP BY v.cid)"""

    where = f" WHERE {corpus_where}" if corpus_where else ""
    parts = [f"""{p}ebase AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings{where}),
{p}seeds AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS ce FROM {p}ebase
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K})"""]
    prev = "seeds"
    for i in range(1, _IVF_ITERS + 1):
        parts.append(assign(f"a{i - 1}", prev))
        parts.append(update(i, f"a{i - 1}", prev))
        prev = f"c{i}"
    parts.append(
        f"{p}cent AS MATERIALIZED (SELECT cid, ce FROM {p}{prev})"
    )
    return ",\n".join(parts)


def _ivf_probe_ctes(prefix: str = "", assign_from: str | None = None) -> str:
    """Corpus assignment + query nprobe-cell probes against the trained
    ``{prefix}cent`` table — the oracle mirror of ``ivf_assign`` +
    ``_ivf_query_probes``, shared by the IVF-flat, IVF-PQ, and
    streaming-ingest oracles.  ``assign_from`` overrides the assignment
    slice (the ingest gate trains on the pre-stream corpus but assigns
    corpus + streamed rows).  The query probes always scan the whole
    ``embeddings`` table — they deliberately do NOT follow
    ``_ivf_cent_ctes``'s ``corpus_where``: restricting the TRAINING
    slice must not restrict which vectors may act as queries."""
    p = prefix
    src = assign_from or f"{p}ebase"
    return f"""{p}assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_l2q_sql('e.embedding', 'c.ce')}, c.cid) AS rn
    FROM {src} e CROSS JOIN {p}cent c)
  WHERE rn = 1),
{p}qprobe AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT q.vec_id, q.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_l2q_sql('q.embedding', 'c.ce')}, c.cid) AS rn
    FROM embeddings q CROSS JOIN {p}cent c
    WHERE q.vec_id < {_NQUERY})
  WHERE rn <= {_IVF_NPROBE})"""


_IVF_SCORED_SQL = f"""
WITH {_ivf_cent_ctes()},
{_ivf_probe_ctes()}
SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
FROM qprobe q JOIN assigned c ON c.cell = q.cid AND q.vec_id <> c.vec_id
"""


ANN_IVF_SQL = f"""
WITH scored AS ({_IVF_SCORED_SQL}),
{_COS_TOPK_SQL}
"""


def ann_persisted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat serve from a PERSISTED index — the production separation
    the session-cached family lacks: an index build job writes the trained
    centroids and the cell-partitioned corpus to parquet once
    (``operators/ann_index.py``), and serve sessions — including FRESH
    sessions that never trained anything — answer queries from the
    artifacts alone.  The build step here is a no-op whenever the manifest
    fingerprint matches the live corpus (``tests/test_ann_index.py``
    proves a fresh session serves with training forcibly disabled).

    The serve plan reads ONLY index artifacts + probed cells: the k-row
    centroid table is collected (k x d doubles, corpus-size-independent),
    query probes rank cells exactly as the in-session path does, and the
    corpus scan is ``cells/`` filtered with a static IN on the PARTITION
    column — the probed inverted lists are the only directories listed,
    which at 100 TB is the entire point: nprobe/k of the corpus is read,
    the rest is pruned before any IO.  Ranking matches ``ann_ivf_topk``
    bit-for-bit, so the oracle is the same trained-IVF CTE replay — the
    strongest statement available that persistence changed the LIFETIME
    of the index, not its answers."""
    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio

    (emb,) = _t(spark, sf_dir, "embeddings")
    path = ai.index_path(sf_dir)
    fp = _corpus_fingerprint(spark, sf_dir, "embeddings")
    params = {"ivf_k": _IVF_K, "ivf_iters": _IVF_ITERS}
    if not aio.is_current(spark, path, ai.FORMAT_VERSION, fp, params):
        ai.write_index(
            emb, _ivf_trained_centroids(spark, sf_dir), path, fp, params
        )
    return _serve_persisted_ivf_topk(spark, sf_dir, path)


def _corpus_fingerprint(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Session-memoized fingerprint of the fixture's ``embeddings``
    (``ann_index.corpus_fingerprint``) or ``documents``
    (``lsh_index.corpus_text_fingerprint``) table — the fixture cannot
    change under a live session, so plan sweeps (test_plans, plan_audit)
    pay the aggregate collect once, not once per gate build.  The
    MANIFEST check stays per-call (a cheap file read), so on-disk state
    changes within a session are still honored."""
    from ..operators import ann_index as ai
    from ..operators import lsh_index as li

    fingerprint = {"embeddings": ai.corpus_fingerprint,
                   "documents": li.corpus_text_fingerprint}[table]
    return memo(spark, ("corpus_fp", sf_dir, table),
                lambda: fingerprint(_t(spark, sf_dir, table)[0]))


def _persisted_probes(
    spark: SparkSession, sf_dir: str, path: str
) -> tuple[DataFrame, list[int]]:
    """The query probes against a persisted IVF index's centroids, and
    the sorted cells they probe.  ONE bounded collect (<= nq x nprobe
    rows): the probe rows become an inline literal table, so the probe
    plan executes exactly once — not again as the join's broadcast side —
    and the probed cells become the STATIC partition filter on the
    cells scan."""
    from ..inline import inline_table
    from ..operators import ann_index as ai

    centroids = ai.load_centroids(spark, path)
    (emb,) = _t(spark, sf_dir, "embeddings")
    rows = _ivf_query_probes(emb, centroids).collect()
    probes = inline_table(
        spark,
        [(int(r.query_id), [float(x) for x in r.qe], int(r.qcell))
         for r in rows],
        "query_id long, qe array<float>, qcell long",
    )
    return probes, sorted({int(r.qcell) for r in rows})


def _serve_persisted_ivf_topk(
    spark: SparkSession, sf_dir: str, path: str, cells: str = "cells"
) -> DataFrame:
    """The serve-session plan: artifacts in, top-k out, zero training.
    ``cells`` names the cell layout served; the ingest index serves its
    live ``cells`` and its compacted ``cells_compact``."""
    from ..operators import artifact_io as aio

    probes, probed = _persisted_probes(spark, sf_dir, path)
    c = aio.load(spark, path, cells, "cell", probed).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("ce"),
        F.col("cell").cast("long").alias("ccell"),
    )
    return _topk(_ivf_cos_pairs(probes, c), "cos_sim")


_PQ_M = 4       # subspaces (64-dim embedding -> 4 x 16-dim subvectors)
_PQ_SUB = 16    # dims per subspace
_PQ_K = 16      # codebook entries per subspace


def _l2q(a, b):
    """Quantized L2 distance as a JVM expression — floor((x-y)^2 * 1e9)
    summed as int64; bit-identical to the oracle's ``_l2q_sql``."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(1000000000.0)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    """THE deterministic PQ codebook — seeds are the ``_PQ_K`` corpus
    vectors with smallest md5(vec_id), sliced per subspace.  The ANN
    gate and the distortion audit must score the SAME codebook or the
    audit silently measures a different index than the one searched;
    this helper is the single definition (bounded driver collect:
    ``_PQ_K`` rows)."""
    from ..operators.clustering import md5_seeds

    (emb,) = _t(spark, sf_dir, "embeddings")
    seeds = [vec for _, vec in md5_seeds(emb, _PQ_K)]
    return [
        [seeds[j][s * _PQ_SUB:(s + 1) * _PQ_SUB] for j in range(_PQ_K)]
        for s in range(_PQ_M)
    ]


def _pq_recon_ctes() -> str:
    """The cent→codes→recon CTE chain (oracle-side mirror of
    ``_pq_codebook`` + ``pq_encode``), shared by the PQ ANN oracle and
    the distortion-audit oracle so both score the same reconstruction."""
    return f"""cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
         embedding AS ce
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_K}),
codes AS (
  SELECT vec_id, s, j FROM (
    SELECT e.vec_id, sp.s, c.j,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id, sp.s
             ORDER BY {_l2q_sql(f'list_slice(e.embedding, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB})',
                                f'list_slice(c.ce, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB})')}, c.j) AS rn
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) sp
    CROSS JOIN cent c)
  WHERE rn = 1),
recon AS (
  SELECT codes.vec_id,
         flatten(list(list_slice(c.ce, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) ORDER BY s)) AS recon
  FROM codes JOIN cent c USING (j)
  GROUP BY codes.vec_id)"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: the compressed-scan path of the ANN family
    (brute force = exact, LSH/IVF = pruned candidate sets, PQ = scan
    *everything* but at ~1/64 the bytes).

    The 64-dim embedding splits into {m} x {sub}-dim subvectors; each
    subvector is coded as the argmin (quantized L2, smallest-code
    tie-break) over a {k}-entry sub-codebook.  Codebooks are fixed-size
    deterministic seeds — the {k} corpus vectors with smallest
    md5(vec_id), sliced per subspace — so the driver collect is bounded at
    {k} rows regardless of corpus size, and the codebook rides into the
    plan as literals (no join, no shuffle to encode: encoding is a narrow
    projection).  Queries score against the *reconstruction*
    (concatenated codebook entries), which is exactly asymmetric distance
    computation: sum of per-subspace lookup distances.

    At 100 TB: codes are {m} bytes/vector (vs 256 B raw) — the whole
    corpus's codes fit in cluster memory; the scan is a single narrow
    pass, no shuffle, and the same plan runs IVF-partitioned by prefixing
    a cell filter.  The reference has no ANN surface; this extends it per
    the north star (BASELINE.json).
    """
    (emb,) = _t(spark, sf_dir, "embeddings")
    # codebook[s][j] = subvector s of seed j, as plan-time double literals
    codebook = _pq_codebook(spark, sf_dir)

    # encode in the vectorized numpy kernel (identical fixed-point argmin
    # as the oracle SQL; the equivalent JVM expression tree — 64 nested
    # zip_with aggregates — was ~4s/query at sf0.1, the kernel ~0.3s)
    from ..operators.similarity import pq_encode

    coded = pq_encode(emb, codebook)

    # the query side carries raw embeddings only (ADC reconstructs the
    # candidate side), so it reads emb directly — routing it through
    # `coded` would run the encode kernel over the whole corpus twice
    q = emb.filter(F.col("vec_id") < _NQUERY).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = coded.select(F.col("vec_id").alias("cand_id"), F.col("recon").alias("cr"))
    return _topk(_adc_pairs(q, c), "adc_dist")


ann_pq_topk.__doc__ = (ann_pq_topk.__doc__ or "").format(
    m=_PQ_M, sub=_PQ_SUB, k=_PQ_K
)


def _adc_pairs(q: DataFrame, c: DataFrame, on: str | None = None) -> DataFrame:
    """Pairs scored by asymmetric distance: raw queries ``qe`` against
    candidate PQ reconstructions ``cr``, on probe key ``on``."""
    return probe_join(q, c, "adc_dist", _l2q(F.col("qe"), F.col("cr")), on=on)


ANN_PQ_SQL = f"""
WITH {_pq_recon_ctes()},
scored AS (
  SELECT q.vec_id AS query_id, r.vec_id AS cand_id,
         CAST({_l2q_sql('q.embedding', 'r.recon')} AS BIGINT) AS adc_dist
  FROM embeddings q JOIN recon r ON q.vec_id <> r.vec_id
  WHERE q.vec_id < {_NQUERY}),
{_ADC_TOPK_SQL}
"""


def ann_pq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN served from a PERSISTED index — closing the one index
    family whose lifetime was still session-bound: a build job writes the
    m x k sub-codebooks and the m-byte-per-vector codes table to parquet
    once (``operators/pq_index.py``, same manifest-LAST/fingerprint
    discipline as the IVF artifacts), and serve sessions — including
    FRESH sessions that never derived a codebook — answer queries from
    the artifacts alone (``tests/test_pq_index.py`` proves this with
    codebook derivation forcibly disabled).

    The serve plan reads ONLY artifacts: the codebook collect is m*k
    rows (corpus-size-independent), and the candidate side is the CODES
    scan decoded in-plan — ``recon = concat_s element_at(codebook_lit[s],
    codes[s]+1)``, a JVM-side narrow projection with no join, no shuffle,
    no Python.  Since the reconstruction is exactly the concatenated
    codebook rows, ranking is bit-identical to ``ann_pq_topk`` and the
    two gates share one oracle — the strongest statement available that
    persistence changed the index's LIFETIME, not its answers.

    At 100 TB: the codes artifact is ~1/64 the corpus bytes (m=4 ints vs
    64 floats), small enough to pin in cluster cache; serve cost is one
    narrow scan of codes + a broadcast of the queries.  The build never
    appends (PQ scans everything), so no compaction companion is needed.
    """
    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio
    from ..operators import pq_index as pqi

    (emb,) = _t(spark, sf_dir, "embeddings")
    path = pqi.pq_index_path(sf_dir)
    fp = _corpus_fingerprint(spark, sf_dir, "embeddings")
    params = {"pq_m": _PQ_M, "pq_k": _PQ_K, "pq_sub": _PQ_SUB}
    if not aio.is_current(spark, path, ai.FORMAT_VERSION, fp, params):
        pqi.write_pq_index(
            emb, _pq_codebook(spark, sf_dir), path, fp, params
        )
    return _serve_persisted_pq_topk(spark, sf_dir, path)


def _serve_persisted_pq_topk(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """The serve-session plan: codebook + codes artifacts in, ADC top-k
    out, zero codebook derivation."""
    from ..operators import artifact_io as aio
    from ..operators import pq_index as pqi

    codebook = pqi.load_pq_codebook(spark, path)
    (emb,) = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NQUERY).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = aio.load(spark, path, "codes").select(
        F.col("vec_id").alias("cand_id"),
        pqi.pq_recon_expr(codebook).alias("cr"),
    )
    return _topk(_adc_pairs(q, c), "adc_dist")


def pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-compression quality loop closed in-plan: total / mean /
    worst-vector quantized reconstruction error of the PQ codebook over
    the whole corpus — the distortion metric a vector store tracks per
    index build (recall tells you what the *search* lost;
    distortion tells you what the *compression* lost, and it degrades
    first when the codebook goes stale against drifting embeddings).

    Same deterministic codebook as ``ann_pq_topk``; the audit is one
    narrow encode pass + one global aggregate — per-vector distortions
    are exact int64 (floor-quantized L2, the shared ``_l2q`` kernel),
    accumulated in DECIMAL(38,0) so the corpus sum never overflows."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    from ..operators.similarity import pq_encode

    coded = pq_encode(emb, _pq_codebook(spark, sf_dir))
    d = coded.select(
        _l2q(F.col("embedding"), F.col("recon")).alias("d")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("d").cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").alias("total_distortion_q"),
        (F.sum(F.col("d").cast("decimal(38,0)")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mean_distortion_q"),
        F.max("d").cast("long").alias("max_distortion_q"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long").alias("n_exact"),
    )


PQ_DISTORTION_AUDIT_SQL = f"""
WITH {_pq_recon_ctes()},
dist AS (
  SELECT CAST({_l2q_sql('e.embedding', 'r.recon')} AS BIGINT) AS d
  FROM embeddings e JOIN recon r ON e.vec_id = r.vec_id)
SELECT COUNT(*) AS n_vectors,
       CAST(CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         AS total_distortion_q,
       CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_distortion_q,
       CAST(MAX(d) AS BIGINT) AS max_distortion_q,
       CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
FROM dist
"""


def _ivf_pq_coded_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ index (cell + PQ reconstruction per corpus vector),
    built in ONE Arrow pass and materialized once per (session, fixture):
    trained coarse quantizer shared with ann_ivf_topk; PQ sub-codebooks
    stay the deterministic md5 seeds — training them would be a second
    per-subspace k-means whose recall contribution the distortion audit
    shows is second-order here."""
    from ..operators.similarity import ivf_pq_encode

    def build() -> DataFrame:
        (emb,) = _t(spark, sf_dir, "embeddings")
        return ivf_pq_encode(
            emb, _ivf_trained_centroids(spark, sf_dir),
            _pq_codebook(spark, sf_dir),
        )

    return _session_table(spark, sf_dir, "ivf_pq_coded", build)


def _ivf_pq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ candidate frame (same probed cells as ``_ivf_pairs``)
    scored by asymmetric distance against the PQ reconstruction, BEFORE
    top-k ranking — shared by ``ann_ivf_pq_topk`` and
    ``ann_recall_audit`` so the compression's search cost is measured on
    the deployed plan."""
    q = _ivf_qprobe_table(spark, sf_dir)
    c = _ivf_pq_coded_table(spark, sf_dir).select(
        F.col("vec_id").alias("cand_id"), F.col("cell").alias("ccell"),
        F.col("recon").alias("cr"),
    )
    return _adc_pairs(q, c, on="cell").select("query_id", "cand_id", "adc_dist")


_PQ_REFINE_R = 64  # raw vectors re-read per query by the refine step —
                   # a constant per query at ANY corpus size (the refine
                   # IO budget), chosen where the measured recall curve
                   # flattens (16/32/64 -> 0.28/0.42/0.68 at sf0.01)


def _ivf_pq_refine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS-style REFINE step over the IVF-PQ shortlist: the
    ``_PQ_REFINE_R`` best candidates by compressed ADC distance per
    query are re-scored with EXACT cosine against their raw vectors.
    The shortlist (queries x R rows) broadcasts against the vector
    table, so the refine costs one broadcast probe of R raw rows per
    query however large the corpus — the standard way production stores
    buy back the recall the 64x compression costs (measured side by
    side in ``ann_recall_audit``)."""
    short = query_topk(
        _ivf_pq_pairs(spark, sf_dir), "adc_dist", False, _PQ_REFINE_R
    ).select("query_id", "cand_id")
    (emb,) = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NQUERY).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"))
    sq = short.join(F.broadcast(q), "query_id")
    return (
        F.broadcast(sq)
        .join(c, "cand_id")
        .withColumn("cos_sim", vectors.cosine(F.col("qe"), F.col("ce")))
        .select("query_id", "cand_id", "cos_sim")
    )


def ann_ivf_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + REFINE — the complete production recipe (FAISS
    ``IVFx,PQy,Refine``): the compressed ADC scan produces a {r}-deep
    shortlist per query, and only those {r} raw vectors are re-read and
    exactly re-ranked for the final top-k.  Compression keeps the scan
    at ~1/64 the bytes; the refine buys the ranking back with a
    CONSTANT per-query raw-IO budget — recall@5 measured in
    ``ann_recall_audit`` rises from ~10% (pure ADC) to ~55-70% at
    {r} raw reads/query on the near-uniform fixture."""
    return _topk(_ivf_pq_refine_pairs(spark, sf_dir), "cos_sim")


ann_ivf_pq_refine_topk.__doc__ = (ann_ivf_pq_refine_topk.__doc__ or "").format(
    r=_PQ_REFINE_R
)


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the composition production vector stores actually run
    at scale (the FAISS ``IVFx,PQy`` recipe): a TRAINED coarse
    inverted-file quantizer prunes the search to the nprobe nearest
    cells, and within them candidates are scored by asymmetric distance
    against their product-quantization reconstruction instead of raw
    vectors.

    Both index structures come from the bounded-collect patterns proven
    separately by ``ann_ivf_topk`` ({ivf_k} trained centroids, shared
    memoized build) and ``ann_pq_topk`` (fixed {pq_k}-entry
    sub-codebooks), and the corpus is indexed in ONE Arrow-batched pass
    (``operators/similarity.ivf_pq_encode``) — no second scan, no vec_id
    stitch join.  At 100 TB: codes are {m} bytes/vector partitioned by
    cell id, a probe is a partition-pruned scan of ~nprobe/{ivf_k} of
    the corpus at ~1/64 the bytes, and recall scales with nprobe by
    unioning cells — parameter change, same plan.

    The reference has no ANN surface (`/root/reference/src/lib.rs` stops
    at generate+register+COPY); this extends it per the north star."""
    return _topk(_ivf_pq_pairs(spark, sf_dir), "adc_dist")


ann_ivf_pq_topk.__doc__ = (ann_ivf_pq_topk.__doc__ or "").format(
    ivf_k=_IVF_K, pq_k=_PQ_K, m=_PQ_M
)


_IVF_PQ_SCORED_SQL = f"""
WITH {_ivf_cent_ctes(prefix='iv')},
{_ivf_probe_ctes(prefix='iv')},
{_pq_recon_ctes()}
SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
       CAST({_l2q_sql('q.embedding', 'r.recon')} AS BIGINT) AS adc_dist
FROM ivqprobe q
JOIN ivassigned a ON a.cell = q.cid AND q.vec_id <> a.vec_id
JOIN recon r ON r.vec_id = a.vec_id
"""


ANN_IVF_PQ_SQL = f"""
WITH scored AS ({_IVF_PQ_SCORED_SQL}),
{_ADC_TOPK_SQL}
"""


def ann_ivf_pq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from a PERSISTED index — the persisted-tier matrix
    completed: IVF cells persist (``ann_persisted_index_topk``), PQ codes
    persist (``ann_pq_persisted_topk``), and this gate persists their
    COMPOSITION, the layout production vector stores actually deploy
    (FAISS ``IVFx,PQy`` on disk): coarse centroids + sub-codebooks +
    the corpus as (vec_id, cell, m-int codes) written
    ``partitionBy("cell")``, one fused Arrow build pass
    (``operators/similarity.ivf_pq_codes``), standard manifest-LAST /
    fingerprint discipline (``operators/pq_index.py``).

    The serve plan is the 100 TB shape this family exists for: probes
    rank the k-row centroid collect, the cells scan is statically
    partition-pruned to the nprobe probed directories AND each pruned
    read is ~1/64 the raw bytes (codes, not embeddings), with the ADC
    reconstruction decoded IN-PLAN from codebook array literals — no
    join, no Python stage.  Ranking is bit-identical to
    ``ann_ivf_pq_topk`` (same trained centroids, same codebook, same
    fixed-point ADC), so the two gates share one oracle — persistence
    changed the lifetime, not the answers.  Fresh-session serve with
    training AND codebook derivation forcibly disabled is proven in
    ``tests/test_pq_index.py``."""
    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio
    from ..operators import pq_index as pqi

    (emb,) = _t(spark, sf_dir, "embeddings")
    path = pqi.ivfpq_index_path(sf_dir)
    fp = _corpus_fingerprint(spark, sf_dir, "embeddings")
    params = {"ivf_k": _IVF_K, "ivf_iters": _IVF_ITERS,
              "pq_m": _PQ_M, "pq_k": _PQ_K, "pq_sub": _PQ_SUB}
    if not aio.is_current(spark, path, ai.FORMAT_VERSION, fp, params):
        pqi.write_ivfpq_index(
            emb, _ivf_trained_centroids(spark, sf_dir),
            _pq_codebook(spark, sf_dir), path, fp, params,
        )
    return _serve_persisted_ivfpq_topk(spark, sf_dir, path)


def _serve_persisted_ivfpq_topk(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """The serve-session plan: centroid + codebook + probed code cells in,
    ADC top-k out, zero training."""
    from ..operators import artifact_io as aio
    from ..operators import pq_index as pqi

    probes, probed = _persisted_probes(spark, sf_dir, path)
    codebook = pqi.load_pq_codebook(spark, path)
    cells = aio.load(spark, path, "cells", "cell", probed).select(
        F.col("vec_id").alias("cand_id"),
        F.col("cell").cast("long").alias("ccell"),
        pqi.pq_recon_expr(codebook).alias("cr"),
    )
    return _topk(_adc_pairs(probes, cells, on="cell"), "adc_dist")


_IVF_PQ_REFINE_SCORED_SQL = f"""
WITH adc AS ({_IVF_PQ_SCORED_SQL}),
short AS (
  SELECT query_id, cand_id FROM ({query_rank_sql('adc', 'adc_dist', 'r')})
  WHERE r <= {_PQ_REFINE_R})
SELECT s.query_id, s.cand_id,
       {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
FROM short s
JOIN embeddings q ON q.vec_id = s.query_id
JOIN embeddings c ON c.vec_id = s.cand_id
"""


ANN_IVF_PQ_REFINE_SQL = f"""
WITH scored AS ({_IVF_PQ_REFINE_SCORED_SQL}),
{_COS_TOPK_SQL}
"""


# ===========================================================================
# Text analysis
# ===========================================================================

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, BPE-ish token estimate, punctuation ratio
    and fingerprint — the 'quality features' pass of a data pipeline."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_token_estimate(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        text.punct_ratio(F.col("text")).alias("punct_ratio"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


TEXT_STATS_SQL = f"""
SELECT doc_id,
       {text.token_count_sql('text')} AS n_tokens,
       {text.bpe_token_estimate_sql('text')} AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       {text.punct_ratio_sql('text')} AS punct_ratio,
       {text.fingerprint_sql('text')} AS fingerprint
FROM documents
ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score per document: mean word length, stopword ratio, and a
    composite score; the filter predicate (score bands) of a corpus-cleaning
    pipeline."""
    (docs,) = _t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text"))
    mean_wlen = (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tok)
    stop = text.stopword_hits(F.col("text"), text.LANG_STOPWORDS["en"]) / n_tok
    score = (
        F.when(n_tok >= 20, 0.5).otherwise(0.0)
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), 0.3).otherwise(0.0)
        + F.when(stop > 0, 0.2).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_wlen.alias("mean_word_len"),
        stop.alias("stopword_ratio"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


_STOP_SQL = text.stopword_hits_sql("text", text.LANG_STOPWORDS["en"])
TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       {text.token_count_sql('text')} AS n_tokens,
       length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
         / {text.token_count_sql('text')} AS mean_word_len,
       {_STOP_SQL} * 1.0 / {text.token_count_sql('text')} AS stopword_ratio,
       (CASE WHEN {text.token_count_sql('text')} >= 20 THEN 0.5 ELSE 0.0 END
        + CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
                     / {text.token_count_sql('text')} BETWEEN 3 AND 10
               THEN 0.3 ELSE 0.0 END
        + CASE WHEN {_STOP_SQL} > 0 THEN 0.2 ELSE 0.0 END) AS quality_score
FROM documents
ORDER BY doc_id
"""


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning filter pipeline: keep documents strictly longer (in
    tokens) than their language's median, report per-language keep stats.

    The per-stratum threshold is the exact nearest-rank median computed as
    a tiny per-lang aggregate (|langs| rows) broadcast back onto the
    corpus — the adaptive-threshold filter pattern (vs docs_stratified_
    sample's fixed rates).  Nothing here depends on row order: the median
    is rank-defined and ties are resolved by the value itself."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", text.token_count(F.col("text")).alias("n_tokens")
    )
    # nearest-rank median via the shared domain-bounded selection
    # (operators/selection.rank_thresholds): reducer input is the token
    # count domain, never the corpus.  ONE aggregation to distinct
    # (lang, n_tokens) counts feeds both the median machinery and the
    # keep-stats audit (weighted by _c) — the tokenizer runs once and the
    # documents scan's exchange is reused instead of re-scanned
    # (guide §2.4)
    from ..operators.selection import (
        rank_thresholds_from_counts,
        value_counts,
    )

    counts = value_counts(
        toks.select("lang", "n_tokens"),
        group_by=["lang"],
        value_col="n_tokens",
    )
    med = rank_thresholds_from_counts(
        counts,
        group_by=["lang"],
        value_col="n_tokens",
        targets={"median_tokens": lambda cnt: F.ceil(cnt / 2)},
    )
    kept = counts.join(F.broadcast(med), "lang").filter(
        F.col("n_tokens") > F.col("median_tokens")
    )
    return (
        kept.groupBy("lang", "median_tokens")
        .agg(
            F.sum("_c").alias("n_kept"),
            F.min("n_tokens").alias("min_kept_tokens"),
            F.max("n_tokens").alias("max_kept_tokens"),
        )
        .orderBy("lang")
    )


DOCS_QUALITY_FILTER_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, {text.token_count_sql('text')} AS n_tokens FROM documents),
med AS (
  SELECT lang,
         (list_sort(list(n_tokens)))[CAST(ceil(COUNT(*) / 2.0) AS INTEGER)]
           AS median_tokens
  FROM toks GROUP BY lang)
SELECT toks.lang, med.median_tokens,
       COUNT(*) AS n_kept,
       MIN(n_tokens) AS min_kept_tokens,
       MAX(n_tokens) AS max_kept_tokens
FROM toks JOIN med ON toks.lang = med.lang
WHERE n_tokens > median_tokens
GROUP BY toks.lang, med.median_tokens
ORDER BY toks.lang
"""


def docs_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE window coverage: per-language length quartiles (the corpus
    profiling pass before choosing filter thresholds).  The tile order key
    (n_chars, doc_id) is total, so tile assignment is deterministic."""
    (docs,) = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select("lang", "n_chars", F.ntile(4).over(w).alias("quartile"))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "quartile")
    )


DOCS_LENGTH_QUARTILES_SQL = """
SELECT lang, CAST(quartile AS INTEGER) AS quartile,
       COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM (
  SELECT lang, n_chars,
         NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
  FROM documents)
GROUP BY lang, quartile
ORDER BY lang, quartile
"""


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints per document: hash every char
    8-gram, keep the min of each 4-hash sliding window. Returns the compact
    per-doc summary (count + extremes of the selected-fingerprint set) so
    the oracle comparison stays small while pinning the whole set."""
    (docs,) = _t(spark, sf_dir, "documents")
    fps = text.winnow_fingerprints(F.col("text"))
    return kernel_front(docs, "text").select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fps"),
        F.element_at(fps, 1).alias("min_fp"),
        F.element_at(fps, -1).alias("max_fp"),
        F.md5(F.concat_ws(",", fps.cast("array<string>"))).alias("set_hash"),
    )


_WFP = text.winnow_fingerprints_sql("text")
DOC_WINNOW_SQL = f"""
SELECT doc_id,
       len(fps) AS n_fps,
       fps[1] AS min_fp,
       fps[-1] AS max_fp,
       md5(array_to_string(fps, ',')) AS set_hash
FROM (SELECT doc_id, {_WFP} AS fps FROM documents)
ORDER BY doc_id
"""


_TOP_DOCS_K = 3
_TOP_SALTS = 16  # shard fan-out for the two-level grouped top-k


def top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (grouped top-k pattern): the k longest documents per
    language by token count, ties broken by doc_id.  Two-level salted
    top-k — per (lang, salt) shard keep the k best as a sorted struct
    slice, then merge-and-re-truncate per language — so no language's
    full corpus ever meets one reducer (a per-lang rank window would put
    corpus/|langs| rows on each task at 100 TB); the merge sees at most
    salts x k structs per group.  The sort key (-n_tokens, doc_id) makes
    ascending struct order exactly the (tokens desc, id asc) ranking."""
    from ..operators.selection import salted_topk

    (docs,) = _t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text"))
    key = F.struct(
        (-F.col("n_tokens")).alias("nk"), F.col("doc_id").alias("doc_id")
    )
    merged = salted_topk(
        docs.select("doc_id", "lang", n_tok.alias("n_tokens")),
        group_by=["lang"],
        key=key,
        k=_TOP_DOCS_K,
        salt=F.pmod(F.col("doc_id"), F.lit(_TOP_SALTS)),
        out_col="tk",
    )
    return (
        merged.select("lang", F.posexplode("tk").alias("pos", "s"))
        .select(
            "lang",
            (F.col("pos") + 1).cast("int").alias("rnk"),
            F.col("s.doc_id").alias("doc_id"),
            (-F.col("s.nk")).alias("n_tokens"),
        )
        .orderBy("lang", "rnk")
    )


TOP_DOCS_PER_LANG_SQL = f"""
SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id, n_tokens
FROM (
  SELECT doc_id, lang, {text.token_count_sql('text')} AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {text.token_count_sql('text')} DESC, doc_id) AS rnk
  FROM documents)
WHERE rnk <= {_TOP_DOCS_K}
ORDER BY lang, rnk
"""


# stratum sampling rates (percent kept): downsample the dominant language,
# keep the tail.  A training-data mix in miniature.
_SAMPLE_PCT_EN = 20
_SAMPLE_PCT_OTHER = 50


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the training-data mix builder.

    Each document keeps/drops itself from a *content-free* coin:
    md5(doc_id) mod 100 compared against its stratum's rate, so the sample
    is reproducible across engines, runs, and cluster sizes (no RNG state,
    no ordering dependence — the property `df.sample()` cannot give).
    Inverse-probability `sample_weight` restores unbiased aggregates.
    Embarrassingly parallel: a narrow filter, no shuffle at any scale.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    rate = F.when(
        F.col("lang") == "en", F.lit(_SAMPLE_PCT_EN)
    ).otherwise(F.lit(_SAMPLE_PCT_OTHER))
    coin = hashing.md5_int(F.col("doc_id").cast("string")) % F.lit(100)
    return (
        docs.withColumn("rate", rate)
        .filter(coin < F.col("rate"))
        .select(
            "doc_id",
            "lang",
            "source",
            (F.lit(100.0) / F.col("rate").cast("double")).alias("sample_weight"),
        )
        .orderBy("doc_id")
    )


DOCS_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source,
       100.0 / CAST(CASE WHEN lang = 'en' THEN {_SAMPLE_PCT_EN}
                         ELSE {_SAMPLE_PCT_OTHER} END AS DOUBLE) AS sample_weight
FROM documents
WHERE {hashing.md5_int_sql("CAST(doc_id AS VARCHAR)")} % 100
      < CASE WHEN lang = 'en' THEN {_SAMPLE_PCT_EN} ELSE {_SAMPLE_PCT_OTHER} END
ORDER BY doc_id
"""


_TOKEN_TOPK = 20


def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide heavy hitters: the top-k most frequent normalized
    words with occurrence and document frequencies.

    Plan: explode -> hash aggregate (map-side partial combine absorbs the
    per-document repetition before the shuffle) -> TakeOrderedAndProject.
    The shuffle carries one row per *distinct* (partition, word), not per
    occurrence — the reason exact heavy hitters stays viable at 100 TB for
    vocabulary-sized key spaces.  Ties broken by word for determinism.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "term")
        .limit(_TOKEN_TOPK)
    )


TOKEN_TOPK_SQL = f"""
SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({text.words_sql('text')}) AS term FROM documents)
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT {_TOKEN_TOPK}
"""


_TFIDF_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF.

    idf uses the *linear* rarity weight N/df instead of log(N/df): IEEE
    multiply/divide are bit-exact across engines while libm log is not, so
    the gate stays hash-comparable; the ranking only needs monotone rarity.
    Plan: one shuffle to (doc_id, term) counts, one to term df, the corpus
    size N broadcast as a 1-row cross join, top-k via partitioned
    row_number.  No driver collection anywhere.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    tf = evaluate_once(
        docs.select("doc_id", F.explode(text.words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_corpus").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({text.words_sql('text')}) AS term FROM documents)
  GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_corpus FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_corpus AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf AS DOUBLE)
                              * (CAST(n.n_corpus AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
                              tf.term) AS rnk
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df, score
FROM scored WHERE rnk <= {_TFIDF_K}
ORDER BY doc_id, rnk
"""


_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def docs_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent word
    pairs whose joint frequency beats what their unigram frequencies
    predict.  The PMI score uses the *linear* probability ratio
    p(ab)/(p(a)p(b)) rather than its log — IEEE multiply/divide are
    bit-exact across engines while libm log is not, and the ranking only
    needs monotonicity (same rule as the TF-IDF gate).

    Bigram extraction is a narrow per-row array zip (no join, no
    positional self-join — the classic scalable n-gram shape); then one
    hash aggregation per n-gram order and two vocabulary-sized joins.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    w = text.words(F.col("text"))
    sz = F.size(w)
    toks = docs.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    pair = F.arrays_zip(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        F.slice(F.col("w"), 2, F.size("w") - 1),
    )
    bigrams = (
        toks.select(F.explode(pair).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= _PMI_MIN_COUNT)
    )
    uni = (
        docs.select(F.explode(w).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = (
        docs.select(sz.alias("n_tok"))
        .agg(
            F.sum(F.col("n_tok").cast("long")).alias("t_tokens_i"),
            F.sum(
                F.greatest(F.col("n_tok") - 1, F.lit(0)).cast("long")
            ).alias("t_pairs_i"),
        )
        .select(
            F.col("t_tokens_i").cast("double").alias("t_tokens"),
            F.col("t_pairs_i").cast("double").alias("t_pairs"),
        )
    )
    scored = (
        bigrams.join(uni.withColumnRenamed("term", "w1").withColumnRenamed("n", "na"), "w1")
        .join(uni.withColumnRenamed("term", "w2").withColumnRenamed("n", "nb"), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi_ratio",
            (F.col("nab").cast("double") * F.col("t_tokens") * F.col("t_tokens"))
            / (F.col("t_pairs") * F.col("na").cast("double") * F.col("nb").cast("double")),
        )
    )
    return (
        scored.select("w1", "w2", "nab", "na", "nb", "pmi_ratio")
        .orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


DOCS_PMI_BIGRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {text.words_sql('text')} AS w FROM documents),
bigrams AS (
  SELECT w[i.i] AS w1, w[i.i + 1] AS w2, COUNT(*) AS nab
  FROM toks CROSS JOIN UNNEST(range(1, len(w))) AS i(i)
  WHERE len(w) >= 2
  GROUP BY w1, w2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}),
uni AS (
  SELECT term, COUNT(*) AS n
  FROM (SELECT unnest(w) AS term FROM toks)
  GROUP BY term),
totals AS (
  SELECT CAST(SUM(len(w)) AS DOUBLE) AS t_tokens,
         CAST(SUM(GREATEST(len(w) - 1, 0)) AS DOUBLE) AS t_pairs
  FROM toks)
SELECT b.w1, b.w2, b.nab, a.n AS na, c.n AS nb,
       (CAST(b.nab AS DOUBLE) * t.t_tokens * t.t_tokens)
         / (t.t_pairs * CAST(a.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS pmi_ratio
FROM bigrams b
JOIN uni a ON b.w1 = a.term
JOIN uni c ON b.w2 = c.term
CROSS JOIN totals t
ORDER BY pmi_ratio DESC, w1, w2
LIMIT {_PMI_TOPK}
"""


def docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document — the perplexity
    proxy a corpus-quality pipeline uses to drop machine-mangled text.

    The LM is trained on the corpus itself in the same plan: corpus-wide
    bigram and unigram counts, add-one smoothing over vocabulary V, and
    each document scored by the mean conditional probability of its
    bigrams p(w2|w1) = (c12 + 1) / (c1 + V).  The mean of probabilities
    (not log-probs) keeps the gate hash-exact: IEEE divides are
    bit-identical across engines while libm log is not; the score is a
    strictly monotone quality signal either way (same rule as the TF-IDF
    and PMI gates).

    Scale: bigram extraction is a narrow per-row zip; counts are two
    n-gram-keyed hash aggregations; scoring joins each bigram instance to
    its count — shuffles keyed on the n-gram, linear in corpus size, the
    vocabulary scalar broadcast.  At 100 TB the count tables are the
    precomputed LM table this query would read instead of recompute.
    """
    # One (w1, w2) exchange serves BOTH grains (guide §2.4, the q20
    # one-exchange-two-grains trick): the bigram instances are aggregated
    # once to per-(doc, bigram) multiplicities k riding an explicit
    # repartition("w1","w2") (hash-partitioning on a key subset satisfies
    # the finer grouping's distribution), the corpus-wide bigram count
    # c12 is a window SUM(k) over the same partitioning, and the per-doc
    # score re-aggregates weighted by k — every instance of one bigram in
    # one doc has the same p, and dsum's quantization is per distinct
    # value, so the weighted mean is bit-identical to the row-level davg.
    # The previous shape evaluated the tokenize+explode subtree twice
    # (count side + join-back side); this evaluates it once.  (An earlier
    # attempt kept the join-back and added a range exchange up front —
    # that made all three consumers re-pay the exchange, 1.06s -> 2.04s,
    # reverted in r14; this removes the extra consumer instead.)
    from ..functions.exact import dsum_weighted

    (docs,) = _t(spark, sf_dir, "documents")
    w = text.words(F.col("text"))
    toks = docs.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    pair = F.arrays_zip(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        F.slice(F.col("w"), 2, F.size("w") - 1),
    )
    inst = toks.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2")
    )
    bgd = (
        inst.repartition("w1", "w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
        .withColumn(
            "c12", F.sum("k").over(Window.partitionBy("w1", "w2"))
        )
    )
    uni = (
        toks.select(F.explode(F.col("w")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        bgd.join(uni.withColumnRenamed("term", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p",
            (F.col("c12") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("v")).cast("double"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            (dsum_weighted(F.col("p"), F.col("k")) / F.sum("k")).alias(
                "lm_score"
            ),
        )
        .orderBy("doc_id")
    )


DOCS_LM_SCORE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {text.words_sql('text')} AS w FROM documents),
inst AS (
  SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
  FROM toks CROSS JOIN UNNEST(range(1, len(w))) AS i(i)
  WHERE len(w) >= 2),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY w1, w2),
uni AS (
  SELECT term, COUNT(*) AS c1
  FROM (SELECT unnest(w) AS term FROM toks WHERE len(w) >= 2)
  GROUP BY term),
vocab AS (SELECT COUNT(*) AS v FROM uni),
scored AS (
  SELECT i.doc_id,
         CAST(b.c12 + 1 AS DOUBLE) / CAST(u.c1 + vo.v AS DOUBLE) AS p
  FROM inst i
  JOIN big b USING (w1, w2)
  JOIN uni u ON i.w1 = u.term
  CROSS JOIN vocab vo)
SELECT doc_id, COUNT(*) AS n_bigrams, {davg_sql('p')} AS lm_score
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


def _lang_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (lang, predicted) for the stopword language-ID heuristic:
    predicted = argmax of per-language stopword hits (ties broken by
    language code), 'und' when nothing hits.  The ONE definition of the
    classifier — the lang_id gate and the metrics gate both consume it,
    so a tie-break or threshold change can never let them diverge."""
    (docs,) = _t(spark, sf_dir, "documents")
    hit_cols = {
        lang: text.stopword_hits(F.col("text"), words)
        for lang, words in text.LANG_STOPWORDS.items()
    }
    scored = docs.select(
        "doc_id", "lang", *[c.alias(f"hit_{k}") for k, c in hit_cols.items()]
    )
    pairs = F.array(
        *[
            F.struct(F.col(f"hit_{k}").alias("hits"), F.lit(k).alias("code"))
            for k in sorted(text.LANG_STOPWORDS)
        ]
    )
    best = F.array_max(pairs)  # struct max: hits first, then code
    pred = F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))
    return scored.select("lang", pred.alias("predicted"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts; predicted
    language = argmax (ties broken by language code). Compared against the
    fixture's lang column for an agreement count by (lang, predicted)."""
    return (
        _lang_predictions(spark, sf_dir)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


def _lang_id_sql() -> str:
    hits = {
        k: text.stopword_hits_sql("text", w) for k, w in text.LANG_STOPWORDS.items()
    }
    structs = ", ".join(
        f"{{'hits': {hits[k]}, 'code': '{k}'}}" for k in sorted(text.LANG_STOPWORDS)
    )
    best = f"list_aggregate([{structs}], 'max')"
    return f"""
SELECT lang,
       CASE WHEN ({best}).hits > 0 THEN ({best}).code ELSE 'und' END AS predicted,
       COUNT(*) AS n_docs
FROM documents
GROUP BY lang, predicted
ORDER BY lang, predicted
"""


LANG_ID_SQL = _lang_id_sql()


def lang_id_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation metrics, distributed: per-class TP/FP/FN
    and precision/recall/F1 for the language-ID heuristic against the
    fixture's gold ``lang`` — the evaluation layer every model-driven
    curation filter needs next to its predictions (the confusion counts
    themselves are the ``lang_id`` gate).

    One corpus pass reduces to the (gold, predicted) confusion matrix —
    the SAME classifier definition the lang_id gate reports, via the
    shared ``_lang_predictions`` builder — and the per-class TP/FP/FN
    pivot then runs over those ~|classes|² rows, not the corpus: the
    corpus is touched once however many classes are scored.  Ratio
    metrics evaluate in double from identical integers; zero-denominator
    classes report 0.0 by the same CASE on both engines.  Scale: the
    metric state is 3 integers per class, mergeable across any
    sharding."""
    conf = (
        _lang_predictions(spark, sf_dir)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from ..inline import inline_table

    classes = inline_table(
        spark, [(c,) for c in sorted(text.LANG_STOPWORDS)], "class string"
    )
    counts = (
        conf.crossJoin(F.broadcast(classes))
        .groupBy("class")
        .agg(
            F.sum(
                F.when(
                    (F.col("lang") == F.col("class"))
                    & (F.col("predicted") == F.col("class")), F.col("n")
                ).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(
                    (F.col("lang") != F.col("class"))
                    & (F.col("predicted") == F.col("class")), F.col("n")
                ).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(
                    (F.col("lang") == F.col("class"))
                    & (F.col("predicted") != F.col("class")), F.col("n")
                ).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        tp / (tp + fp)
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        tp / (tp + fn)
    )
    f1 = F.when(
        (F.col("tp") + F.col("fp") == 0) | (F.col("tp") + F.col("fn") == 0)
        | (F.col("tp") == 0),
        F.lit(0.0),
    ).otherwise(
        F.lit(2.0) * (tp / (tp + fp)) * (tp / (tp + fn))
        / (tp / (tp + fp) + tp / (tp + fn))
    )
    return counts.select(
        "class", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    ).orderBy("class")


def _lang_id_metrics_sql() -> str:
    hits = {
        k: text.stopword_hits_sql("text", w)
        for k, w in text.LANG_STOPWORDS.items()
    }
    structs = ", ".join(
        f"{{'hits': {hits[k]}, 'code': '{k}'}}"
        for k in sorted(text.LANG_STOPWORDS)
    )
    best = f"list_aggregate([{structs}], 'max')"
    classes = ", ".join(f"('{c}')" for c in sorted(text.LANG_STOPWORDS))
    p = "CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))"
    r = "CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))"
    return f"""
WITH preds AS (
  SELECT lang,
         CASE WHEN ({best}).hits > 0 THEN ({best}).code
              ELSE 'und' END AS predicted
  FROM documents),
conf AS (
  SELECT lang, predicted, COUNT(*) AS n FROM preds GROUP BY lang, predicted),
classes(class) AS (VALUES {classes}),
counts AS (
  SELECT class,
         CAST(SUM(CASE WHEN lang = class AND predicted = class
                  THEN n ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN lang <> class AND predicted = class
                  THEN n ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN lang = class AND predicted <> class
                  THEN n ELSE 0 END) AS BIGINT) AS fn
  FROM conf CROSS JOIN classes
  GROUP BY class)
SELECT class, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN 0.0 ELSE {p} END AS precision,
       CASE WHEN tp + fn = 0 THEN 0.0 ELSE {r} END AS recall,
       CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tp = 0 THEN 0.0
            ELSE 2.0 * ({p}) * ({r}) / (({p}) + ({r})) END AS f1
FROM counts
ORDER BY class
"""


LANG_ID_METRICS_SQL = _lang_id_metrics_sql()


# ===========================================================================
# Set operations + catalog listing (SURVEY §2.7 / §2.1 S4,S7)
# ===========================================================================

def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one result: classify customers as
    having orders only, positive balance only, both, or neither."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    with_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey")
    positive = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    both = with_orders.intersect(positive)
    only_orders = with_orders.exceptAll(positive).distinct()
    only_pos = positive.exceptAll(with_orders).distinct()
    labeled = (
        both.withColumn("category", F.lit("both"))
        .unionAll(only_orders.withColumn("category", F.lit("orders_only")))
        .unionAll(only_pos.withColumn("category", F.lit("balance_only")))
    )
    return (
        labeled.groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("category")
    )


CUSTOMER_SET_OPS_SQL = """
WITH with_orders AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)),
positive AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0),
labeled AS (
  SELECT c_custkey, 'both' AS category
  FROM (SELECT c_custkey FROM with_orders INTERSECT SELECT c_custkey FROM positive)
  UNION ALL
  SELECT c_custkey, 'orders_only' AS category
  FROM (SELECT c_custkey FROM with_orders EXCEPT SELECT c_custkey FROM positive)
  UNION ALL
  SELECT c_custkey, 'balance_only' AS category
  FROM (SELECT c_custkey FROM positive EXCEPT SELECT c_custkey FROM with_orders))
SELECT category, COUNT(*) AS n_customers
FROM labeled GROUP BY category ORDER BY category
"""


_FO_BAL = 9000.0  # high-balance cutoff: creates rows on both exclusive sides


def customer_orders_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: high-balance customers vs per-customer
    order counts.  Left-only = rich customers who never ordered;
    right-only = ordering customers below the balance cutoff.  Null sides
    are coalesced to sentinels so the cross-engine hash stays dtype-stable
    (nullable int64 decays to float64 in pandas on both engines, but the
    coalesced form is exact)."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    rich = cust.filter(F.col("c_acctbal") > _FO_BAL).select(
        "c_custkey", "c_acctbal"
    )
    cnts = orders.groupBy(F.col("o_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    fo = rich.join(cnts, rich.c_custkey == cnts.o_custkey, "full_outer")
    return (
        fo.select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            F.coalesce(F.col("c_acctbal"), F.lit(-1.0)).alias("acctbal"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.when(F.col("c_custkey").isNull(), "right_only")
            .when(F.col("o_custkey").isNull(), "left_only")
            .otherwise("both")
            .alias("side"),
        )
        .orderBy("custkey")
    )


CUSTOMER_ORDERS_FULL_OUTER_SQL = f"""
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       COALESCE(c.c_acctbal, -1.0) AS acctbal,
       COALESCE(o.n_orders, 0) AS n_orders,
       CASE WHEN c.c_custkey IS NULL THEN 'right_only'
            WHEN o.o_custkey IS NULL THEN 'left_only'
            ELSE 'both' END AS side
FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > {_FO_BAL}) c
FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
ORDER BY custkey
"""


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (SURVEY §2.4): order counts and exact totals at
    (priority, status), (priority), and grand-total levels."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


ORDERS_ROLLUP_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def tables_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``tpch()`` result shape / SHOW TABLES surface
    (src/lib.rs:294-306): the catalog listing as a 1-column DataFrame."""
    from ..catalog import listing, register_tables

    register_tables(spark, sf_dir)
    return listing(spark).orderBy("table_name")


_FIXTURE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
TABLES_LISTING_SQL = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL ".join(f"SELECT '{t}' AS table_name" for t in _FIXTURE_NAMES)
    + "\n) ORDER BY table_name"
)


# ===========================================================================
# Multimodal columns
# ===========================================================================

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_NQ = 3     # query = the 3 most document-frequent terms
_BM25_TOPK = 10


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking — the IR scoring function behind retrieval
    quality filters (tf saturation via k1, length normalization via b),
    upgrading the linear `tfidf_top_terms` weight.  The query is the
    {nq} most document-frequent terms (self-contained, deterministic);
    idf uses the ratio form (N−df+0.5)/(df+0.5) instead of its log —
    IEEE multiply/divide are engine-exact while libm log is not, and
    ranking only needs monotone rarity.  Per-term scores are exact
    double expression trees; the per-doc sum over query terms runs
    through the quantized reducer so it is order-independent.  Plan:
    two aggregations (tf, df), a broadcast of the {nq}-term query and
    the 1-row corpus stats, then TakeOrderedAndProject for both the
    query-term selection and the final top-k (rank windows run only
    over the <=k survivors) — no corpus-sized single-reducer stage,
    no driver collection.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    # dl and dfreq both re-aggregate the COMPACT tf table instead of the
    # exploded words frame: dl = Σ tf per doc is identical to counting
    # word instances (explode drops empty docs from both forms), and all
    # three consumers share ONE tokenize+explode+(doc_id, term) exchange.
    tf = evaluate_once(
        docs.select("doc_id", F.explode(text.words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        not_null=("doc_id",),
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # vocabulary-sized input: take the top-nq terms with a TakeOrdered
    # (per-partition heaps, nq-row merge), never a partition-less window
    qterms = (
        dfreq.orderBy(F.col("df").desc(), "term")
        .limit(_BM25_NQ)
        .select("term", "df")
    )
    stats = dl.agg(
        F.sum("dl").cast("double").alias("sumdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    idf = (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    denom = F.col("tf").cast("double") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B)
        + F.lit(_BM25_B)
        * (F.col("dl").cast("double") / (F.col("sumdl") / F.col("n_docs")))
    )
    s_term = idf * (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_term.alias("s"))
        .groupBy("doc_id")
        .agg(dsum(F.col("s")).alias("score"))
    )
    # top-k FIRST (TakeOrderedAndProject), THEN rank the k survivors —
    # a global row_number over the full scored corpus would serialize it
    # through one task (the docs_dsir_score pattern, curation.py)
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(_BM25_TOPK)
    wr = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .orderBy("rank")
    )


docs_bm25_topk.__doc__ = (docs_bm25_topk.__doc__ or "").format(nq=_BM25_NQ)


DOCS_BM25_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest({text.words_sql('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
qterms AS (
  SELECT term, df FROM (
    SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrn
    FROM dfreq)
  WHERE qrn <= {_BM25_NQ}),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) AS sumdl,
         CAST(COUNT(*) AS DOUBLE) AS n_docs
  FROM dl),
scored AS (
  SELECT tf.doc_id,
         ((stats.n_docs - CAST(q.df AS DOUBLE) + 0.5)
            / (CAST(q.df AS DOUBLE) + 0.5))
         * (CAST(tf.tf AS DOUBLE) * {_BM25_K1 + 1.0!r})
         / (CAST(tf.tf AS DOUBLE) + {_BM25_K1!r}
            * ({1.0 - _BM25_B!r} + {_BM25_B!r}
               * (CAST(dl.dl AS DOUBLE) / (stats.sumdl / stats.n_docs))))
           AS s
  FROM tf
  JOIN qterms q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats),
agg AS (SELECT doc_id, {dsum_sql('s')} AS score FROM scored GROUP BY doc_id)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM agg
QUALIFY rank <= {_BM25_TOPK}
ORDER BY rank
"""


def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end: documents → deterministic
    RGB rasters ENCODED AS GENUINE PNG FILES in one Arrow kernel (DEFLATE
    via stdlib zlib, scanline filter ``y % 5`` so every blob exercises
    None/Sub/Up/Average/Paeth) → a second Arrow kernel parses each blob
    strictly from its bytes (``decode_png``: signature → CRC-verified
    chunk walk → IHDR → inflate → unfilter) → integer-exact per-channel
    statistics.  The oracle recomputes width, height and the per-channel
    sums from the closed-form raster, so a decoder that mis-unfilters a
    single scanline or mis-walks a chunk hash-fails.  The doc_ids come
    through ``kernel_front``, so the codec kernels run once and their
    output is ordered by doc_id.  This closes the compressed-codec boundary
    the PGM/BMP gate documents; depth 16 and Adam7 interlace have their
    own gates (multimodal_png16_roundtrip, multimodal_png_adam7_roundtrip),
    leaving JPEG as the honest NotImplementedError edge."""
    from ..operators.multimodal import (
        decode_png,
        decoded_rgb_stats,
        documents_as_png_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_png_assets(ids), decode_png)


MULTIMODAL_PNG_ROUNDTRIP_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 256 AS v
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)) t(i))
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 9 AS INTEGER) AS width,
       CAST(8 + doc_id % 7 AS INTEGER) AS height,
       SUM(v) * 1.0 / COUNT(*) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b
FROM s
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_png_palette_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paletted (color-type-3) PNG decode end-to-end: documents →
    deterministic 16-color INDEX rasters + closed-form PLTE palette,
    encoded as genuine paletted PNGs (``encode_png_palette``,
    ``filter_per_line=True`` so every blob filters index scanlines with
    all five types at bpp=1) → ``decode_png`` parses each blob strictly
    from its bytes (chunk walk now carries PLTE; unfilter runs on index
    bytes; indices map through the palette) → the same integer-exact
    per-channel statistics kernel as the RGB gate.  The oracle
    recomputes palette colors and index raster in closed form, so a
    decoder that mis-unfilters an index scanline or mis-maps the palette
    hash-fails.  Same plan shape as multimodal_png_roundtrip."""
    from ..operators.multimodal import (
        decode_png,
        decoded_rgb_stats,
        documents_as_palette_png_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_palette_png_assets(ids), decode_png)


MULTIMODAL_PNG_PALETTE_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 16 AS p
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 8) * (8 + doc_id % 5))) t(i)),
c AS (
  SELECT doc_id,
         (p * 37 + 11) % 256 AS r,
         (p * 59 + 7) % 256 AS g,
         (p * 83 + 3) % 256 AS b
  FROM s)
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 8 AS INTEGER) AS width,
       CAST(8 + doc_id % 5 AS INTEGER) AS height,
       SUM(r + g + b) * 1.0 / (COUNT(*) * 3) AS mean_px,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS max_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM c
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_png16_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-16 PNG decode end-to-end: documents → deterministic
    full-range 16-bit RGB rasters encoded as genuine 16-bit PNGs
    (big-endian samples, byte-level scanline filters at bpp=6,
    ``filter_per_line=True``) → ``decode_png`` inflates, unfilters on
    bytes, and reassembles the u16 samples → the same integer-exact
    stats kernel.  The oracle recomputes everything from the
    ``v[i] = (id*K + i) % 65536`` closed form, so a decoder that
    mis-offsets the byte-level filter or byte-swaps a sample
    hash-fails.  Same parallel plan shape as the other PNG gates."""
    from ..operators.multimodal import (
        decode_png,
        decoded_rgb_stats,
        documents_as_png16_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_png16_assets(ids), decode_png)


MULTIMODAL_PNG16_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 65536 AS v
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 6) * (8 + doc_id % 10) * 3)) t(i))
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 6 AS INTEGER) AS width,
       CAST(8 + doc_id % 10 AS INTEGER) AS height,
       SUM(v) * 1.0 / COUNT(*) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b
FROM s
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_png_adam7_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode end-to-end: documents → deterministic
    RGB rasters encoded with ``interlace=True`` (seven independently
    filtered pass sub-images, full five-filter rotation per pass) →
    ``decode_png`` unfilters each pass and scatters it back into the
    pixel grid → the same integer-exact stats kernel.  The oracle
    recomputes everything from the closed-form raster, so a decoder
    that mis-walks the pass geometry, mis-resets the per-pass prior
    scanline, or mis-scatters a single pixel hash-fails.  Same parallel
    plan shape as the other PNG gates."""
    from ..operators.multimodal import (
        decode_png,
        decoded_rgb_stats,
        documents_as_adam7_png_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_adam7_png_assets(ids), decode_png)


MULTIMODAL_PNG_ADAM7_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 256 AS v
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 13) * (8 + doc_id % 3) * 3)) t(i))
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 13 AS INTEGER) AS width,
       CAST(8 + doc_id % 3 AS INTEGER) AS height,
       SUM(v) * 1.0 / COUNT(*) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b
FROM s
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode end-to-end — a second genuine compression family
    next to PNG's DEFLATE: documents → deterministic 16-color index
    rasters + closed-form palette encoded as GIF87a files (variable-width
    LZW codes with clear/end handling, dictionary growth to 4096 and
    reset, LSB-first bit packing pinned to hand-derived spec bytes,
    ≤255-byte sub-blocks) → ``decode_gif`` reassembles the sub-blocks,
    LZW-decompresses (including the KwKwK case) and palette-maps strictly
    from blob bytes → the same integer-exact stats kernel.  The oracle
    recomputes everything from the closed form, so a decoder that drops
    a dictionary entry or misreads a code width hash-fails.  Same
    parallel plan shape as the PNG gates."""
    from ..operators.multimodal import (
        decode_gif,
        decoded_rgb_stats,
        documents_as_gif_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_gif_assets(ids), decode_gif)


MULTIMODAL_GIF_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 16 AS p
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 12) * (8 + doc_id % 4))) t(i)),
c AS (
  SELECT doc_id,
         (p * 37 + 11) % 256 AS r,
         (p * 59 + 7) % 256 AS g,
         (p * 83 + 3) % 256 AS b
  FROM s)
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 12 AS INTEGER) AS width,
       CAST(8 + doc_id % 4 AS INTEGER) AS height,
       SUM(r + g + b) * 1.0 / (COUNT(*) * 3) AS mean_px,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS max_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM c
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_gif89a_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF89a + interlace — the round-8 GIF boundary, closed: the same
    LZW pipeline as ``multimodal_gif_roundtrip`` but the stream carries a
    Graphic Control Extension block (skipped by the decoder's sub-block
    walk) and the raster is written in the four-pass INTERLACED row
    order, so the decoder's de-interlace scatter is on the hash path:
    channel sums alone are permutation-invariant, so the stats kernel
    adds a row-major position-weighted checksum (Σ (i+1)·(r+g+b)) that a
    mis-scattered pass row cannot satisfy.  The oracle recomputes
    everything from the row-major closed form."""
    from ..operators.multimodal import (
        decoded_gif_stats_positional,
        documents_as_gif89a_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_gif_stats_positional(documents_as_gif89a_assets(ids))


MULTIMODAL_GIF89A_SQL = """
WITH s AS (
  SELECT doc_id, i, (doc_id * 2654435761 + i) % 16 AS p
  FROM documents,
       UNNEST(range(0, (8 + doc_id % 11) * (8 + doc_id % 6))) t(i)),
c AS (
  SELECT doc_id, i,
         (p * 37 + 11) % 256 AS r,
         (p * 59 + 7) % 256 AS g,
         (p * 83 + 3) % 256 AS b
  FROM s)
SELECT doc_id AS asset_id,
       CAST(8 + doc_id % 11 AS INTEGER) AS width,
       CAST(8 + doc_id % 6 AS INTEGER) AS height,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS max_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM((i + 1) * (r + g + b)) AS BIGINT) AS wsum
FROM c
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end — the DCT transform-coding
    family next to PNG's DEFLATE and GIF's LZW, closing the codec matrix:
    documents → deterministic block-constant grayscale rasters encoded as
    genuine Huffman-coded JFIF streams (forward DCT, all-ones quant,
    zig-zag, RLE + canonical Huffman with byte stuffing, real
    partial-block padding on every image) → ``decode_jpeg`` re-derives
    the Huffman tables from DHT, entropy-decodes, dequantizes and runs
    the IDCT strictly from blob bytes → integer-exact pixel stats.
    Block-constant rasters have exactly-integer DCT coefficients, so the
    roundtrip is bit-exact and the oracle recomputes the stats
    closed-form over the 8×8 block grid — a decoder that mis-reads one
    Huffman code, one run length, or one padded block hash-fails.  Same
    parallel plan shape as the PNG/GIF gates."""
    from ..operators.multimodal import (
        decoded_jpeg_stats,
        documents_as_jpeg_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_jpeg_stats(documents_as_jpeg_assets(ids))


MULTIMODAL_JPEG_SQL = """
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 17 AS w,
         6 + doc_id % 13 AS h,
         (6 + doc_id % 17 + 7) // 8 AS nbx
  FROM documents),
cells AS (
  SELECT doc_id, w, h,
         (doc_id * 2654435761 + c) % 256 AS v,
         LEAST(8, h - (c // nbx) * 8) AS ch,
         LEAST(8, w - (c % nbx) * 8) AS cw
  FROM g, UNNEST(range(0, nbx * ((h + 7) // 8))) t(c))
SELECT doc_id AS asset_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       SUM(v * ch * cw) * 1.0 / (w * h) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_px
FROM cells
GROUP BY doc_id, w, h
ORDER BY asset_id
"""


def multimodal_jpeg420_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled color JPEG — the MCU layout real-world
    JPEGs actually ship: every 16×16 MCU interleaves FOUR luma blocks
    with one Cb and one Cr block, the chroma planes are box-downsampled
    2×2 on encode and replication-upsampled on decode, and all six
    blocks per MCU ride separate luma/chroma Huffman tables.  The asset
    rasters are gray-as-color (r=g=b), constant per MCU cell — the
    float-safe family where luma rounds back exactly and chroma is
    exactly 128, so the roundtrip is bit-exact end-to-end and the oracle
    recomputes the per-channel stats closed-form over the 16×16 grid.  A
    decoder that mis-orders the MCU block interleave, mis-sizes a
    subsampled plane, or mis-scatters the upsample hash-fails."""
    from ..operators.multimodal import (
        decode_jpeg,
        decoded_rgb_stats,
        documents_as_jpeg420_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_jpeg420_assets(ids), decode_jpeg)


MULTIMODAL_JPEG420_SQL = """
WITH g AS (
  SELECT doc_id,
         10 + doc_id % 23 AS w,
         10 + doc_id % 19 AS h,
         (10 + doc_id % 23 + 15) // 16 AS nbx
  FROM documents),
cells AS (
  SELECT doc_id, w, h,
         (doc_id * 2654435761 + c) % 256 AS v,
         LEAST(16, h - (c // nbx) * 16) AS ch,
         LEAST(16, w - (c % nbx) * 16) AS cw
  FROM g, UNNEST(range(0, nbx * ((h + 15) // 16))) t(c))
SELECT doc_id AS asset_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       SUM(v * ch * cw) * 1.0 / (w * h) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_r,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_g,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_b
FROM cells
GROUP BY doc_id, w, h
ORDER BY asset_id
"""


def multimodal_jpeg_dri_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restart-interval (DRI/RSTn) JPEG decode end-to-end — the resync
    feature every camera JPEG ships, the last common baseline-JPEG corner
    behind a NotImplementedError until this round: the same 4:2:0
    gray-as-color exact family as multimodal_jpeg420_roundtrip, but every
    blob declares a per-doc restart interval (1 + id % 3 MCUs) and
    carries one to five genuine byte-aligned RSTn markers; the decoder
    must byte-align at each boundary, verify the T.81 modulo-8 marker
    sequence, and reset the DC predictors — a decoder that ignores the
    reset decodes garbage DC levels and hash-fails, one that mis-aligns
    dies in the Huffman tables.  The oracle recomputes the per-channel
    stats closed-form over the 16×16 MCU grid."""
    from ..operators.multimodal import (
        decode_jpeg,
        decoded_rgb_stats,
        documents_as_jpeg_dri_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_rgb_stats(documents_as_jpeg_dri_assets(ids), decode_jpeg)


MULTIMODAL_JPEG_DRI_SQL = """
WITH g AS (
  SELECT doc_id,
         17 + doc_id % 32 AS w,
         17 + doc_id % 16 AS h,
         (17 + doc_id % 32 + 15) // 16 AS nbx
  FROM documents),
cells AS (
  SELECT doc_id, w, h,
         (doc_id * 2654435761 + c) % 256 AS v,
         LEAST(16, h - (c // nbx) * 16) AS ch,
         LEAST(16, w - (c % nbx) * 16) AS cw
  FROM g, UNNEST(range(0, nbx * ((h + 15) // 16))) t(c))
SELECT doc_id AS asset_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       SUM(v * ch * cw) * 1.0 / (w * h) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_r,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_g,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_b
FROM cells
GROUP BY doc_id, w, h
ORDER BY asset_id
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO modality end-to-end — the container composition the codec
    matrix earns for free: documents → genuine AVI/MJPEG clips (real
    RIFF container: hdrl/avih/strh/strf, movi '00dc' chunks, idx1; each
    frame a real DRI-carrying 4:2:0 baseline JPEG of the gray-as-color
    exact family) → one Arrow kernel walks the container strictly from
    bytes, SAMPLES every 2nd frame, and entropy-decodes ONLY the sampled
    frames (unsampled payloads are never touched — the point of frame
    sampling at corpus scale) → integer-exact per-frame channel stats.
    The oracle recomputes the sampled frame set and per-frame sums
    closed-form over the 16×16 MCU grid, so a walker that mis-sizes a
    chunk, drops a frame, or samples the wrong stride hash-fails.  Same
    parallel plan shape as the image gates: blobs born distributed and
    never crossing an exchange."""
    from ..operators.multimodal import (
        decoded_video_frame_stats,
        documents_as_avi_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_video_frame_stats(documents_as_avi_assets(ids))


MULTIMODAL_VIDEO_FRAMES_SQL = """
WITH g AS (
  SELECT doc_id,
         17 + doc_id % 32 AS w,
         17 + doc_id % 16 AS h,
         2 + doc_id % 5 AS n,
         (17 + doc_id % 32 + 15) // 16 AS nbx
  FROM documents),
fr AS (
  SELECT doc_id, w, h, n, nbx, f
  FROM g, UNNEST(range(0, n)) t(f)
  WHERE f % 2 = 0),
cells AS (
  SELECT doc_id, f, n, w, h,
         (doc_id * 2654435761 + f * 131 + c) % 256 AS v,
         LEAST(16, h - (c // nbx) * 16) AS ch,
         LEAST(16, w - (c % nbx) * 16) AS cw
  FROM fr, UNNEST(range(0, nbx * ((h + 15) // 16))) t(c))
SELECT doc_id AS asset_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(n AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_r,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_g,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_b
FROM cells
GROUP BY doc_id, f, n, w, h
ORDER BY asset_id, frame_idx
"""


def multimodal_jpeg_prog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode end-to-end — the last major JPEG family
    behind a NotImplementedError: genuine SOF2 multi-scan streams
    (spectral selection AND successive approximation per T.81 Annex G —
    coarse DC scan at Al=1, two spectral-band AC scans at Al=2, then AC
    and DC refinement scans walking precision to exact), decoded
    strictly from blob bytes by accumulating coefficients across scans
    with EOB-run decoding and correction bits, dequantized and IDCTed at
    EOI.  Block-constant rasters + all-ones quant make the reassembly
    bit-exact, and every AC scan is a pure EOB-run stream — the EOBn
    path no baseline stream can exercise.  The property test pins the
    general case (progressive == baseline pixels for arbitrary rasters
    and quant tables, hypothesis-driven); the oracle recomputes the
    stats closed-form over the block grid.  Same parallel plan shape as
    the other codec gates."""
    from ..operators.multimodal import (
        decoded_jpeg_stats,
        documents_as_jpeg_prog_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_jpeg_stats(documents_as_jpeg_prog_assets(ids))


MULTIMODAL_JPEG_PROG_SQL = """
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 19 AS w,
         6 + doc_id % 11 AS h,
         (6 + doc_id % 19 + 7) // 8 AS nbx
  FROM documents),
cells AS (
  SELECT doc_id, w, h,
         (doc_id * 2654435761 + c) % 256 AS v,
         LEAST(8, h - (c // nbx) * 8) AS ch,
         LEAST(8, w - (c % nbx) * 8) AS cw
  FROM g, UNNEST(range(0, nbx * ((h + 7) // 8))) t(c))
SELECT doc_id AS asset_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       SUM(v * ch * cw) * 1.0 / (w * h) AS mean_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(v * ch * cw) AS BIGINT) AS sum_px
FROM cells
GROUP BY doc_id, w, h
ORDER BY asset_id
"""


def multimodal_gif_anim_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode — transparency, delta frames, disposal
    methods: the last named GIF boundaries, closed in one gate.  Per
    document a genuine GIF89a animation: frame 0 paints the full base
    raster, every later frame is a real 3-column delta band carrying a
    GCE with the transparency index (transparent pixels leave the canvas
    — the base shows through) and its disposal method (odd frames
    persist, even frames are restored to the background color after
    display).  The Arrow kernel LZW-decodes EVERY frame (GIF frames are
    deltas — no skip-decode, unlike MJPEG), composes the viewer-visible
    canvas per frame, samples every 2nd composed frame and emits channel
    sums plus a position-weighted checksum (composition bugs are
    permutation-shaped; bare sums would miss them).  The oracle replays
    base/band/transparency/disposal in closed form per sampled frame, so
    a decoder that drops a transparency mask, mis-places a band, or
    skips a disposal restore hash-fails."""
    from ..operators.multimodal import (
        decoded_gif_anim_stats,
        documents_as_gif_anim_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_gif_anim_stats(documents_as_gif_anim_assets(ids))


# i = -1 never occurs: the background color IS palette[0] (11, 7, 3), so
# the disposal-2 restore is expressible as index 0
MULTIMODAL_GIF_ANIM_SQL = """
WITH g AS (
  SELECT doc_id, 12 + doc_id % 8 AS w, 6 + doc_id % 5 AS h,
         2 + doc_id % 4 AS n
  FROM documents),
fr AS (
  SELECT doc_id, w, h, n, f FROM g, UNNEST(range(0, n)) t(f)
  WHERE f % 2 = 0),
px AS (
  SELECT doc_id, f, n, w, h, p % w AS x, p // w AS y
  FROM fr, UNNEST(range(0, w * h)) t(p)),
cell AS (
  SELECT doc_id, f, n, w, h, x, y,
    CASE
      WHEN x < 3 * (n - 1) AND (x // 3 + 1) <= f THEN
        CASE
          WHEN (x // 3 + 1) < f AND (x // 3 + 1) % 2 = 0
            THEN 0
          WHEN (x + y) % 3 = 0
            THEN (doc_id * 2654435761 + y * w + x) % 15
          ELSE (doc_id * 2654435761 + (x // 3 + 1) * 97 + y * w + x) % 15
        END
      ELSE (doc_id * 2654435761 + y * w + x) % 15
    END AS i
  FROM px),
rgb AS (
  SELECT doc_id, f, n, w, h, x, y,
         (i * 37 + 11) % 256 AS r,
         (i * 59 + 7) % 256 AS gr,
         (i * 83 + 3) % 256 AS b
  FROM cell)
SELECT doc_id AS asset_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(n AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(gr) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM((y * w + x + 1) * (r + gr + b)) AS BIGINT) AS poschk
FROM rgb
GROUP BY doc_id, f, n, w, h
ORDER BY asset_id, frame_idx
"""


def _phash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_hi, sig_lo) dHash signature table — decode + hash fused
    in one Arrow kernel pass over real PNG blobs, materialized once per
    (session, fixture) because the Hamming join consumes it on both sides (a
    diamond: without the checkpoint each branch would re-run the codec)."""
    from ..operators.multimodal import (
        decoded_phash_signatures,
        documents_as_scene_png_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_phash_signatures(documents_as_scene_png_assets(ids))

    return _session_table(spark, sf_dir, "phash_sigs", build)


def _phash_hamming1_pairs(sigs: DataFrame) -> DataFrame:
    """Directed Hamming≤1 signature pairs via the constant 65-probe
    multi-probe equi-join (own signature + all 64 single-bit flips; each
    directed pair matched by exactly one probe, so the output is already
    distinct).  Shared by the phash dedup gate and its recall audit so
    the probe plan cannot drift between them."""
    flips = [
        F.struct(
            F.col("sig_hi").bitwiseXOR(F.lit(1 << j)).alias("ph"),
            F.col("sig_lo").alias("pl"),
        )
        for j in range(32)
    ] + [
        F.struct(
            F.col("sig_hi").alias("ph"),
            F.col("sig_lo").bitwiseXOR(F.lit(1 << j)).alias("pl"),
        )
        for j in range(32)
    ]
    probes = sigs.select(
        F.col("doc_id").alias("doc1"),
        F.explode(
            F.array(
                F.struct(F.col("sig_hi").alias("ph"), F.col("sig_lo").alias("pl")),
                *flips,
            )
        ).alias("probe"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc2"),
        F.col("sig_hi").alias("h2"),
        F.col("sig_lo").alias("l2"),
    )
    return probes.join(
        b,
        (F.col("probe.ph") == F.col("h2"))
        & (F.col("probe.pl") == F.col("l2"))
        & (F.col("doc1") != F.col("doc2")),
    )


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level PERCEPTUAL dedup — the edge between the codec kernels
    and the near-dup family: every document is a crawled copy of one of 64
    scene images (closed-form raster + per-copy block-local retouch,
    ``operators/multimodal.py:_ph_raster``), encoded as a genuine PNG,
    decoded strictly from its bytes, and reduced to a 64-bit difference
    hash (integer gray → exact block sums → 8×8 adjacent comparisons,
    carried as two 32-bit halves so both engines stay in signed 64-bit).
    Near-duplicate images (Hamming ≤ 1) are found with the multi-probe
    trick proven by dedup_simhash_hamming1: each doc emits its signature
    plus all 64 single-bit flips — a fixed 65-row fan-out, constant in
    corpus size — and candidates fall out of ONE hash equi-join on the
    (hi, lo) composite key; no Hamming-distance scan, no all-pairs
    anywhere.  Each directed pair is matched by exactly one probe (the
    base probe iff distance 0, exactly one flip iff distance 1), so the
    join output is already distinct and feeds the per-doc verdict
    aggregate directly.  Verdict: n_near neighbors, canon = min(doc_id
    over the 1-hop neighborhood ∪ self), kept iff canon == doc_id.

    At 100 TB: blobs never cross an exchange (decode+hash fused in the
    scan-side kernel; 3 small ints per image shuffle), the probe fan-out
    is a constant 65, and tolerance k costs C(64,≤k) probes — a
    parameter, not a new plan.  The oracle replays raster → gray → block
    sums → bits → signatures in closed form and checks the pair set by
    brute force, so a decoder or hasher that is off by one pixel
    hash-fails."""
    sigs = _phash_sig_table(spark, sf_dir)
    per = _phash_hamming1_pairs(sigs).groupBy("doc1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near"),
        F.min("doc2").alias("mn"),
    )
    canon = F.least(F.coalesce(F.col("mn"), F.col("doc_id")), F.col("doc_id"))
    return (
        sigs.join(per, sigs["doc_id"] == per["doc1"], "left")
        .select(
            "doc_id",
            "sig_hi",
            "sig_lo",
            F.coalesce(F.col("n_near"), F.lit(0)).cast("bigint").alias("n_near"),
            canon.alias("canon"),
            (canon == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


# Shared closed-form dHash pipeline for the phash-fixture oracles: expects
# a preceding CTE ``d(doc_id, scene, copy, m)`` and yields ``sig(doc_id,
# sig_hi, sig_lo)``.  One definition so the three consumers (phash dedup,
# cross-codec dedup, recall audit) cannot drift.
_PH_SIG_CTES = """px AS (
  SELECT doc_id, m,
         (i // 3) % (9 * m) AS x, (i // 3) // (9 * m) AS y, i % 3 AS c,
         (scene * 2654435761 + i
          + CASE WHEN (i // 3) % (9 * m) < m AND (i // 3) // (9 * m) < m
                 THEN (copy % 4) * 40 ELSE 0 END
          + CASE WHEN (i // 3) % (9 * m) >= 5 * m
                      AND (i // 3) % (9 * m) < 6 * m
                      AND (i // 3) // (9 * m) >= 3 * m
                      AND (i // 3) // (9 * m) < 4 * m
                 THEN ((copy // 4) % 2) * 96 ELSE 0 END) % 256 AS v
  FROM d, UNNEST(range(0, 216 * m * m)) t(i)),
gray AS (
  SELECT doc_id, x // m AS bx, y // m AS by,
         SUM(CASE WHEN c = 1 THEN 2 * v ELSE v END) // 4 AS g
  FROM px GROUP BY doc_id, m, x, y),
bs AS (
  SELECT doc_id, by, bx, SUM(g) AS s FROM gray GROUP BY doc_id, by, bx),
bits AS (
  SELECT a.doc_id, a.by, a.bx, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
  FROM bs a JOIN bs b ON a.doc_id = b.doc_id AND a.by = b.by
                     AND b.bx = a.bx + 1
  WHERE a.bx < 8),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN by < 4
                       THEN bit * (CAST(1 AS BIGINT) << (by * 8 + bx))
                       ELSE 0 END) AS BIGINT) AS sig_hi,
         CAST(SUM(CASE WHEN by >= 4
                       THEN bit * (CAST(1 AS BIGINT) << ((by - 4) * 8 + bx))
                       ELSE 0 END) AS BIGINT) AS sig_lo
  FROM bits GROUP BY doc_id)"""

MULTIMODAL_PHASH_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 64 AS scene, doc_id // 64 AS copy,
         2 + (doc_id % 64) % 2 AS m
  FROM documents),
{_PH_SIG_CTES},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a JOIN sig b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.sig_hi, b.sig_hi))
        + bit_count(xor(a.sig_lo, b.sig_lo)) <= 1),
per AS (SELECT d1, COUNT(*) AS n_near, MIN(d2) AS mn FROM pairs GROUP BY d1)
SELECT s.doc_id, s.sig_hi, s.sig_lo,
       CAST(COALESCE(p.n_near, 0) AS BIGINT) AS n_near,
       LEAST(COALESCE(p.mn, s.doc_id), s.doc_id) AS canon,
       LEAST(COALESCE(p.mn, s.doc_id), s.doc_id) = s.doc_id AS kept
FROM sig s LEFT JOIN per p ON s.doc_id = p.d1
ORDER BY s.doc_id
"""


_PHB_CAP = 512  # band buckets holding more signatures are stoplisted —
                # at corpus scale a hot 16-bit band (flat logos, blank
                # frames) would otherwise pair quadratically; exact-equal
                # clusters are already collapsed by the groupBy dedups


def multimodal_phash_band_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDER-tolerance perceptual image dedup (Hamming ≤ 2) via the
    pigeonhole band index — the upgrade the τ=1 gate's recall audit
    prices out: ``multimodal_phash_dedup`` catches light (one-bit)
    retouches with 65 fixed probes, but the heavy (two-bit) retouch
    level sits at distance 2, and probing C(64,2) flips would cost 2081
    rows per image.  Instead the 64-bit dHash splits into FOUR 16-bit
    bands; any pair within Hamming ≤ 3 must agree exactly on at least
    one band (pigeonhole), so candidates fall out of one equi-join on
    (band_idx, band_val) — a constant 4-row fan-out per image — and one
    exact popcount verify keeps pairs at distance ≤ 2.  Output is the
    per-image VERDICT (how many neighbors at τ≤1 and τ≤2, the canonical
    min-id survivor over the τ≤2 neighborhood, kept flag) — linear in
    the corpus however dense the duplicate clusters, where a pair list
    would grow quadratically with duplication density (measured: the
    10x id-shifted fixture has ~780 copies/scene and 4.8M true pairs).

    At 100 TB: the band index is 4 small ints per image (scan-side
    kernel, no blob crosses an exchange), the join key is a 16-bit value
    namespaced by band position, and the ``_PHB_CAP`` stoplist bounds
    hot buckets in-plan.  Tolerance scales by band count (k+1 bands
    catch Hamming ≤ k exactly) — a parameter, not a new plan.  The
    oracle replays signatures closed-form and the same band/stoplist/
    verify pipeline.

    The stoplist is visible, not silent: a duplicate cluster larger than
    ``_PHB_CAP`` caps all four of ITS OWN bands, so its members (and
    their τ≤2 near-misses) would report n_near=0 / kept=true exactly
    like genuinely unique images.  Every row therefore carries
    ``n_bands_live`` (how many of its 4 bands actually participated in
    candidate generation) and ``saturated`` (zero live bands — the
    verdict is blind, route the image to an escalation pass), so a
    consumer can tell "no neighbors" from "bucket capped"."""
    sigs = _phash_sig_table(spark, sf_dir)
    band_val = (
        F.when(F.col("b") == 0, F.expr("sig_hi div 65536 % 65536"))
        .when(F.col("b") == 1, F.col("sig_hi") % 65536)
        .when(F.col("b") == 2, F.expr("sig_lo div 65536 % 65536"))
        .otherwise(F.col("sig_lo") % 65536)
    )
    bands = (
        sigs.select(
            "doc_id",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("b"),
            "sig_hi", "sig_lo",
        )
        .select("doc_id", "b", band_val.alias("bv"))
    )
    # band-occupancy stoplist as a (b, bv)-partitioned window count +
    # filter: one exchange of the band table instead of a second full
    # evaluation of it on the anti-join's build side (Catalyst does not
    # share subtrees), and the surviving rows stay partitioned by
    # (b, bv) — exactly the key the candidate self-join needs, so the
    # join below adds no further exchange (guide §2.4)
    wband = Window.partitionBy("b", "bv")
    ok = (
        bands.withColumn("nb", F.count(F.lit(1)).over(wband))
        .filter(F.col("nb") <= _PHB_CAP)
        .select("doc_id", "b", "bv")
    )
    live = ok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands_live")
    )
    cand = (
        ok.select(F.col("doc_id").alias("doc1"), "b", "bv")
        .join(ok.select(F.col("doc_id").alias("doc2"), "b", "bv"),
              ["b", "bv"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("doc1"),
                     F.col("sig_hi").alias("h1"), F.col("sig_lo").alias("l1"))
    s2 = sigs.select(F.col("doc_id").alias("doc2"),
                     F.col("sig_hi").alias("h2"), F.col("sig_lo").alias("l2"))
    hamming = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        + F.bit_count(F.col("l1").bitwiseXOR(F.col("l2")))
    )
    pairs = (
        cand.join(s1, "doc1").join(s2, "doc2")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 2)
        .select("doc1", "doc2", "hamming")
    )
    # both directions in ONE pass over the pair stream (explode of the
    # two orientations) — the old self-union re-evaluated the whole
    # cand+verify join chain a second time (Catalyst shares no subtrees)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc1").alias("d"), F.col("doc2").alias("o")),
                F.struct(F.col("doc2").alias("d"), F.col("doc1").alias("o")),
            )
        ).alias("e"),
        "hamming",
    ).select(F.col("e.d").alias("doc1"), F.col("e.o").alias("doc2"), "hamming")
    per = directed.groupBy("doc1").agg(
        F.sum(F.when(F.col("hamming") <= 1, 1).otherwise(0))
        .cast("bigint").alias("n_near1"),
        F.count(F.lit(1)).cast("bigint").alias("n_near2"),
        F.min("doc2").alias("mn"),
    )
    canon = F.least(F.coalesce(F.col("mn"), F.col("doc_id")), F.col("doc_id"))
    nbl = F.coalesce(F.col("n_bands_live"), F.lit(0)).cast("int")
    return (
        sigs.join(per, sigs["doc_id"] == per["doc1"], "left")
        .join(live, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_near1"), F.lit(0))
            .cast("bigint").alias("n_near1"),
            F.coalesce(F.col("n_near2"), F.lit(0))
            .cast("bigint").alias("n_near2"),
            nbl.alias("n_bands_live"),
            (nbl == F.lit(0)).alias("saturated"),
            canon.alias("canon"),
            (canon == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_PHASH_BAND_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 64 AS scene, doc_id // 64 AS copy,
         2 + (doc_id % 64) % 2 AS m
  FROM documents),
{_PH_SIG_CTES},
bands AS (
  SELECT doc_id, b,
         CASE b WHEN 0 THEN (sig_hi // 65536) % 65536
                WHEN 1 THEN sig_hi % 65536
                WHEN 2 THEN (sig_lo // 65536) % 65536
                ELSE sig_lo % 65536 END AS bv
  FROM sig, UNNEST(range(0, 4)) t(b)),
hot AS (
  SELECT b, bv FROM bands GROUP BY b, bv HAVING COUNT(*) > {_PHB_CAP}),
ok AS (
  SELECT a.doc_id, a.b, a.bv FROM bands a
  ANTI JOIN hot h ON a.b = h.b AND a.bv = h.bv),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, o.doc_id AS doc2
  FROM ok a JOIN ok o ON a.b = o.b AND a.bv = o.bv AND a.doc_id <> o.doc_id),
pairs AS (
  SELECT c.doc1, c.doc2,
         bit_count(xor(s1.sig_hi, s2.sig_hi))
         + bit_count(xor(s1.sig_lo, s2.sig_lo)) AS hamming
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.doc1
  JOIN sig s2 ON s2.doc_id = c.doc2
  WHERE bit_count(xor(s1.sig_hi, s2.sig_hi))
        + bit_count(xor(s1.sig_lo, s2.sig_lo)) <= 2),
per AS (
  SELECT doc1,
         SUM(CASE WHEN hamming <= 1 THEN 1 ELSE 0 END) AS n_near1,
         COUNT(*) AS n_near2,
         MIN(doc2) AS mn
  FROM pairs GROUP BY doc1),
live AS (
  SELECT doc_id, COUNT(*) AS nb FROM ok GROUP BY doc_id)
SELECT s.doc_id,
       CAST(COALESCE(p.n_near1, 0) AS BIGINT) AS n_near1,
       CAST(COALESCE(p.n_near2, 0) AS BIGINT) AS n_near2,
       CAST(COALESCE(lv.nb, 0) AS INTEGER) AS n_bands_live,
       COALESCE(lv.nb, 0) = 0 AS saturated,
       LEAST(COALESCE(p.mn, s.doc_id), s.doc_id) AS canon,
       LEAST(COALESCE(p.mn, s.doc_id), s.doc_id) = s.doc_id AS kept
FROM sig s LEFT JOIN per p ON s.doc_id = p.doc1
LEFT JOIN live lv ON s.doc_id = lv.doc_id
ORDER BY s.doc_id
"""


def multimodal_cross_codec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CODEC perceptual dedup — the match byte-level dedup can never
    make: every document is a crawled copy of one of 64 scene images
    (the multimodal_phash_dedup raster family), but even doc_ids arrive
    as genuine PNGs and odd doc_ids as 24-bit BMPs.  Both codecs are
    lossless, so copies of one scene decode to identical rasters; one
    Arrow kernel dispatches strictly on each blob's MAGIC BYTES (the mime
    column is ignored — content-type headers lie), decodes, and emits the
    64-bit dHash, and ONE hash aggregation on the signature then groups
    duplicates across container formats.  Verdict per doc: how many
    copies of its signature exist under each codec, the canonical
    (min-id) survivor, and whether its duplicate set actually spans
    codecs.

    At 100 TB this is the production shape for heterogeneous image
    crawls: blobs never cross an exchange (decode + hash fused in the
    scan-side kernel, 3 small ints per image shuffle), and the dedup
    itself is an exact groupBy on a 64-bit key — map-side combinable, no
    all-pairs, no similarity join.  The oracle replays raster → gray →
    block sums → signature closed-form per codec side and must land on
    byte-identical groups."""
    from ..operators.multimodal import (
        decoded_codec_signatures,
        documents_as_mixed_codec_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_codec_signatures(documents_as_mixed_codec_assets(ids))

    # the signature table feeds both sides of the group join (a diamond:
    # without materialization each branch re-runs the codec kernel)
    sigs = _session_table(spark, sf_dir, "xcodec_sigs", build)
    grp = sigs.groupBy("sig_hi", "sig_lo").agg(
        F.sum(F.when(F.col("codec") == "png", 1).otherwise(0))
        .cast("bigint").alias("n_png"),
        F.sum(F.when(F.col("codec") == "bmp", 1).otherwise(0))
        .cast("bigint").alias("n_bmp"),
        F.min("doc_id").alias("canon"),
    )
    return (
        sigs.join(grp, ["sig_hi", "sig_lo"])
        .select(
            "doc_id", "codec", "sig_hi", "sig_lo", "n_png", "n_bmp", "canon",
            (F.col("canon") == F.col("doc_id")).alias("kept"),
            ((F.col("n_png") > 0) & (F.col("n_bmp") > 0)).alias("cross_codec"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_CROSS_CODEC_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 64 AS scene, doc_id // 64 AS copy,
         2 + (doc_id % 64) % 2 AS m,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS codec
  FROM documents),
{_PH_SIG_CTES},
sc AS (
  SELECT s.doc_id, d.codec, s.sig_hi, s.sig_lo
  FROM sig s JOIN d USING (doc_id)),
grp AS (
  SELECT sig_hi, sig_lo,
         CAST(SUM(CASE WHEN codec = 'png' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_png,
         CAST(SUM(CASE WHEN codec = 'bmp' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bmp,
         MIN(doc_id) AS canon
  FROM sc GROUP BY sig_hi, sig_lo)
SELECT sc.doc_id, sc.codec, sc.sig_hi, sc.sig_lo,
       g.n_png, g.n_bmp, g.canon,
       g.canon = sc.doc_id AS kept,
       g.n_png > 0 AND g.n_bmp > 0 AS cross_codec
FROM sc JOIN grp g ON sc.sig_hi = g.sig_hi AND sc.sig_lo = g.sig_lo
ORDER BY sc.doc_id
"""


def multimodal_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO fingerprint dedup — the audio edge of the perceptual-dedup
    family: every document is a crawled copy of one of 40 recordings,
    re-encoded at a per-copy integer gain (the one thing real mirrored
    audio most often differs by), stored as a genuine RIFF/WAVE blob.
    One Arrow kernel walks the chunk list, decodes the PCM16 stream, and
    computes a 32-bit Haitsma–Kalker-style fingerprint (exact integer
    frame energies, bit f = e[f] > e[f+1]) that is PROVABLY gain-
    invariant: a uniform gain a multiplies every energy by a² > 0 and
    preserves every comparison.  Dedup is then an exact groupBy on the
    fingerprint — copies of one recording collapse across gains with no
    similarity join anywhere.

    At 100 TB: clips never cross an exchange (decode + fingerprint fused
    scan-side, 2 ints per clip shuffle); the group step is map-side
    combinable on a 32-bit key.  The oracle replays stream → energies →
    bits → fingerprint closed-form INCLUDING the gain, so the two
    engines agree only if the fingerprint really cancels it."""
    from ..operators.multimodal import (
        decoded_audio_fingerprints,
        documents_as_tone_wav_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_audio_fingerprints(documents_as_tone_wav_assets(ids))

    fps = _session_table(spark, sf_dir, "audio_fps", build)
    grp = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        F.min("doc_id").alias("canon"),
    )
    return (
        fps.join(grp, "fp")
        .select(
            "doc_id", "fp", "group_n", "canon",
            (F.col("canon") == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_AUDIO_FP_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 40 AS scene, 1 + (doc_id // 40) % 3 AS amp
  FROM documents),
sq AS (
  SELECT doc_id, i // 8 AS f,
         amp * amp
         * ((scene * (9176 + i) + i * i * 7919) % 255 - 127)
         * ((scene * (9176 + i) + i * i * 7919) % 255 - 127) AS s2
  FROM d, UNNEST(range(0, 264)) t(i)),
e AS (SELECT doc_id, f, SUM(s2) AS e FROM sq GROUP BY doc_id, f),
bits AS (
  SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 32),
fp AS (
  SELECT doc_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << f)) AS BIGINT) AS fp
  FROM bits GROUP BY doc_id),
grp AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS group_n, MIN(doc_id) AS canon
  FROM fp GROUP BY fp)
SELECT f.doc_id, f.fp, g.group_n, g.canon, g.canon = f.doc_id AS kept
FROM fp f JOIN grp g USING (fp)
ORDER BY f.doc_id
"""


_ACD_W = 16          # bits per audio shingle (consecutive comparison bits)
_ACD_TH = 0.75       # containment threshold: offsets up to 3 frames keep
                     # >= 13/16 of winnowed fingerprints by construction
_CLIP_FP_CAP = 64  # winnowed fingerprints held by more clips are stoplisted
                   # (boilerplate intros/outros) before pairing — the same
                   # hot-key cap the text LSH joins carry in-plan; shared by
                   # the audio and video clip-dedup gates


def _capped_fps(fps0: DataFrame) -> DataFrame:
    """Apply the ``_CLIP_FP_CAP`` hot-fingerprint stoplist to a
    (doc_id, fp) frame — shared by the audio and video clip gates.

    Spelled as a fingerprint-partitioned window count + filter rather
    than the old groupBy("fp") + broadcast anti-join: the occupancy and
    the stoplist decision ride ONE exchange of the frame instead of a
    second full evaluation of the fingerprint derivation (Catalyst does
    not share subtrees, so the anti-join's build side re-ran the whole
    shingle/winnow chain — guide §2.4 'remove shuffles outright')."""
    w = Window.partitionBy("fp")
    return (
        fps0.withColumn("nf", F.count(F.lit(1)).over(w))
        .filter(F.col("nf") <= _CLIP_FP_CAP)
        .drop("nf")
    )


def _fp_containment_pairs(fps: DataFrame, dup_pred) -> DataFrame:
    """Shared containment-verdict tail over a capped (doc_id, fp)
    fingerprint frame: per-clip fingerprint counts, fingerprint
    equi-join (doc1 < doc2), shared counts, exact containment, and the
    gate-specific ``dup_pred(containment, n_shared, n1, n2)`` verdict —
    ONE implementation for the audio and video clip-dedup gates so a
    stoplist or threshold fix cannot drift between them.

    The per-clip count is a doc-partitioned window column carried INTO
    the pair join (n1/n2 are functionally dependent on doc1/doc2, so
    grouping by them with the pair changes nothing), replacing the old
    separate groupBy("doc_id") aggregate plus two post-aggregation
    joins — that shape evaluated the capped-fingerprint subtree three
    times and ran two extra join stages (guide §2.4)."""
    wdoc = Window.partitionBy("doc_id")
    fpsn = fps.withColumn("nfp", F.count(F.lit(1)).over(wdoc))
    pairs = (
        fpsn.select(F.col("doc_id").alias("doc1"),
                    F.col("nfp").alias("n1"), "fp")
        .join(fpsn.select(F.col("doc_id").alias("doc2"),
                          F.col("nfp").alias("n2"), "fp"), "fp")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    containment = (
        F.col("n_shared").cast("double")
        / F.least(F.col("n1"), F.col("n2")).cast("double")
    )
    return (
        pairs.select(
            "doc1", "doc2",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            containment.alias("containment"),
            dup_pred(containment, F.col("n_shared"),
                     F.col("n1"), F.col("n2")).alias("dup"),
        )
        .orderBy("doc1", "doc2")
    )


def _fp_containment_sql_tail(dup_sql: str) -> str:
    """Oracle mirror of ``_fp_containment_pairs``: per/pairs/verdict CTEs
    over an existing ``fps(doc_id, fp)`` CTE; ``dup_sql`` is the gate's
    dup predicate over (n_shared, nmin) spelled in SQL."""
    return f"""per AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT p.doc1, p.doc2,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(x.nfp AS BIGINT) AS n1,
       CAST(y.nfp AS BIGINT) AS n2,
       CAST(p.n_shared AS DOUBLE)
         / CAST(LEAST(x.nfp, y.nfp) AS DOUBLE) AS containment,
       {dup_sql} AS dup
FROM pairs p
JOIN per x ON x.doc_id = p.doc1
JOIN per y ON y.doc_id = p.doc2
ORDER BY doc1, doc2
"""


def multimodal_audio_clip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SHIFT-tolerant audio near-dup — the temporal layer for the
    audio modality, completing the trio (images: τ=2 bands, video:
    frame-sequence winnowing): re-posted clips differ by a lead-in trim
    and a gain, which breaks ``multimodal_audio_fp_dedup``'s whole-clip
    fingerprint (every bit position shifts).  Each clip's gain-invariant
    frame-comparison BIT SEQUENCE (``decoded_audio_frame_bits`` — one
    Arrow kernel, 32 ints/clip) is shingled into {w}-bit windows, hashed,
    and window-2 winnowed exactly like the video clips; clips sharing a
    fingerprint pair up via one equi-join under the hot-fingerprint
    stoplist, and the verdict is exact containment ≥ {th} (a copy
    trimmed by k ≤ 3 frames shares 16-k of 16 winnow windows by
    construction, so true shifted copies clear the threshold and random
    collisions — one window of 16 — land at 1/16).

    At 100 TB: shingle + winnow are per-clip array expressions (a clip
    never crosses an exchange), the pair join is a fingerprint equi-join
    — no alignment search, no cross-correlation, no all-pairs.  The
    ``_CLIP_FP_CAP`` stoplist is load-bearing here: on the 10x id-shifted
    sweep fixture (~1,250 copies per master — a pathological 25%-dup
    corpus) every fingerprint goes hot and the gate returns zero pairs
    instead of enumerating ~31M — mega-clusters are a cluster-level
    problem (exact-fp groupBy + election, ``multimodal_audio_fp_dedup``'s
    shape), not a pair-list one.  The oracle replays stream → energies →
    bits → shingles → winnow closed form INCLUDING the per-copy offset
    and gain, so a kernel that mis-frames by one sample hash-fails."""
    from ..operators.multimodal import (
        decoded_audio_frame_bits,
        documents_as_shifted_wav_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_audio_frame_bits(documents_as_shifted_wav_assets(ids))

    bits = _session_table(spark, sf_dir, "audio_frame_bits", build)
    nsh = 32 - _ACD_W + 1  # shingles per clip (17)
    barr = bits.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("f", "bit"))),
            lambda s: s["bit"],
        ).alias("b")
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.lit(nsh - 1)),
        lambda f: hashing.md5_int(
            F.concat_ws(
                "",
                F.transform(F.slice(F.col("b"), f + 1, _ACD_W),
                            lambda x: x.cast("string")),
            )
        ),
    )
    wn = F.transform(
        F.sequence(F.lit(0), F.lit(nsh - 2)),
        lambda f: F.least(
            F.element_at(F.col("sh"), f + 1),
            F.element_at(F.col("sh"), f + 2),
        ),
    )
    fps0 = (
        barr.withColumn("sh", sh)
        .select("doc_id", F.explode(F.array_distinct(wn)).alias("fp"))
    )
    return _fp_containment_pairs(
        _capped_fps(fps0),
        lambda containment, *_: containment >= F.lit(_ACD_TH),
    )


multimodal_audio_clip_dedup.__doc__ = (
    multimodal_audio_clip_dedup.__doc__ or ""
).format(w=_ACD_W, th=_ACD_TH)


def _audio_clip_sql() -> str:
    nsh = 32 - _ACD_W + 1
    shingle = hashing.md5_int_sql(
        f"array_to_string(list_slice(b, f + 1, f + {_ACD_W}), '')"
    )
    return f"""
WITH d AS (
  SELECT doc_id, doc_id % 40 AS scene, doc_id // 40 AS copy,
         1 + (doc_id // 40) % 3 AS amp,
         ((doc_id // 40) % 4) * 8 AS off
  FROM documents),
sq AS (
  -- amp is carried INTO the energies (matching the decoded samples) so
  -- the oracle genuinely exercises the gain-cancellation property the
  -- comparison bits claim, instead of assuming it
  SELECT doc_id, (i - off) // 8 AS f,
         amp * amp
         * ((scene * (9176 + i) + i * i * 7919) % 255 - 127)
         * ((scene * (9176 + i) + i * i * 7919) % 255 - 127) AS s2
  FROM d, UNNEST(range(off, off + 264)) t(i)),
e AS (SELECT doc_id, f, SUM(s2) AS e FROM sq GROUP BY doc_id, f),
bits AS (
  SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 32),
bl AS (SELECT doc_id, list(bit ORDER BY f) AS b FROM bits GROUP BY doc_id),
sh AS (
  SELECT doc_id, f, {shingle} AS hh
  FROM bl, UNNEST(range(0, {nsh})) t(f)),
win AS (
  SELECT doc_id, hh,
         LEAD(hh) OVER (PARTITION BY doc_id ORDER BY f) AS nhh
  FROM sh),
fps0 AS (
  SELECT DISTINCT doc_id, LEAST(hh, nhh) AS fp
  FROM win WHERE nhh IS NOT NULL),
hotfp AS (
  SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) > {_CLIP_FP_CAP}),
fps AS (
  SELECT a.doc_id, a.fp FROM fps0 a ANTI JOIN hotfp h ON a.fp = h.fp),
{_fp_containment_sql_tail(
    f"CAST(p.n_shared AS DOUBLE) / CAST(LEAST(x.nfp, y.nfp) AS DOUBLE) >= {_ACD_TH}"
)}"""


MULTIMODAL_AUDIO_CLIP_DEDUP_SQL = _audio_clip_sql()


def _video_frame_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame block-mean signature table (doc_id, frame_idx, width,
    height, sig1, sig2), every AVI/MJPEG frame entropy-decoded in one
    fused Arrow kernel scan — materialized once per (session, fixture) and
    shared by the frame-level and clip-level video dedup gates."""
    from ..operators.multimodal import (
        decoded_video_frame_signatures,
        documents_as_avi_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_video_frame_signatures(documents_as_avi_assets(ids))

    return _session_table(spark, sf_dir, "video_frame_sigs", build)


def multimodal_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO frame-level dedup — the video edge of the perceptual-dedup
    family (images got dHash, audio got the energy fingerprint; this is
    the same move for clips): every document's AVI/MJPEG clip is walked
    strictly from its container bytes, EVERY frame entropy-decoded
    (frame dedup cannot sample — a duplicate hides in any frame) and
    reduced to its 16×16 block-mean grid, folded into two integer
    signatures (position-weighted sum and magnitude sum).  Duplicate
    frames ACROSS clips then fall out of one exact groupBy on
    (dims, sig1, sig2) — the shape video pipelines use to cut recycled
    footage before training.  Verdict per frame: group size, the
    canonical (min (doc, frame)) occurrence, kept iff canonical.

    At 100 TB: clips never cross an exchange (walk + decode + signature
    fused scan-side; 5 small ints per frame shuffle), and dedup is a
    map-side-combinable aggregation on a fixed-width key — no
    all-pairs, no similarity join.  The oracle replays the per-frame
    MCU grid closed-form, so a walker that drops a frame or a decoder
    that's off by one pixel hash-fails."""
    sigs = _video_frame_sig_table(spark, sf_dir)
    grp = sigs.groupBy("width", "height", "sig1", "sig2").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        F.min(F.col("doc_id") * 16 + F.col("frame_idx")).alias("ck"),
    )
    key = F.col("doc_id") * 16 + F.col("frame_idx")
    return (
        sigs.join(grp, ["width", "height", "sig1", "sig2"])
        .select(
            "doc_id", "frame_idx", "width", "height", "sig1", "sig2",
            "group_n",
            F.expr("ck div 16").alias("canon_doc"),
            (F.col("ck") % 16).cast("int").alias("canon_frame"),
            (key == F.col("ck")).alias("kept"),
        )
        .orderBy("doc_id", "frame_idx")
    )


MULTIMODAL_VIDEO_FRAME_DEDUP_SQL = """
WITH g AS (
  SELECT doc_id,
         17 + doc_id % 32 AS w,
         17 + doc_id % 16 AS h,
         2 + doc_id % 5 AS n,
         (17 + doc_id % 32 + 15) // 16 AS nbx
  FROM documents),
fr AS (
  SELECT doc_id, w, h, n, nbx, f FROM g, UNNEST(range(0, n)) t(f)),
cells AS (
  SELECT doc_id, f, w, h, c,
         (doc_id * 2654435761 + f * 131 + c) % 256 AS v
  FROM fr, UNNEST(range(0, nbx * ((h + 15) // 16))) t(c)),
sig AS (
  SELECT doc_id, f, w, h,
         CAST(SUM(v * (c + 1)) AS BIGINT) AS sig1,
         CAST(SUM(v * v) AS BIGINT) AS sig2
  FROM cells GROUP BY doc_id, f, w, h),
grp AS (
  SELECT w, h, sig1, sig2,
         CAST(COUNT(*) AS BIGINT) AS group_n,
         MIN(doc_id * 16 + f) AS ck
  FROM sig GROUP BY w, h, sig1, sig2)
SELECT s.doc_id,
       CAST(s.f AS INTEGER) AS frame_idx,
       CAST(s.w AS INTEGER) AS width,
       CAST(s.h AS INTEGER) AS height,
       s.sig1, s.sig2, g.group_n,
       g.ck // 16 AS canon_doc,
       CAST(g.ck % 16 AS INTEGER) AS canon_frame,
       s.doc_id * 16 + s.f = g.ck AS kept
FROM sig s JOIN grp g
  ON s.w = g.w AND s.h = g.h AND s.sig1 = g.sig1 AND s.sig2 = g.sig2
ORDER BY s.doc_id, frame_idx
"""


def _video_clip_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip winnowed fingerprint set (doc_id, fp) — consecutive-frame
    2-gram shingles over the shared frame-signature table, hashed, then
    window-2 winnowed with single-shingle clips keeping their one hash,
    hot fingerprints (> ``_CLIP_FP_CAP`` clips) stoplisted.  Shared by
    the clip-dedup gate and its recall audit so the audit measures the
    deployed plan."""
    sigs = _video_frame_sig_table(spark, sf_dir)
    wd = Window.partitionBy("doc_id").orderBy("frame_idx")
    sh = (
        sigs.select("doc_id", "frame_idx", "width", "height", "sig1", "sig2")
        .withColumn("nsig1", F.lead("sig1").over(wd))
        .withColumn("nsig2", F.lead("sig2").over(wd))
        .filter(F.col("nsig1").isNotNull())
        .withColumn(
            "hh",
            hashing.md5_int(
                F.concat_ws(
                    "_",
                    F.col("width"), F.col("height"),
                    F.col("sig1"), F.col("sig2"),
                    F.col("nsig1"), F.col("nsig2"),
                )
            ),
        )
    )
    # winnow W=2: keep min of each adjacent shingle pair; a single-shingle
    # clip keeps its one hash (otherwise 2-frame clips would vanish)
    fp = (
        F.when(F.col("nhh").isNotNull(), F.least(F.col("hh"), F.col("nhh")))
        .when(F.col("m") == 1, F.col("hh"))
    )
    fps0 = (
        sh.withColumn("nhh", F.lead("hh").over(wd))
        .withColumn("m", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("fp", fp)
        .filter(F.col("fp").isNotNull())
        .select("doc_id", "fp")
        .distinct()
    )
    return _capped_fps(fps0)


def multimodal_video_clip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-level video near-dup — the temporal layer over
    ``multimodal_video_frame_dedup``: identical frames are caught there,
    but real recycled footage is the same frame SEQUENCE re-cut to a
    different length, which no per-frame groupBy can see.  Each clip's
    decoded frame-signature sequence (shared materialized table) is
    shingled into consecutive-frame 2-grams, hashed, and WINNOWED
    (window-2 minimum — ``doc_winnow``'s scheme applied to frames): any
    shared run of 3+ frames is guaranteed a shared fingerprint, and the
    fingerprint count drops ~2x.  Clips sharing a fingerprint become
    candidate pairs via one equi-join; the verdict is exact CONTAINMENT
    (shared / smaller fingerprint set — Jaccard punishes honest
    truncations, containment is 1.0 for a clip that is a cut of
    another).  ``dup`` stays integer-exact: shared == min(n1, n2).

    Winnowing's guarantee is shared runs of >= W+1 = 3 frames; the
    fixture's 2-frame cuts sit below it, so measured recall on the
    doc-id-arithmetic ground truth is 205/244 same-footage pairs at
    sf0.01 with precision 1.0 — production clips run thousands of
    frames, far above the guarantee threshold.

    At 100 TB: shingle + winnow are per-clip windows (a clip never
    crosses an exchange), the pair join is on a fingerprint key with the
    ``_CLIP_FP_CAP`` stoplist bounding any hot bucket in-plan, and the
    per-clip fingerprint count scales with frames/clip, not corpus size
    — no all-pairs, no similarity join.  The oracle replays the decoded
    MCU grid, the shingle hash, and the winnow closed-form, so a walker
    that drops a frame or a winnow off by one window hash-fails."""
    return _fp_containment_pairs(
        _video_clip_fps(spark, sf_dir),
        # a clip that is a CUT of another shares the smaller set exactly:
        # integer-exact dup rule, no float threshold needed
        lambda _c, n_shared, n1, n2: n_shared == F.least(n1, n2),
    )


# the fps CTE chain (decoded grid -> shingle -> winnow -> stoplist) is
# shared by the clip-dedup oracle and its recall-audit oracle
_VIDEO_CLIP_FPS_CTES = f"""g AS (
  SELECT doc_id,
         17 + doc_id % 32 AS w,
         17 + doc_id % 16 AS h,
         2 + doc_id % 5 AS n,
         (17 + doc_id % 32 + 15) // 16 AS nbx
  FROM documents),
fr AS (
  SELECT doc_id, w, h, n, nbx, f FROM g, UNNEST(range(0, n)) t(f)),
cells AS (
  SELECT doc_id, f, w, h, c,
         (doc_id * 2654435761 + f * 131 + c) % 256 AS v
  FROM fr, UNNEST(range(0, nbx * ((h + 15) // 16))) t(c)),
sig AS (
  SELECT doc_id, f, w, h,
         CAST(SUM(v * (c + 1)) AS BIGINT) AS sig1,
         CAST(SUM(v * v) AS BIGINT) AS sig2
  FROM cells GROUP BY doc_id, f, w, h),
led AS (
  SELECT doc_id, f, w, h, sig1, sig2,
         LEAD(sig1) OVER (PARTITION BY doc_id ORDER BY f) AS nsig1,
         LEAD(sig2) OVER (PARTITION BY doc_id ORDER BY f) AS nsig2
  FROM sig),
sh AS (
  SELECT doc_id, f,
         {hashing.md5_int_sql("concat_ws('_', w, h, sig1, sig2, nsig1, nsig2)")} AS hh
  FROM led WHERE nsig1 IS NOT NULL),
win AS (
  SELECT doc_id, hh,
         LEAD(hh) OVER (PARTITION BY doc_id ORDER BY f) AS nhh,
         COUNT(*) OVER (PARTITION BY doc_id) AS m
  FROM sh),
fps0 AS (
  SELECT DISTINCT doc_id,
         CASE WHEN nhh IS NOT NULL THEN LEAST(hh, nhh)
              WHEN m = 1 THEN hh END AS fp
  FROM win WHERE nhh IS NOT NULL OR m = 1),
fps AS (
  SELECT doc_id, fp FROM fps0
  WHERE fp NOT IN (SELECT fp FROM fps0 GROUP BY fp
                   HAVING COUNT(*) > {_CLIP_FP_CAP}))"""


MULTIMODAL_VIDEO_CLIP_DEDUP_SQL = f"""
WITH {_VIDEO_CLIP_FPS_CTES},
{_fp_containment_sql_tail("p.n_shared = LEAST(x.nfp, y.nfp)")}"""


def multimodal_video_clip_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY LOOP for the temporal video dedup, measured in-plan — the
    same move ``multimodal_phash_recall_audit`` makes for images: ground
    truth is pure doc-id arithmetic (clips with the same id mod 256 are
    the same footage — same dimensions, identical frames up to the
    shorter cut), so the audit joins the EXACT winnowed-fingerprint
    candidate pairs the dedup gate runs (shared ``_video_clip_fps``)
    against that truth and reports: overall same-footage recall,
    DESIGNED-TOLERANCE recall over the pairs the winnow scheme
    guarantees (both clips >= 3 frames → a shared 2-shingle window must
    survive, modulo the hot-fingerprint stoplist, which never trips on
    the fixture), and precision (cross-footage fingerprint collisions).
    One summary row; costs what the dedup costs plus two arithmetic
    aggregates over doc ids."""
    fps = _video_clip_fps(spark, sf_dir)
    cand = (
        fps.select(F.col("doc_id").alias("doc1"), "fp")
        .join(fps.select(F.col("doc_id").alias("doc2"), "fp"), "fp")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    same = (F.col("doc1") % 256) == (F.col("doc2") % 256)
    frames = lambda c: F.lit(2) + c % 5  # noqa: E731 — the fixture arithmetic
    guaranteed = same & (
        F.least(frames(F.col("doc1")), frames(F.col("doc2"))) >= 3
    )
    found = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs"),
        F.sum(F.when(same, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(guaranteed, 1).otherwise(0))
        .cast("bigint").alias("tp_guaranteed"),
    )
    (docs,) = _t(spark, sf_dir, "documents")
    keys = docs.select(
        (F.col("doc_id") % 256).alias("r"),
        (frames(F.col("doc_id")) >= 3).cast("int").alias("long_enough"),
    )
    truth = (
        keys.groupBy("r")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("long_enough").alias("k3"),
        )
        .agg(
            F.sum(F.col("k") * (F.col("k") - 1) / 2)
            .cast("bigint").alias("n_true_pairs"),
            F.sum(F.col("k3") * (F.col("k3") - 1) / 2)
            .cast("bigint").alias("n_guaranteed_pairs"),
        )
    )
    return found.crossJoin(truth).select(
        "n_true_pairs", "n_guaranteed_pairs", "n_cand_pairs",
        "tp", "tp_guaranteed",
        (F.col("tp") * 1.0 / F.col("n_true_pairs")).alias("recall"),
        (F.col("tp_guaranteed") * 1.0 / F.col("n_guaranteed_pairs"))
        .alias("guaranteed_recall"),
        (F.col("tp") * 1.0 / F.col("n_cand_pairs")).alias("precision"),
    )


MULTIMODAL_VIDEO_CLIP_RECALL_AUDIT_SQL = f"""
WITH {_VIDEO_CLIP_FPS_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
found AS (
  SELECT COUNT(*) AS n_cand_pairs,
         SUM(CASE WHEN doc1 % 256 = doc2 % 256 THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN doc1 % 256 = doc2 % 256
                   AND LEAST(2 + doc1 % 5, 2 + doc2 % 5) >= 3
              THEN 1 ELSE 0 END) AS tp_guaranteed
  FROM cand),
truth AS (
  SELECT CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_true_pairs,
         CAST(SUM(k3 * (k3 - 1) / 2) AS BIGINT) AS n_guaranteed_pairs
  FROM (
    SELECT doc_id % 256 AS r, COUNT(*) AS k,
           SUM(CASE WHEN 2 + doc_id % 5 >= 3 THEN 1 ELSE 0 END) AS k3
    FROM documents GROUP BY r))
SELECT t.n_true_pairs, t.n_guaranteed_pairs,
       CAST(f.n_cand_pairs AS BIGINT) AS n_cand_pairs,
       CAST(f.tp AS BIGINT) AS tp,
       CAST(f.tp_guaranteed AS BIGINT) AS tp_guaranteed,
       f.tp * 1.0 / t.n_true_pairs AS recall,
       f.tp_guaranteed * 1.0 / t.n_guaranteed_pairs AS guaranteed_recall,
       f.tp * 1.0 / f.n_cand_pairs AS precision
FROM found f, truth t
"""


def multimodal_phash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY LOOP for the image perceptual dedup — the same move
    `dedup_lsh_recall_audit` makes for text, measured in-plan: every
    document is a crawled copy of one of 64 scenes (the phash fixture),
    so GROUND TRUTH near-duplicate pairs are pure doc-id arithmetic —
    same scene; 'lightly retouched' pairs additionally share the heavy
    (two-bit) retouch level, differing only in the one-bit corner
    retouch.  The audit joins the multi-probe Hamming≤1 candidate pairs
    (the EXACT plan the dedup gate runs, shared helper) against that
    arithmetic truth and reports: designed-tolerance recall (light pairs
    found / light pairs — the fixture guarantees 1.0), overall same-scene
    recall (heavy retouches are OUTSIDE τ=1 by design, so this is < 1 and
    measures how much a τ=2 probe ladder would buy), and precision
    (cross-scene signature collisions).  One summary row.

    At 100 TB the audit costs what the dedup costs (the pair join is
    shared) plus two arithmetic aggregates over doc ids — quality is
    measured continuously, not in an offline notebook."""
    sigs = _phash_sig_table(spark, sf_dir)
    pairs = _phash_hamming1_pairs(sigs).filter(F.col("doc1") < F.col("doc2"))
    same_scene = (F.col("doc1") % 64) == (F.col("doc2") % 64)
    # integer div end-to-end: doc ids beyond 2^53 would lose exactness
    # under double division
    light = same_scene & (
        F.expr("(doc1 div 64 div 4) % 2") == F.expr("(doc2 div 64 div 4) % 2")
    )
    found = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_pairs"),
        F.sum(F.when(same_scene, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(light, 1).otherwise(0)).cast("bigint").alias("light_tp"),
    )
    (docs,) = _t(spark, sf_dir, "documents")
    keys = docs.select(
        (F.col("doc_id") % 64).alias("scene"),
        F.expr("(doc_id div 64 div 4) % 2").alias("d2"),
    )
    scene_tot = (
        keys.groupBy("scene").agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint").alias("n_same_scene")
        )
    )
    light_tot = (
        keys.groupBy("scene", "d2").agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("bigint").alias("n_light")
        )
    )
    return (
        found.crossJoin(scene_tot).crossJoin(light_tot)
        .select(
            "n_probe_pairs", "tp", "light_tp", "n_same_scene", "n_light",
            (F.col("light_tp") * 1.0 / F.col("n_light")).alias("light_recall"),
            (F.col("tp") * 1.0 / F.col("n_same_scene")).alias("scene_recall"),
            (F.col("tp") * 1.0 / F.col("n_probe_pairs")).alias("precision"),
        )
    )


MULTIMODAL_PHASH_RECALL_AUDIT_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 64 AS scene, doc_id // 64 AS copy,
         2 + (doc_id % 64) % 2 AS m
  FROM documents),
{_PH_SIG_CTES},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig_hi, b.sig_hi))
        + bit_count(xor(a.sig_lo, b.sig_lo)) <= 1),
found AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_pairs,
         CAST(SUM(CASE WHEN d1 % 64 = d2 % 64 THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(SUM(CASE WHEN d1 % 64 = d2 % 64
                        AND (d1 // 64 // 4) % 2 = (d2 // 64 // 4) % 2
                  THEN 1 ELSE 0 END) AS BIGINT) AS light_tp
  FROM pairs),
scene_tot AS (
  SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_same_scene
  FROM (SELECT COUNT(*) AS c FROM d GROUP BY scene)),
light_tot AS (
  SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_light
  FROM (SELECT COUNT(*) AS c FROM d GROUP BY scene, (copy // 4) % 2))
SELECT f.n_probe_pairs, f.tp, f.light_tp, s.n_same_scene, l.n_light,
       f.light_tp * 1.0 / l.n_light AS light_recall,
       f.tp * 1.0 / s.n_same_scene AS scene_recall,
       f.tp * 1.0 / f.n_probe_pairs AS precision
FROM found f, scene_tot s, light_tot l
"""


def multimodal_scale_invariant_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-INVARIANT perceptual dedup — the multi-resolution mirror
    case: every document is one of 48 scene images saved at ITS OWN
    thumbnail size (16×18, 24×27, or 32×36 — dims (8m, 9m) for
    m ∈ {2,3,4}), as genuine PNGs.  The dHash's fixed 8×9 block grid
    normalizes resolution away (blocks are m×m pixel boxes; an integer
    upscale multiplies every block sum by the same m², preserving every
    adjacent comparison), so copies of one scene at DIFFERENT pixel
    sizes produce the identical 64-bit signature and collapse under one
    exact groupBy — the match a byte hash, an exact-pixel hash, or even
    a per-pixel perceptual compare can never make.  Verdict per doc:
    group size, how many distinct resolutions the group spans, the
    canonical (min-id) survivor, kept iff canonical.

    At 100 TB: same shape as the rest of the family — decode + hash
    fused scan-side (4 small ints per image shuffle), one map-side-
    combinable aggregation on the signature.  The oracle recomputes the
    signature from the block-value closed form (block comparisons are
    m-independent, so it never enumerates pixels) and must land on
    byte-identical groups spanning the advertised resolutions."""
    from ..operators.multimodal import (
        decoded_phash_dim_signatures,
        documents_as_multires_png_assets,
    )

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        ids = kernel_front(docs)
        return decoded_phash_dim_signatures(
            documents_as_multires_png_assets(ids)
        )

    sigs = _session_table(spark, sf_dir, "si_sigs", build)
    grp = sigs.groupBy("sig_hi", "sig_lo").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        F.countDistinct("width").cast("bigint").alias("n_res"),
        F.min("doc_id").alias("canon"),
    )
    return (
        sigs.join(grp, ["sig_hi", "sig_lo"])
        .select(
            "doc_id", "width", "height", "sig_hi", "sig_lo",
            "group_n", "n_res", "canon",
            (F.col("canon") == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_SCALE_INVARIANT_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 48 AS scene,
         2 + (doc_id // 48) % 3 AS m
  FROM documents),
blocks AS (
  SELECT doc_id, b // 9 AS by, b % 9 AS bx,
         ((scene + 1) * ((b // 9) * 9 + (b % 9) * 13 + 31)
          + scene * 2654435761) % 256 AS v
  FROM d, UNNEST(range(0, 72)) t(b)),
bits AS (
  SELECT a.doc_id, a.by, a.bx, CASE WHEN a.v > c.v THEN 1 ELSE 0 END AS bit
  FROM blocks a JOIN blocks c ON a.doc_id = c.doc_id AND a.by = c.by
                             AND c.bx = a.bx + 1
  WHERE a.bx < 8),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN by < 4
                       THEN bit * (CAST(1 AS BIGINT) << (by * 8 + bx))
                       ELSE 0 END) AS BIGINT) AS sig_hi,
         CAST(SUM(CASE WHEN by >= 4
                       THEN bit * (CAST(1 AS BIGINT) << ((by - 4) * 8 + bx))
                       ELSE 0 END) AS BIGINT) AS sig_lo
  FROM bits GROUP BY doc_id),
sw AS (
  SELECT s.doc_id, CAST(9 * d.m AS INTEGER) AS width,
         CAST(8 * d.m AS INTEGER) AS height, s.sig_hi, s.sig_lo
  FROM sig s JOIN d USING (doc_id)),
grp AS (
  SELECT sig_hi, sig_lo,
         CAST(COUNT(*) AS BIGINT) AS group_n,
         CAST(COUNT(DISTINCT width) AS BIGINT) AS n_res,
         MIN(doc_id) AS canon
  FROM sw GROUP BY sig_hi, sig_lo)
SELECT sw.doc_id, sw.width, sw.height, sw.sig_hi, sw.sig_lo,
       g.group_n, g.n_res, g.canon,
       g.canon = sw.doc_id AS kept
FROM sw JOIN grp g ON sw.sig_hi = g.sig_hi AND sw.sig_lo = g.sig_lo
ORDER BY sw.doc_id
"""


def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: documents → binary asset table (JVM-side encode)
    → Arrow-batched mapInPandas decode-stub → per-asset pixel statistics.
    The oracle recomputes the deterministic fake decode in SQL; n_bytes
    round-trips the actual blob, proving the binary column plumbing."""
    from ..operators.multimodal import asset_pixel_stats, documents_as_assets

    (docs,) = _t(spark, sf_dir, "documents")
    return asset_pixel_stats(documents_as_assets(kernel_front(docs, "text")))


MULTIMODAL_PIXEL_STATS_SQL = """
WITH px AS (
  SELECT doc_id AS asset_id,
         octet_length(encode(text)) AS n_bytes,
         list_transform(
           range(0, (8 + doc_id % 9) * (8 + doc_id % 7)),
           i -> (doc_id * 2654435761 + i) % 256) AS pxs
  FROM documents)
SELECT asset_id, n_bytes,
       list_aggregate(pxs, 'sum') * 1.0 / len(pxs) AS mean_px,
       CAST(list_aggregate(pxs, 'max') AS BIGINT) AS max_px,
       CAST(list_aggregate(pxs, 'sum') AS BIGINT) AS sum_px
FROM px
ORDER BY asset_id
"""


def multimodal_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (no codec stub anywhere on this path):
    documents → deterministic grayscale rasters ENCODED AS BINARY PGM in
    one Arrow kernel → a second Arrow kernel parses each blob strictly
    from its bytes (``decode_image``: P5 header → width/height, raster →
    pixels) → per-asset statistics.  The oracle recomputes everything from
    the closed-form raster, including ``n_bytes`` = exact PGM header
    length + w·h — so a decoder that consulted metadata instead of the
    header, or mis-parsed the raster offset, hash-fails.  Two pipelined
    narrow passes, no shuffle; compressed codecs enter at the documented
    ``decode_image`` boundary."""
    from ..operators.multimodal import (
        decoded_image_stats,
        documents_as_pgm_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return decoded_image_stats(documents_as_pgm_assets(kernel_front(docs)))


MULTIMODAL_DECODE_ROUNDTRIP_SQL = """
WITH px AS (
  SELECT doc_id AS asset_id,
         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
         list_transform(
           range(0, (8 + doc_id % 9) * (8 + doc_id % 7)),
           i -> (doc_id * 2654435761 + i) % 256) AS pxs
  FROM documents)
SELECT asset_id,
       CAST(octet_length(encode('P5' || chr(10) || CAST(w AS VARCHAR) || ' '
                                || CAST(h AS VARCHAR) || chr(10) || '255'
                                || chr(10))) + w * h AS BIGINT) AS n_bytes,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       list_aggregate(pxs, 'sum') * 1.0 / len(pxs) AS mean_px,
       CAST(list_aggregate(pxs, 'max') AS BIGINT) AS max_px,
       CAST(list_aggregate(pxs, 'sum') AS BIGINT) AS sum_px
FROM px
ORDER BY asset_id
"""


def multimodal_exif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata census over a JPEG crawl: every document becomes a
    REAL baseline JPEG with a camera-style APP1 block (TIFF IFD0 with
    Make/Model/Orientation/DateTime + a GPS IFD of rational D/M/S), and
    one Arrow kernel parses each blob strictly from its bytes
    (``operators/multimodal.parse_exif``: marker walk → APP1 → TIFF
    endianness/magic → IFD entries → GPS decimal degrees).  The fixture
    deliberately ships absent-EXIF (id%7==0) and GPS-less (id%3==0)
    cohorts, so the census proves NULL handling — a parser that fabricated
    defaults or died on a missing segment hash-fails.  Malformed streams
    degrade to has_exif=false; foreign IFD entry types raise by name
    (tested in ``tests/test_multimodal.py``).

    At 100 TB this is scan-side metadata extraction: decode+parse fused
    in the kernel, nine small columns cross the exchange, never the blob.
    The oracle replays the closed-form metadata arithmetic per doc_id —
    including the exact double term order of the D/M/S→decimal
    conversion."""
    from ..operators.multimodal import (
        decoded_exif_metadata,
        documents_as_exif_jpeg_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return decoded_exif_metadata(
        documents_as_exif_jpeg_assets(kernel_front(docs))
    )


_EXIF_HAS = "doc_id % 7 <> 0"
_EXIF_GPS = "doc_id % 7 <> 0 AND doc_id % 3 <> 0"
# decimal-degree replay in the kernel's exact term order:
# deg + min/60 + sec/3600, negated for S/W
_EXIF_LAT_DD = """(CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
         * (CAST(doc_id % 90 AS DOUBLE)
            + CAST((doc_id * 3) % 60 AS DOUBLE) / 60.0
            + (CAST((doc_id * 7) % 6000 AS DOUBLE) / 100.0) / 3600.0)"""
_EXIF_LON_DD = """(CASE WHEN (doc_id // 2) % 2 = 0 THEN 1.0 ELSE -1.0 END)
         * (CAST(doc_id % 180 AS DOUBLE)
            + CAST((doc_id * 5) % 60 AS DOUBLE) / 60.0
            + (CAST((doc_id * 11) % 6000 AS DOUBLE) / 100.0) / 3600.0)"""

MULTIMODAL_EXIF_CENSUS_SQL = f"""
SELECT doc_id,
       {_EXIF_HAS} AS has_exif,
       CASE WHEN {_EXIF_HAS} THEN 'CamCo' END AS make,
       CASE WHEN {_EXIF_HAS} THEN 'M' || CAST(doc_id % 5 AS VARCHAR) END AS model,
       CASE WHEN {_EXIF_HAS} THEN CAST(1 + doc_id % 8 AS INTEGER) END AS orientation,
       CASE WHEN {_EXIF_HAS} THEN printf('2024:%02d:%02d %02d:%02d:%02d',
            1 + doc_id % 12, 1 + doc_id % 28, doc_id % 24,
            (doc_id * 7) % 60, (doc_id * 13) % 60) END AS taken_at,
       {_EXIF_GPS} AS has_gps,
       CASE WHEN {_EXIF_GPS} THEN {_EXIF_LAT_DD} END AS lat_dd,
       CASE WHEN {_EXIF_GPS} THEN {_EXIF_LON_DD} END AS lon_dd
FROM documents
ORDER BY doc_id
"""


def multimodal_exif_gps_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS PII scrub with in-plan proof — the image-side counterpart of
    ``events_pii_scrub``: one Arrow kernel strips each JPEG's GPS IFD
    (pointer entry AND pointed-to block, APP1 rebuilt with correct
    offsets/lengths), re-parses the SCRUBBED bytes, and re-decodes both
    streams.  The output row per image is the scrub contract: GPS gone,
    Orientation/DateTime preserved, pixels bit-identical (the scrub
    rewrites metadata, never scan data), and the exact byte shrinkage
    (the GPS IFD block + one IFD0 entry — a fixed 114 bytes under this
    layout, 0 for GPS-less inputs).  Verification rides the same kernel
    pass as the scrub, so at 100 TB the audit is free — no second read
    of the corpus."""
    from ..operators.multimodal import (
        documents_as_exif_jpeg_assets,
        gps_scrub_verdicts,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return gps_scrub_verdicts(
        documents_as_exif_jpeg_assets(kernel_front(docs))
    )


MULTIMODAL_EXIF_GPS_SCRUB_SQL = f"""
SELECT doc_id,
       {_EXIF_HAS} AS had_exif,
       {_EXIF_GPS} AS had_gps,
       FALSE AS gps_after,
       TRUE AS orientation_kept,
       TRUE AS taken_at_kept,
       TRUE AS raster_intact,
       CAST(CASE WHEN {_EXIF_GPS} THEN 114 ELSE 0 END AS INTEGER) AS bytes_removed
FROM documents
ORDER BY doc_id
"""


def multimodal_exif_thumb_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-aware GPS scrub — the blind spot a head-IFD-only scrubber
    has: real camera JPEGs chain IFD0 to an IFD1 (thumbnail IFD) that can
    carry ITS OWN GPS IFD, and the embedded thumbnail bytes live at an
    absolute TIFF offset the rebuild must RELOCATE.  The fixture places
    GPS in the head IFD (id%3!=0), the thumbnail IFD (id%2==0), both, or
    neither; one Arrow kernel scrubs and proves per image: no GPS survives
    in EITHER IFD, the relocated thumbnail is byte-identical, pixels are
    untouched, and the shrinkage is exactly 114 bytes PER GPS IFD removed
    (pointer entry + block — same constant as the head-only gate, counted
    per occurrence).  Verification rides the scrub's kernel pass; at
    100 TB the audit is free."""
    from ..operators.multimodal import (
        documents_as_thumb_jpeg_assets,
        thumb_scrub_verdicts,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return thumb_scrub_verdicts(
        documents_as_thumb_jpeg_assets(kernel_front(docs))
    )


_EXIF_TGPS = f"({_EXIF_HAS} AND doc_id % 2 = 0)"

MULTIMODAL_EXIF_THUMB_SCRUB_SQL = f"""
SELECT doc_id,
       {_EXIF_HAS} AS had_exif,
       {_EXIF_GPS} AS had_gps,
       {_EXIF_TGPS} AS had_thumb_gps,
       FALSE AS gps_after,
       TRUE AS thumb_kept,
       TRUE AS raster_intact,
       CAST(114 * (CASE WHEN {_EXIF_GPS} THEN 1 ELSE 0 END
                   + CASE WHEN {_EXIF_TGPS} THEN 1 ELSE 0 END)
            AS INTEGER) AS bytes_removed
FROM documents
ORDER BY doc_id
"""


def multimodal_exif_full_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS scrub over the COMPLETE real-camera APP1 layout — the gap the
    round-13 scrub still refused by name: every camera JPEG carries an
    ExifIFD (0x8769) sub-IFD (with a type-7 UNDEFINED ExifVersion and a
    chained InteropIFD per EXIF 4.6.3), and the rebuild must RELOCATE that
    whole sub-IFD tree, not just the IFD1 thumbnail.  The fixture writes
    IFD0 + GPS (id%3!=0) + ExifIFD(Exposure/FNumber/ISO/Version) +
    InteropIFD + IFD1 thumbnail with its own GPS (id%2==0); one Arrow
    kernel scrubs (``operators/multimodal.strip_gps_exif``: sub-IFD tree
    parse → GPS-dropping depth-first re-emit with patched pointers) and
    proves per image: no GPS survives in ANY IFD, the ExifIFD view
    (exposure/fnumber/ISO/version/interop index) is value-identical after
    relocation, the thumbnail is byte-identical, pixels untouched, and
    shrinkage is exactly 114 bytes per GPS IFD removed.  Refusals are now
    narrowed to chained sub-IFDs and IFD2 chains; malformed thumbnail
    chains fail CLOSED (scrub + truncate, tested in
    ``tests/test_multimodal.py``).  At 100 TB the audit rides the scrub's
    kernel pass — no second read of the corpus."""
    from ..operators.multimodal import (
        documents_as_full_exif_assets,
        full_scrub_verdicts,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return full_scrub_verdicts(
        documents_as_full_exif_assets(kernel_front(docs))
    )


MULTIMODAL_EXIF_FULL_SCRUB_SQL = f"""
SELECT doc_id,
       {_EXIF_HAS} AS had_exif,
       {_EXIF_GPS} AS had_gps,
       {_EXIF_TGPS} AS had_thumb_gps,
       FALSE AS gps_after,
       TRUE AS subifd_kept,
       TRUE AS thumb_kept,
       TRUE AS raster_intact,
       CAST(114 * (CASE WHEN {_EXIF_GPS} THEN 1 ELSE 0 END
                   + CASE WHEN {_EXIF_TGPS} THEN 1 ELSE 0 END)
            AS INTEGER) AS bytes_removed
FROM documents
ORDER BY doc_id
"""


def multimodal_orientation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORIENTATION-INVARIANT image dedup — the duplicate class EXIF metadata
    creates and pixel hashing alone cannot close: cameras store the same
    shot rotated/flipped (EXIF orientation 1–8) and a byte-level or even
    perceptual-hash dedup sees eight different images.  One Arrow kernel
    decodes each JPEG strictly from bytes, parses the APP1 orientation
    (absent EXIF = 1, the spec default — the no-metadata cohort ships
    without an APP1 at all), UNDOES the stored transform
    (``undo_exif_orientation``, exact inverse of all eight tag values,
    property-pinned against ``apply_exif_orientation``), and emits a
    position-sensitive checksum of the NORMALIZED raster; duplicates then
    collapse under one exact groupBy.  Verdict per image: group size, how
    many distinct orientations the duplicate set spans (the proof the
    dedup crossed rotations), min-id survivor, kept flag.

    At 100 TB: decode + orientation-undo + checksum fused scan-side (3
    small ints cross the exchange, never a raster), and the dedup is an
    exact hash aggregate — map-side combinable, no similarity join.  The
    oracle replays the canonical raster closed-form per scene and the same
    grouping, so a kernel that mis-inverted any orientation (e.g. rot90
    direction, the transpose/transverse pair) hash-fails."""
    from ..operators.multimodal import (
        decoded_orientation_signatures,
        documents_as_oriented_jpeg_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    sigs = decoded_orientation_signatures(
        documents_as_oriented_jpeg_assets(kernel_front(docs))
    )
    grp = sigs.groupBy("sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.countDistinct("orientation").cast("bigint").alias("n_orientations"),
        F.min("doc_id").alias("canon"),
    )
    return (
        sigs.join(grp, "sig")
        .select(
            "doc_id", "orientation", "sig", "n_copies", "n_orientations",
            "canon", (F.col("doc_id") == F.col("canon")).alias("kept"),
        )
        .orderBy("doc_id")
    )


MULTIMODAL_ORIENTATION_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(1 + (doc_id // 50) % 8 AS INTEGER) AS orientation,
         list_aggregate(list_transform(range(0, 256),
           i -> (((doc_id % 50) * 2654435761 + ((i // 128) * 2 + (i % 16) // 8) * 37) % 256)
                * (i + 1)), 'sum') AS sig
  FROM documents),
grp AS (
  SELECT sig, CAST(COUNT(*) AS BIGINT) AS n_copies,
         CAST(COUNT(DISTINCT orientation) AS BIGINT) AS n_orientations,
         MIN(doc_id) AS canon
  FROM base GROUP BY sig)
SELECT b.doc_id, b.orientation, CAST(b.sig AS BIGINT) AS sig,
       g.n_copies, g.n_orientations, g.canon,
       b.doc_id = g.canon AS kept
FROM base b JOIN grp g ON b.sig = g.sig
ORDER BY b.doc_id
"""


def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decode end-to-end: documents → deterministic
    mono PCM16 streams ENCODED AS GENUINE RIFF/WAVE FILES in one Arrow
    kernel (incl. a variable odd-sized ``note`` chunk so the decoder must
    walk the chunk list, not assume the 44-byte layout) → a second Arrow
    kernel parses each container strictly from its bytes
    (``decode_wav``: RIFF magic → fmt chunk → sample rate/format → data
    chunk → samples) → integer-exact per-asset statistics.  The oracle
    recomputes sample rate, count, Σ s², and max |s| from the closed-form
    stream, so a decoder that mis-walked a chunk boundary or trusted
    metadata hash-fails.  Two pipelined narrow passes, no shuffle;
    compressed codecs enter at the documented ``decode_wav`` boundary."""
    from ..operators.multimodal import decoded_wav_stats, documents_as_wav_assets

    (docs,) = _t(spark, sf_dir, "documents")
    return decoded_wav_stats(documents_as_wav_assets(kernel_front(docs)))


MULTIMODAL_WAV_ROUNDTRIP_SQL = """
WITH s AS (
  SELECT doc_id, ((doc_id * 40503 + i * 269) % 65536) - 32768 AS v
  FROM documents, UNNEST(range(0, 200 + doc_id % 113)) t(i))
SELECT doc_id AS asset_id,
       CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM s
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_wav_stereo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo (2-channel) PCM16 decode end-to-end — multi-channel audio
    was the WAV codec's last named boundary: genuine 2-channel
    RIFF/WAVE blobs (block align 4, interleaved frames), decoded
    strictly from bytes back to (n, 2) frames, reduced to per-channel
    exact energies plus the cross-channel integer covariance — the
    statistic an interleave bug (swapped or shifted channels) cannot
    fake.  The oracle recomputes both closed-form channels."""
    from ..operators.multimodal import (
        decoded_stereo_wav_stats,
        documents_as_stereo_wav_assets,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    ids = kernel_front(docs)
    return decoded_stereo_wav_stats(documents_as_stereo_wav_assets(ids))


MULTIMODAL_WAV_STEREO_SQL = """
WITH s AS (
  SELECT doc_id,
         ((doc_id * 40503 + i * 269) % 65536) - 32768 AS l,
         ((doc_id * 40503 + i * 269 + 7919) % 65536) - 32768 AS r
  FROM documents, UNNEST(range(0, 150 + doc_id % 97)) t(i))
SELECT doc_id AS asset_id,
       CAST(16000 + (doc_id % 2) * 28100 AS INTEGER) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(l * l) AS BIGINT) AS energy_l,
       CAST(SUM(r * r) AS BIGINT) AS energy_r,
       CAST(SUM(l * r) AS BIGINT) AS cross
FROM s
GROUP BY doc_id
ORDER BY asset_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-modality frame sampling: one blob row fans out to
    ceil(duration/interval) frame rows through the Arrow-batched
    mapInPandas kernel (operators/multimodal.sample_frames).  The codec
    is the documented deterministic stub (frames are blob slices), so
    the oracle recomputes every frame's byte-length and md5 in SQL —
    proving the fan-out arithmetic and that the sliced bytes crossed
    Arrow intact."""
    from ..operators.multimodal import documents_as_assets, sample_frames

    (docs,) = _t(spark, sf_dir, "documents")
    assets = documents_as_assets(kernel_front(docs, "text")).withColumn(
        "duration_ms",
        ((1 + F.pmod(F.col("asset_id"), F.lit(5))) * 1000).cast("long"),
    )
    # the kernel emits frame_idx ascending per asset and assets arrive
    # range-partitioned/sorted, so the output is already globally ordered
    # by (asset_id, frame_idx)
    frames = sample_frames(assets)
    return frames.select(
        "asset_id",
        "frame_idx",
        "ts_ms",
        F.length(F.col("frame")).cast("long").alias("n_frame_bytes"),
        F.md5(F.col("frame")).alias("frame_md5"),
    )


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality framed energy: blob bytes → unsigned 8-bit PCM →
    64-sample frames → integer-exact per-frame energy Σ(s−128)² — the
    voice-activity / silence-trim primitive, over the REAL binary column
    (np.frombuffer in the Arrow kernel; the oracle recomputes from the
    ASCII text the blob encodes).  One narrow mapInPandas pass behind
    the row-sized ``kernel_front``; at 100 TB this runs wherever the
    audio shards live."""
    from ..operators.multimodal import audio_frame_energy, documents_as_audio

    (docs,) = _t(spark, sf_dir, "documents")
    return audio_frame_energy(documents_as_audio(kernel_front(docs, "text")))


MULTIMODAL_AUDIO_ENERGY_SQL = """
WITH samples AS (
  SELECT doc_id, (i - 1) // 64 AS frame,
         (ascii(substring(text, CAST(i AS INTEGER), 1)) - 128)
           * (ascii(substring(text, CAST(i AS INTEGER), 1)) - 128) AS sq
  FROM documents, UNNEST(range(1, length(text) + 1)) t(i)),
frames AS (
  SELECT doc_id, frame, CAST(SUM(sq) AS BIGINT) AS energy, COUNT(*) AS n
  FROM samples GROUP BY doc_id, frame),
peaks AS (
  SELECT doc_id, frame, energy,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY energy DESC, frame) AS rn
  FROM frames)
SELECT f.doc_id AS asset_id,
       CAST(SUM(f.n) AS BIGINT) AS n_samples,
       COUNT(*) AS n_frames,
       CAST(SUM(f.energy) AS BIGINT) AS total_energy,
       MAX(CASE WHEN p.rn = 1 THEN p.frame END) AS peak_frame,
       CAST(MAX(CASE WHEN p.rn = 1 THEN p.energy END) AS BIGINT) AS peak_energy
FROM frames f
JOIN peaks p ON p.doc_id = f.doc_id AND p.frame = f.frame
GROUP BY f.doc_id
ORDER BY asset_id
"""


MULTIMODAL_FRAME_SAMPLE_SQL = """
WITH meta AS (
  SELECT doc_id AS asset_id, text,
         GREATEST(octet_length(encode(text)), 1) AS blob_len,
         1 + doc_id % 5 AS n_frames
  FROM documents),
frames AS (
  SELECT asset_id, CAST(i.i AS INTEGER) AS frame_idx, i.i * 1000 AS ts_ms,
         substring(text, CAST((i.i * 64) % blob_len AS BIGINT) + 1, 64) AS frame
  FROM meta CROSS JOIN UNNEST(range(0, n_frames)) AS i(i))
SELECT asset_id, frame_idx, ts_ms,
       CAST(length(frame) AS BIGINT) AS n_frame_bytes,
       md5(frame) AS frame_md5
FROM frames
ORDER BY asset_id, frame_idx
"""


# ===========================================================================
# Event analytics (batch form; streaming variant in streaming/)
# ===========================================================================

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count + exact value sum."""
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


EVENTS_HOURLY_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY hour, event_type
ORDER BY hour, event_type
"""


_SESSION_GAP_MIN = 30


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts when a user's gap since the
    previous event exceeds 30 minutes (classic lag + running-sum pattern).
    Returns per-user session counts and the longest session length."""
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer microsecond math (unix_micros / epoch_us) so both engines
    # compute the same gaps exactly
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > _SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSIONIZE_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_SESSION_GAP_MIN * 60 * 1000000}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM marked),
counts AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
FROM counts
GROUP BY user_id
ORDER BY user_id
"""


# CDC upsert-merge parameters: state before the cutoff is the snapshot,
# events at/after it are the change feed; users with user_id % 7 == 0 are
# "not yet snapshotted" so their changes exercise the insert path, and a
# feed entry whose latest event is an 'error' is a tombstone (delete).
# A real changelog carries only the keys that changed — the fixture's
# users are all active every day, so "unchanged" keys are modeled by a
# deterministic quiet-key predicate (user_id % 5 == 2 emits no changes),
# which keeps the merge's keep-branch exercised and oracle-checkable.
_CDC_CUTOFF = "2024-01-21"
_CDC_UNSNAPPED_MOD = 7
_CDC_QUIET_MOD = 5
_CDC_QUIET_REM = 2
_CDC_TOMBSTONE = "error"


def events_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert-merge (the lakehouse ``MERGE INTO`` shape): compact a
    change feed to its latest entry per key, then merge it into a base
    snapshot — insert when the key is new, update when it exists, delete
    when the latest change is a tombstone, keep otherwise.

    The scale plan is the canonical one: each side is first REDUCED to
    one row per key with ``max(struct(ts, event_id, ...))`` — a hash
    aggregate with map-side combine, no per-key sort window — so the
    full-outer merge join shuffles |keys| rows, not |changelog| rows.
    At 100 TB the changelog compaction is one shuffle and the merge is
    one co-partitioned join; nothing in the plan grows with feed length
    except the pre-reduce scan.  (Here both sides derive from the same
    fixture table, so Catalyst scans it twice — in production the
    snapshot and the feed are distinct inputs, which is the shape this
    gate models.)"""
    (ev,) = _t(spark, sf_dir, "events")
    cut = F.lit(_CDC_CUTOFF).cast("timestamp")

    def latest(df: DataFrame, prefix: str) -> DataFrame:
        m = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m")
        return df.groupBy("user_id").agg(m).select(
            "user_id",
            F.col("m.value").alias(f"{prefix}_value"),
            F.col("m.ts").alias(f"{prefix}_ts"),
            F.col("m.event_type").alias(f"{prefix}_type"),
        )

    base = latest(
        ev.filter(
            (F.col("ts") < cut)
            & (F.col("user_id") % _CDC_UNSNAPPED_MOD != 0)
        ),
        "base",
    )
    chg = latest(
        ev.filter(
            (F.col("ts") >= cut)
            & (F.col("user_id") % _CDC_QUIET_MOD != _CDC_QUIET_REM)
        ),
        "chg",
    )

    merged = base.join(chg, on="user_id", how="full_outer")
    has_chg = F.col("chg_ts").isNotNull()
    has_base = F.col("base_ts").isNotNull()
    return (
        merged.filter(~(has_chg & (F.col("chg_type") == _CDC_TOMBSTONE)))
        .select(
            "user_id",
            F.when(~has_chg, F.lit("keep"))
            .when(has_base, F.lit("update"))
            .otherwise(F.lit("insert"))
            .alias("action"),
            F.when(has_chg, F.col("chg_value"))
            .otherwise(F.col("base_value"))
            .alias("state_value"),
            F.when(has_chg, F.col("chg_ts"))
            .otherwise(F.col("base_ts"))
            .alias("state_ts"),
            F.when(has_chg, F.col("chg_type"))
            .otherwise(F.col("base_type"))
            .alias("state_type"),
        )
        .orderBy("user_id")
    )


EVENTS_CDC_MERGE_SQL = f"""
WITH b AS (
  SELECT user_id, value AS base_value, ts AS base_ts, event_type AS base_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{_CDC_CUTOFF}'
          AND user_id % {_CDC_UNSNAPPED_MOD} <> 0)
  WHERE rn = 1),
c AS (
  SELECT user_id, value AS chg_value, ts AS chg_ts, event_type AS chg_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}'
          AND user_id % {_CDC_QUIET_MOD} <> {_CDC_QUIET_REM})
  WHERE rn = 1)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       CASE WHEN c.user_id IS NULL THEN 'keep'
            WHEN b.user_id IS NULL THEN 'insert'
            ELSE 'update' END AS action,
       CASE WHEN c.user_id IS NULL THEN b.base_value ELSE c.chg_value END
         AS state_value,
       CASE WHEN c.user_id IS NULL THEN b.base_ts ELSE c.chg_ts END
         AS state_ts,
       CASE WHEN c.user_id IS NULL THEN b.base_type ELSE c.chg_type END
         AS state_type
FROM b FULL OUTER JOIN c ON b.user_id = c.user_id
WHERE NOT (c.user_id IS NOT NULL AND c.chg_type = '{_CDC_TOMBSTONE}')
ORDER BY user_id
"""


def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 historization: turn a per-key change feed into validity
    intervals — each event's state is valid from its own timestamp until
    the key's next event (open-ended for the latest version).  The
    interval derivation is one ``lead`` over a window PARTITIONED by the
    key (per-key ordering only — no global sort; each partition holds one
    key's history, bounded by per-key feed depth, so the plan scales with
    keys, not corpus).  Dwell math is integer microseconds
    (``unix_micros``) so both engines agree exactly.  Output summarizes
    the version table per (user, state): version count, open versions,
    and total closed dwell."""
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    versions = ev.select(
        "user_id",
        F.col("event_type").alias("state_type"),
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
    )
    return (
        versions.groupBy("user_id", "state_type")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(
                F.when(F.col("valid_to_us").isNull(), 1).otherwise(0)
            ).alias("n_open"),
            F.sum(
                F.coalesce(
                    F.col("valid_to_us") - F.col("valid_from_us"), F.lit(0)
                )
            ).cast("bigint").alias("closed_dwell_us"),
        )
        .orderBy("user_id", "state_type")
    )


EVENTS_SCD2_SQL = """
WITH versions AS (
  SELECT user_id, event_type AS state_type,
         epoch_us(ts) AS valid_from_us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to_us
  FROM events)
SELECT user_id, state_type,
       COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open,
       CAST(SUM(COALESCE(valid_to_us - valid_from_us, 0)) AS BIGINT)
         AS closed_dwell_us
FROM versions
GROUP BY user_id, state_type
ORDER BY user_id, state_type
"""


def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: minute partials →
    hourly rollup → daily rollup, each grain re-aggregated FROM THE
    FINER PARTIALS, never from raw — the 100 TB pattern where raw is
    scanned once and every coarser resolution is a merge of mergeable
    state (counts and quantized-integer sums compose associatively;
    the fixed-point sum — functions/exact.py's scheme — stays
    DECIMAL(38,0) through the cascade and is scaled back to double only
    at the end, so the three-level reduce is bit-equal to a direct
    one-level aggregation — which is exactly what the oracle computes).
    ``n_hours`` / ``n_minutes`` count the partial rows that fed each
    day, making the cascade observable in the output."""
    (ev,) = _t(spark, sf_dir, "events")
    q = F.floor(F.col("value").cast("double") * F.lit(float(10**8))).cast(
        "decimal(38,0)"
    )
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("m"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(q).alias("sq"))
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("m")).alias("h"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sq").alias("sq"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    return (
        hour.groupBy(F.date_trunc("day", F.col("h")).alias("day"), "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            (F.sum("sq").cast("double") / F.lit(float(10**8))).alias("sum_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum("n_minutes").cast("bigint").alias("n_minutes"),
        )
        .orderBy("day", "event_type")
    )


EVENTS_ROLLUP_CASCADE_SQL = f"""
SELECT date_trunc('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value,
       CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours,
       CAST(COUNT(DISTINCT date_trunc('minute', ts)) AS BIGINT) AS n_minutes
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


def events_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defended enrichment join (operators/skew.salted_join, wired
    into a live query): events join a tiny per-type profile dimension on
    event_type — a 5-distinct-key join, the textbook skew shape (every
    row holds one of 5 hot keys, so an unsalted shuffle join puts 1/5 of
    the fact table on single reducers).  salted_join scatters each hot
    key across 8 replica partitions; the result is row-identical to the
    plain join (tests/test_skew.py), which is exactly what the oracle's
    plain-join SQL checks."""
    from ..operators.skew import salted_join

    (ev,) = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(davg(F.col("value")).alias("type_avg"))
    enriched = salted_join(
        ev.select("event_type", "value"), dim, on=["event_type"], salt_n=8
    )
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("value") > F.col("type_avg"), 1).otherwise(0)
            ).alias("n_above_avg"),
            F.max("type_avg").alias("type_avg"),
        )
        .orderBy("event_type")
    )


EVENTS_SALTED_ENRICH_SQL = f"""
WITH dim AS (
  SELECT event_type, {davg_sql('value')} AS type_avg
  FROM events GROUP BY event_type)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_avg,
       MAX(d.type_avg) AS type_avg
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention curve: distinct active users by day-offset from
    each user's first-seen day.  Two exact aggregations (per-user min
    day rides the same shuffle as the distinct-day set), then a
    distinct-count per offset — the cohort-analysis staple."""
    (ev,) = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    # first_day as a per-user window over `days` instead of a separate
    # min-aggregate + join-back: the aggregate form let Catalyst drop the
    # shared distinct from that branch (min over distinct = min over
    # raw), so the fact table was scanned and shuffled TWICE; the window
    # rides one user-keyed exchange over the compact distinct-day table
    # — bounded per user by their active-day count — and the join
    # disappears (guide §2.4; pinned by
    # tests/test_plans.py::test_shared_subtrees_evaluated_once).
    w = Window.partitionBy("user_id")
    return (
        days.withColumn("first_day", F.min("day").over(w))
        .select(
            "user_id", F.datediff(F.col("day"), F.col("first_day")).alias("day_offset")
        )
        .groupBy("day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("day_offset")
    )


EVENTS_USER_RETENTION_SQL = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id)
SELECT CAST(date_diff('day', first_day, day) AS INTEGER) AS day_offset,
       COUNT(DISTINCT days.user_id) AS n_users
FROM days JOIN first ON days.user_id = first.user_id
GROUP BY day_offset
ORDER BY day_offset
"""


_KMV_K = 64
_KMV_SALTS = 64  # shard fan-out for the two-level mergeable k-min
_HASH_SPACE = float(2**63)


_ASOF_TOL_US = 2 * 3600 * 1_000_000  # 2h staleness tolerance


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.asof_join): every purchase event picks up
    the latest click by the same user at-or-before the purchase, nulled when
    the click is older than 2 hours.  The naive form is a correlated
    "latest earlier row" range join; the plan here is the union +
    carry-forward window — ONE hash shuffle on user_id at any scale.

    DataFusion has no as-of operator; this is the feature-attribution /
    point-in-time-correctness staple of training-data pipelines.
    """
    from ..operators.joins import asof_join

    (ev,) = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    # order_col must exist in both inputs under one name: use the event ids
    l = purchases.withColumn("_oid", F.col("event_id"))
    r = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
            "click_value",
        ).withColumn("_oid", F.col("click_id"))
    )
    out = asof_join(
        l,
        r,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_id", "click_ts", "click_value"],
        order_col="_oid",
        tolerance_us=_ASOF_TOL_US,
    )
    return out.select(
        "event_id", "user_id", "ts", "click_id", "click_ts", "click_value"
    ).orderBy("event_id")


EVENTS_ASOF_SQL = f"""
WITH u AS (
  SELECT user_id, ts AS _ts, 1 AS _is_left, event_id AS _ord,
         event_id, ts,
         NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts,
         NULL::DOUBLE AS click_value, NULL::BIGINT AS _r_us
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0, event_id,
         NULL, NULL,
         event_id, ts, value, epoch_us(ts)
  FROM events WHERE event_type = 'click'),
carried AS (
  SELECT event_id, user_id, ts, _is_left, _ts,
         LAST_VALUE(click_id IGNORE NULLS) OVER w AS click_id,
         LAST_VALUE(click_ts IGNORE NULLS) OVER w AS click_ts,
         LAST_VALUE(click_value IGNORE NULLS) OVER w AS click_value,
         LAST_VALUE(_r_us IGNORE NULLS) OVER w AS _m_us
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY _ts, _is_left, _ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ts,
       CASE WHEN epoch_us(_ts) - _m_us > {_ASOF_TOL_US} THEN NULL ELSE click_id END AS click_id,
       CASE WHEN epoch_us(_ts) - _m_us > {_ASOF_TOL_US} THEN NULL ELSE click_ts END AS click_ts,
       CASE WHEN epoch_us(_ts) - _m_us > {_ASOF_TOL_US} THEN NULL ELSE click_value END AS click_value
FROM carried WHERE _is_left = 1
ORDER BY event_id
"""


_RANGE_BUSY_N = 6          # hourly count threshold defining a "busy" interval
_RANGE_PAD_MIN = 15        # interval = busy hour padded ±15 min
_RANGE_BUCKET_S = 5400     # 90-min intervals -> 90-min buckets, ≤2 per interval


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/joins.range_join): events against the padded
    "busy hours" of their own event_type (hours with >= 6 events, padded
    ±15 min).  Spark would plan the raw interval predicate as a nested-loop
    join; the operator bucketizes the time axis so it runs as an equi-join
    on (event_type, bucket) + exact range filter — shuffle-hash-uniform at
    any scale, replication ≤ 2 buckets per interval.
    """
    from ..operators.joins import range_join

    (ev,) = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _RANGE_BUSY_N)
    )
    pad = f"INTERVAL {_RANGE_PAD_MIN} MINUTES"
    intervals = hourly.select(
        "event_type",
        F.expr(f"h - {pad}").alias("range_start"),
        F.expr(f"h + INTERVAL 1 HOUR + {pad}").alias("range_end"),
    )
    joined = range_join(
        ev.select("event_type", "ts", "value"),
        intervals,
        on=["event_type"],
        probe_ts="ts",
        start_col="range_start",
        end_col="range_end",
        bucket_s=_RANGE_BUCKET_S,
    )
    return (
        joined.groupBy("event_type", "range_start")
        .agg(
            F.count(F.lit(1)).alias("n_in_range"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type", "range_start")
    )


EVENTS_RANGE_JOIN_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY event_type, h),
intervals AS (
  SELECT event_type,
         h - INTERVAL {_RANGE_PAD_MIN} MINUTE AS range_start,
         h + INTERVAL 1 HOUR + INTERVAL {_RANGE_PAD_MIN} MINUTE AS range_end
  FROM hourly WHERE n >= {_RANGE_BUSY_N})
SELECT e.event_type, i.range_start,
       COUNT(*) AS n_in_range, {dsum_sql('e.value')} AS sum_value
FROM events e
JOIN intervals i
  ON e.event_type = i.event_type
 AND e.ts >= i.range_start AND e.ts < i.range_end
GROUP BY e.event_type, i.range_start
ORDER BY e.event_type, i.range_start
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts, one column per event type.

    The pivot value list is fixed (not discovered from data), which is
    both the determinism requirement and the scale requirement — a
    data-driven pivot needs an extra pass to enumerate values.  Executes
    as a single hash aggregate over day with conditional counts."""
    (ev,) = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    out = (
        ev.groupBy(day)
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    ).orderBy("day")


_PIVOT_COLS = ",\n       ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
)
EVENTS_PIVOT_SQL = f"""
SELECT date_trunc('day', ts) AS day,
       {_PIVOT_COLS}
FROM events
GROUP BY day
ORDER BY day
"""


_MA_DAYS = 7
_MA_Q = float(10**8)


def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed moving aggregate: 7-day moving average of the daily value
    sum per event type.

    Frame sums of doubles are order-dependent, so the daily total is kept
    as its floor-quantized integer through the window frame (exact,
    order-independent) and scaled back once — the same fixed-point scheme
    as functions.exact, extended through a ROWS frame.  One shuffle to
    daily grain, one window pass."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(_MA_Q)).cast("decimal(38,0)"))
            .alias("q")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_MA_DAYS - 1), Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        (F.col("q").cast("double") / F.lit(_MA_Q)).alias("daily_sum"),
        (
            F.sum("q").over(w).cast("double")
            / (F.lit(_MA_Q) * F.count("q").over(w).cast("double"))
        ).alias("ma7"),
    ).orderBy("event_type", "day")


EVENTS_MOVING_AVG_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         SUM(CAST(floor(value * {_MA_Q:.1f}) AS DECIMAL(38,0))) AS q
  FROM events GROUP BY event_type, day)
SELECT event_type, day,
       CAST(q AS DOUBLE) / {_MA_Q:.1f} AS daily_sum,
       CAST(SUM(q) OVER w AS DOUBLE)
         / ({_MA_Q:.1f} * CAST(COUNT(q) OVER w AS DOUBLE)) AS ma7
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN {_MA_DAYS - 1} PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type.

    The mergeable sketch a 100 TB pipeline uses where exact COUNT(DISTINCT)
    would shuffle every key: keep the k smallest normalized hashes of the
    values; estimate = (k-1) / max(kept).  Unlike HLL implementations
    (engine-specific registers), KMV over a shared hash is *deterministic
    across engines* — the oracle reproduces the estimate bit-for-bit.
    Exact count included for the error comparison; sketch state is k int64s
    per group (mergeable by union+re-truncate at any tree depth).
    """
    (ev,) = _t(spark, sf_dir, "events")
    h = F.abs(hashing.md5_int(F.col("user_id").cast("string")))
    per = ev.select("event_type", h.alias("h")).distinct()
    # two-level mergeable k-min (operators/selection.salted_topk): each
    # distinct hash lands in exactly one salt shard, so summing the shard
    # counts gives the exact distinct count, and no group's full key set
    # ever meets a single reducer.
    from ..operators.selection import salted_topk

    agg = salted_topk(
        per,
        group_by=["event_type"],
        key=F.col("h"),
        k=_KMV_K,
        salt=F.pmod(F.col("h"), F.lit(_KMV_SALTS)),
        extras_partial=[F.count(F.lit(1)).alias("cnt_part")],
        extras_final=[F.sum("cnt_part").alias("exact_distinct")],
        out_col="kmin",
    )
    kth = F.element_at(F.col("kmin"), F.size(F.col("kmin")))
    est = F.when(
        F.size(F.col("kmin")) < _KMV_K, F.size(F.col("kmin")).cast("double")
    ).otherwise(
        (F.lit(_KMV_K - 1)) / (kth.cast("double") / F.lit(_HASH_SPACE))
    )
    return agg.select(
        "event_type",
        "exact_distinct",
        F.floor(est).cast("long").alias("kmv_estimate"),
    ).orderBy("event_type")


EVENTS_KMV_SQL = f"""
WITH per AS (
  SELECT DISTINCT event_type,
         abs({hashing.md5_int_sql("CAST(user_id AS VARCHAR)")}) AS h
  FROM events),
agg AS (
  SELECT event_type,
         list_slice(list_sort(list(h)), 1, {_KMV_K}) AS kmin,
         COUNT(*) AS exact_distinct
  FROM per GROUP BY event_type)
SELECT event_type, exact_distinct,
       CAST(floor(CASE WHEN len(kmin) < {_KMV_K} THEN len(kmin)
                       ELSE {_KMV_K - 1} / (kmin[-1] / {_HASH_SPACE:.1f}) END)
            AS BIGINT) AS kmv_estimate
FROM agg
ORDER BY event_type
"""


_QUANTILES = (0.5, 0.9, 0.99)


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank quantiles of ``value`` per event_type, on
    floor-quantized integers so both engines select the identical element
    (interpolating quantile definitions differ engine-to-engine; nearest
    rank on ints cannot).  The rank element comes from a cumulative
    count over distinct (type, quantized value) — reducer input is the
    |value domain|, never the event stream (the collect-everything form
    this replaces gathered every event into one array per type).  At
    extreme domains swap in approx_percentile — same column contract,
    sketch-merge execution."""
    from ..operators.selection import rank_thresholds

    (ev,) = _t(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * F.lit(1e6)).cast("long")
    th = rank_thresholds(
        ev.select("event_type", qv.alias("qv")),
        group_by=["event_type"],
        value_col="qv",
        targets={
            f"q{int(q * 100)}": (
                lambda cnt, q=q: F.greatest(F.ceil(F.lit(q) * cnt), F.lit(1))
            )
            for q in _QUANTILES
        },
        count_col="n_events",
    )
    return th.select(
        "event_type",
        "n_events",
        *[
            (F.col(f"q{int(q * 100)}") / 1e6).alias(f"p{int(q * 100)}")
            for q in _QUANTILES
        ],
    ).orderBy("event_type")


_QCOLS_SQL = ",\n       ".join(
    f"vals[CAST(greatest(ceil({q} * n_events), 1) AS BIGINT)] / 1e6 AS p{int(q * 100)}"
    for q in _QUANTILES
)
EVENTS_QUANTILES_SQL = f"""
SELECT event_type, n_events,
       {_QCOLS_SQL}
FROM (
  SELECT event_type,
         list_sort(list(CAST(floor(value * 1e6) AS BIGINT))) AS vals,
         COUNT(*) AS n_events
  FROM events GROUP BY event_type)
ORDER BY event_type
"""


def events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch set operations: estimate |click-users ∪
    purchase-users| and |click-users ∩ purchase-users| from two KMV
    sketches without ever shuffling the full key sets together.

    Union sketch = k smallest of the merged hash lists; Jaccard estimate
    = fraction of the union sketch present in both input sketches;
    intersection estimate = Jaccard x union estimate — the textbook KMV
    algebra, and (unlike HLL registers) bit-reproducible in the oracle
    because both engines share the md5-derived hash.  Exact counts ride
    along for the error comparison."""
    (ev,) = _t(spark, sf_dir, "events")
    h = F.abs(hashing.md5_int(F.col("user_id").cast("string")))

    def sketch(ev_type: str, out: str) -> DataFrame:
        per = (
            ev.filter(F.col("event_type") == ev_type)
            .select(h.alias("h"))
            .distinct()
        )
        # same two-level k-min as events_kmv_distinct, single global group
        from ..operators.selection import salted_topk

        return salted_topk(
            per,
            group_by=[],
            key=F.col("h"),
            k=_KMV_K,
            salt=F.pmod(F.col("h"), F.lit(_KMV_SALTS)),
            extras_partial=[F.count(F.lit(1)).alias("cnt")],
            extras_final=[F.sum("cnt").alias(f"{out}_exact")],
            out_col=f"{out}_kmin",
        )

    a, b = sketch("click", "a"), sketch("purchase", "b")
    merged = a.crossJoin(b).withColumn(
        "u_kmin",
        F.slice(
            F.sort_array(F.array_union(F.col("a_kmin"), F.col("b_kmin"))),
            1,
            _KMV_K,
        ),
    )
    u_len = F.size(F.col("u_kmin"))
    kth = F.element_at(F.col("u_kmin"), u_len)
    union_est = F.when(u_len < _KMV_K, u_len.cast("double")).otherwise(
        F.lit(_KMV_K - 1) / (kth.cast("double") / F.lit(_HASH_SPACE))
    )
    matches = F.size(
        F.array_intersect(
            F.col("u_kmin"), F.array_intersect(F.col("a_kmin"), F.col("b_kmin"))
        )
    )
    inter_est = (matches.cast("double") / u_len.cast("double")) * union_est
    return merged.select(
        F.col("a_exact").alias("click_exact"),
        F.col("b_exact").alias("purchase_exact"),
        F.floor(union_est).cast("long").alias("union_estimate"),
        F.floor(inter_est).cast("long").alias("intersect_estimate"),
    )


_KMV_SKETCH_SQL = """
  SELECT list_slice(list_sort(list(h)), 1, {k}) AS kmin, COUNT(*) AS exact
  FROM (SELECT DISTINCT abs({h}) AS h FROM events WHERE event_type = '{t}')
"""

EVENTS_KMV_SETOPS_SQL = f"""
WITH a AS ({_KMV_SKETCH_SQL.format(k=_KMV_K, t="click",
                                   h=hashing.md5_int_sql("CAST(user_id AS VARCHAR)"))}),
b AS ({_KMV_SKETCH_SQL.format(k=_KMV_K, t="purchase",
                              h=hashing.md5_int_sql("CAST(user_id AS VARCHAR)"))}),
m AS (
  SELECT a.kmin AS a_kmin, a.exact AS a_exact,
         b.kmin AS b_kmin, b.exact AS b_exact,
         list_slice(list_sort(list_distinct(list_concat(a.kmin, b.kmin))),
                    1, {_KMV_K}) AS u_kmin
  FROM a CROSS JOIN b),
est AS (
  SELECT a_exact, b_exact, u_kmin,
         CASE WHEN len(u_kmin) < {_KMV_K} THEN CAST(len(u_kmin) AS DOUBLE)
              ELSE {_KMV_K - 1} / (CAST(u_kmin[-1] AS DOUBLE) / {_HASH_SPACE:.1f})
         END AS union_est,
         len(list_intersect(u_kmin, list_intersect(a_kmin, b_kmin))) AS matches
  FROM m)
SELECT a_exact AS click_exact, b_exact AS purchase_exact,
       CAST(floor(union_est) AS BIGINT) AS union_estimate,
       CAST(floor((CAST(matches AS DOUBLE) / CAST(len(u_kmin) AS DOUBLE))
                  * union_est) AS BIGINT) AS intersect_estimate
FROM est
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from events.props + aggregation."""
    (ev,) = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: view -> click -> purchase.  Each stage
    keeps users whose first qualifying event happens at-or-after their
    previous stage's first event (classic product-analytics funnel).

    Three per-user aggregations chained by equi-joins on user_id — every
    shuffle is on the same key, so at 100 TB the stages co-partition and
    AQE collapses the exchanges; no window over the raw event stream and
    no per-user event-array materialization.  Timestamp comparisons use
    integer microseconds (unix_micros / epoch_us) for cross-engine
    exactness."""
    (ev,) = _t(spark, sf_dir, "events")
    # events without a user or timestamp enter no stage: the gate's NULL
    # contract (the oracle's first stage says the same;
    # tests/test_null_keys.py)
    e = evaluate_once(
        ev.select("user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")),
        not_null=("user_id", "us"),
    )
    first_view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    first_click = (
        e.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    first_purch = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("us") >= F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return (
            evaluate_once(df)
            .agg(F.count(F.lit(1)).alias("n_users"))
            .select(
                F.lit(n).alias("stage"),
                F.lit(name).alias("stage_name"),
                "n_users",
            )
        )

    return (
        stage(first_view, 1, "view")
        .unionAll(stage(first_click, 2, "view>click"))
        .unionAll(stage(first_purch, 3, "view>click>purchase"))
        .orderBy("stage")
    )


EVENTS_FUNNEL_SQL = """
WITH fv AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id),
fc AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= fv.v_us
  GROUP BY e.user_id),
fp AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.c_us
  GROUP BY e.user_id)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS n_users FROM fv
  UNION ALL
  SELECT 2, 'view>click', COUNT(*) FROM fc
  UNION ALL
  SELECT 3, 'view>click>purchase', COUNT(*) FROM fp)
ORDER BY stage
"""


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (order year, priority): all four grouping combinations in
    one pass (reference surface: DataFusion grows the same GROUPING SETS
    expansion; complements the ROLLUP gate).  Group keys are coalesced to
    sentinel values ('ALL' / -1) so neither engine's NULL ordering or
    NULL hashing enters the comparison."""
    (o,) = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate")).alias("o_year")
    return (
        o.cube(yr, F.col("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.coalesce(F.col("o_year"), F.lit(-1)).alias("o_year"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("o_orderpriority"),
            "gid",
            "n_orders",
            "sum_price",
        )
        .orderBy("gid", "o_year", "o_orderpriority")
    )


ORDERS_CUBE_SQL = f"""
SELECT CAST(COALESCE(EXTRACT(YEAR FROM o_orderdate), -1) AS INTEGER) AS o_year,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate), o_orderpriority) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders
GROUP BY CUBE (EXTRACT(YEAR FROM o_orderdate), o_orderpriority)
ORDER BY gid, o_year, o_orderpriority
"""


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with LOCF (last observation carried
    forward): build the dense hourly spine per event type (sequence +
    explode — generated, never collected), left-join the hourly
    aggregate, and fill missing hours with the latest preceding value
    via last(ignorenulls) over an unbounded-preceding frame.

    At scale the spine is tiny relative to the fact table (hours x
    types), the join is on (type, hour), and the fill window partitions
    by type — one shuffle each.  The timeseries-database 'gapfill +
    locf' primitive expressed as pure DataFrame ops."""
    (ev,) = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(dsum(F.col("value")).alias("sum_value"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .withColumn("is_gap", F.col("sum_value").isNull().cast("int"))
        .withColumn(
            "sum_value_filled",
            F.coalesce(F.last("sum_value", ignorenulls=True).over(w), F.lit(0.0)),
        )
        .select("event_type", "hour", "is_gap", "sum_value_filled")
        .orderBy("event_type", "hour")
    )


EVENTS_GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         {dsum_sql('value')} AS sum_value
  FROM events GROUP BY hour, event_type),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events),
offs AS (
  SELECT UNNEST(range(0, ((epoch_us(hi) - epoch_us(lo)) // 3600000000) + 1)) AS i
  FROM bounds),
spine AS (
  SELECT t.event_type, b.lo + o.i * INTERVAL 1 HOUR AS hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN bounds b CROSS JOIN offs o)
SELECT s.event_type, s.hour,
       CASE WHEN h.sum_value IS NULL THEN 1 ELSE 0 END AS is_gap,
       COALESCE(LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
         AS sum_value_filled
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
ORDER BY s.event_type, s.hour
"""


_Z_BITS = 12          # bits per dimension interleaved into the z-code
_Z_BUCKET_SHIFT = 18  # bucket = zcode >> shift  (~64 buckets at sf0.1)


def lineitem_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the multi-dimensional sort a 100 TB
    table is physically laid out by so min/max file statistics can skip
    data on EITHER predicate column (the Delta/Iceberg OPTIMIZE ZORDER
    primitive, expressed as an engine op on bare parquet).

    The z-code interleaves the low {bits} bits of (days(l_shipdate),
    l_suppkey) — pure integer shift/mask arithmetic, bit-identical in
    any engine.  The gate aggregates per z-bucket (code >> {shift}) and
    reports each bucket's shipdate/suppkey bounding box; tight boxes ARE
    the data-skipping property (a range predicate on either dimension
    prunes most buckets), which makes the locality judge-checkable
    rather than asserted.  Plan: narrow projection + one hash
    aggregation on the bucket id; writing the layout is the same plan
    with repartitionByRange(zcode) in front of the sink."""
    (li,) = _t(spark, sf_dir, "lineitem")
    x = F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit("1992-01-01")))
    y = F.col("l_suppkey").cast("long")
    zcode = F.lit(0).cast("long")
    for b in range(_Z_BITS):
        zcode = (
            zcode
            + F.shiftleft(F.shiftright(x.cast("long"), b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    coded = li.select(
        F.to_date("l_shipdate").alias("ship_date"),
        F.col("l_suppkey"),
        F.shiftright(zcode, _Z_BUCKET_SHIFT).alias("zbucket"),
    )
    return (
        coded.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ship_date").alias("min_ship"),
            F.max("ship_date").alias("max_ship"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zbucket")
    )


lineitem_zorder.__doc__ = (lineitem_zorder.__doc__ or "").format(
    bits=_Z_BITS, shift=_Z_BUCKET_SHIFT
)


def _zcode_sql(x: str, y: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


LINEITEM_ZORDER_SQL = f"""
WITH coded AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_date, l_suppkey,
         {_zcode_sql("CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)",
                     'CAST(l_suppkey AS BIGINT)', _Z_BITS)} >> {_Z_BUCKET_SHIFT} AS zbucket
  FROM lineitem)
SELECT zbucket, COUNT(*) AS n_rows,
       MIN(ship_date) AS min_ship, MAX(ship_date) AS max_ship,
       MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
FROM coded
GROUP BY zbucket
ORDER BY zbucket
"""


_MV_SPLIT = "1997-01-01"  # lineitem shipped before = old state, after = delta


def lineitem_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the q1-shaped rollup is
    kept as mergeable partial state and a new data partition is folded in
    WITHOUT rescanning history — merge(state(old), state(delta)) — while
    the oracle recomputes the aggregate directly over the full table, so
    the gate proves the incremental path is lossless.

    The state is a commutative monoid per group: row count (int64) and
    floor-quantized DECIMAL(38,0) sums (the functions.exact scheme kept
    in integer space, where partial merges are exact and
    order-independent; scaling back to double happens only at
    finalization).  AVG is finalized as merged-sum / merged-count —
    never stored.

    At 100 TB this is THE pattern for daily-refresh rollups: the old
    side is the stored state table (keys x 4 columns, trivially small),
    the delta side aggregates one day's partition, and the merge
    shuffles only state rows — the 99.99% of history is never re-read."""
    from ..functions import exact

    (li,) = _t(spark, sf_dir, "lineitem")
    li = li.withColumn("ship_date", F.to_date("l_shipdate"))
    qty_q = F.floor(F.col("l_quantity").cast("double") * F.lit(exact._Q)).cast(
        "decimal(38,0)"
    )
    price_q = F.floor(
        F.col("l_extendedprice").cast("double") * F.lit(exact._Q)
    ).cast("decimal(38,0)")

    def state(part: DataFrame) -> DataFrame:
        return part.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(qty_q).alias("qty_qsum"),
            F.sum(price_q).alias("price_qsum"),
        )

    old = state(li.filter(F.col("ship_date") < F.to_date(F.lit(_MV_SPLIT))))
    delta = state(li.filter(F.col("ship_date") >= F.to_date(F.lit(_MV_SPLIT))))
    merged = (
        old.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("qty_qsum").alias("qty_qsum"),
            F.sum("price_qsum").alias("price_qsum"),
        )
    )
    q = F.lit(exact._Q)
    return merged.select(
        "l_returnflag", "l_linestatus", "n_rows",
        (F.col("qty_qsum").cast("double") / q).alias("sum_qty"),
        (F.col("price_qsum").cast("double") / q).alias("sum_price"),
        (
            (F.col("qty_qsum").cast("double") / q) / F.col("n_rows")
        ).alias("avg_qty"),
    ).orderBy("l_returnflag", "l_linestatus")


LINEITEM_DELTA_AGG_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price,
       ({dsum_sql('l_quantity')} / COUNT(*)) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


_PR_DAMPING = 0.85
_PR_ITERS = 3


def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph: nodes are
    event types, edge (a, b) weighted by how often b follows a in a
    user's stream — surfacing the 'hub' interaction states.

    The transition edges come from one LEAD window over (user, ts); the
    rank loop is ``operators.graph.pagerank`` — a fixed 3-iteration
    join+aggregate chain, each round one shuffle on src and one on dst,
    contributions reduced with the quantized deterministic sum so the
    gate hash-matches the oracle's unrolled-CTE replica.  Iterative
    algorithms are exactly what single-pass SQL can't express; the
    oracle here is the loop manually unrolled."""
    from ..operators.graph import pagerank

    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    return (
        pagerank(edges, weight="w", iterations=_PR_ITERS, damping=_PR_DAMPING)
        .orderBy("node")
    )


def _pagerank_sql(iters: int) -> str:
    d = "CAST(0.85 AS DOUBLE)"
    resid = f"(CAST(1.0 AS DOUBLE) - {d})"
    ctes = [f"""seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events),
edges AS (
  SELECT src, dst, COUNT(*) AS w FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
outw AS (SELECT src, CAST(SUM(w) AS DOUBLE) AS ow FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, CAST(edges.w AS DOUBLE) AS w, outw.ow
      FROM edges JOIN outw USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS pr
  FROM nodes CROSS JOIN nn)"""]
    for i in range(1, iters + 1):
        contrib = "p.pr * e.w / e.ow"
        ctes.append(f"""c{i} AS (
  SELECT e.dst AS node, {dsum_sql(contrib)} AS csum
  FROM e JOIN pr{i - 1} p ON e.src = p.node GROUP BY e.dst),
pr{i} AS (
  SELECT nodes.node,
         {resid} / CAST(n_nodes AS DOUBLE)
           + {d} * COALESCE(c{i}.csum, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes LEFT JOIN c{i} USING (node) CROSS JOIN nn)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, pr FROM pr{iters} ORDER BY node"
    )


EVENTS_PAGERANK_SQL = _pagerank_sql(_PR_ITERS)


_CONC_MINUTES = 5  # each event holds a resource for 5 minutes


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type — the sweep-line algorithm over
    intervals: each event occupies [ts, ts+{m}min); every interval emits
    a +1 start point and a -1 end point, a running sum over the ordered
    points is the live-interval count, and its max is the answer (the
    'max concurrent sessions' / connection-pool-sizing question that a
    naive self-join answers in O(n^2)).

    Half-open semantics are pinned by the tie order (ends sort before
    starts at the same instant, so back-to-back intervals never double
    count).  Ties *within* (t, delta) leave individual prefix rows
    order-ambiguous but every tie order yields the same row-set of
    running sums per group, so MAX is deterministic — the only
    aggregate the gate emits.

    Plan: one narrow 2x explode, then the running sum as a range-sharded
    two-pass prefix scan over the ordered points (local cumsum per time
    shard + a broadcast triangle-join carry-in from earlier shards) —
    a plain per-type window would drag each type's full point stream
    through one reducer.  Linear at any scale; the carry-in IS the
    per-shard generalization of the per-day carry a production
    time-partitioned layout uses."""
    (ev,) = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.col("ts").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("ts") + F.expr(f"INTERVAL {_CONC_MINUTES} MINUTES")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("p"),
    ).select("event_type", F.col("p.t").alias("t"), F.col("p.delta").alias("delta"))
    from ..operators.selection import sharded_prefix

    return (
        sharded_prefix(
            pts,
            order_by=["t", "delta"],
            value=F.col("delta"),
            agg="sum",
            partition_by=["event_type"],
            out_col="live",
        )
        .groupBy("event_type")
        .agg(F.max("live").alias("max_concurrent"))
        .orderBy("event_type")
    )


events_concurrency.__doc__ = (events_concurrency.__doc__ or "").format(
    m=_CONC_MINUTES
)


EVENTS_CONCURRENCY_SQL = f"""
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL {_CONC_MINUTES} MINUTE AS t, -1 AS delta
  FROM events),
live AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS live
  FROM pts)
SELECT event_type, CAST(MAX(live) AS BIGINT) AS max_concurrent
FROM live
GROUP BY event_type
ORDER BY event_type
"""


# drift-monitor parameters: the month splits at this instant into the
# reference window A and the comparison window B
_DRIFT_SPLIT = "2024-01-16"


def events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (the data-ops gate a training pipeline
    runs between corpus snapshots): per event type, the total-variation
    distance between the value distribution before and after a split
    instant, over integer value buckets (``floor(value)``).

    TVD = ½·Σ_b |cA_b/nA − cB_b/nB| is computed DIVISION-FREE inside the
    aggregation — Σ_b |cA_b·nB − cB_b·nA| is an exact DECIMAL(38,0)
    (order-independent sum; BIGINT would overflow once per-type window
    counts pass ~2·10⁹, i.e. exactly at the scale this gate targets),
    divided once by 2·nA·nB at the end — so both engines produce
    bit-identical doubles and the gate hash-matches with no epsilon.  A
    type seen in only one window reports tvd = 1.0 (fully shifted — the
    strongest drift signal, which a naive ratio would turn into a silent
    NULL via 0-division).  At 100 TB this is two map-side-combined
    aggregations (bucket counts, then per-type reduce from the cell
    partials) — one shuffle each, state bounded by types × buckets,
    never by events."""
    (ev,) = _t(spark, sf_dir, "events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    bucketed = ev.select(
        "event_type",
        F.floor(F.col("value")).cast("long").alias("bucket"),
        F.when(F.col("ts") < split, 1).otherwise(0).alias("in_a"),
    )
    # session-persisted (lazy, lineage kept): cells feed both the totals
    # aggregate and the final join, so the raw-event scan runs once
    cells = _session_table(
        spark, sf_dir, "drift_cells",
        lambda: bucketed.groupBy("event_type", "bucket").agg(
            F.sum("in_a").cast("bigint").alias("c_a"),
            F.sum(F.lit(1) - F.col("in_a")).cast("bigint").alias("c_b"),
        ),
    )
    # totals re-aggregate FROM the cells (mergeable partials — the rollup
    # pattern), so raw events are scanned once, not once per aggregation
    totals = cells.groupBy("event_type").agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    return (
        cells.join(totals, "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.sum(
                F.abs(
                    F.col("c_a").cast("decimal(38,0)") * F.col("n_b")
                    - F.col("c_b").cast("decimal(38,0)") * F.col("n_a")
                )
            ).cast("decimal(38,0)").alias("tvd_num"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        )
        .select(
            "event_type", "n_a", "n_b", "n_buckets",
            F.when(
                (F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(1.0)
            ).otherwise(
                F.col("tvd_num").cast("double")
                / (2.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("tvd"),
        )
        .orderBy("event_type")
    )


EVENTS_DISTRIBUTION_DRIFT_SQL = f"""
WITH bucketed AS (
  SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bucket,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS in_a
  FROM events),
cells AS (
  SELECT event_type, bucket,
         CAST(SUM(in_a) AS BIGINT) AS c_a,
         CAST(SUM(1 - in_a) AS BIGINT) AS c_b
  FROM bucketed GROUP BY event_type, bucket),
totals AS (
  SELECT event_type,
         CAST(SUM(in_a) AS BIGINT) AS n_a,
         CAST(SUM(1 - in_a) AS BIGINT) AS n_b
  FROM bucketed GROUP BY event_type)
SELECT c.event_type, t.n_a, t.n_b,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CASE WHEN t.n_a = 0 OR t.n_b = 0 THEN 1.0
            ELSE CAST(SUM(ABS(CAST(c.c_a AS DECIMAL(38,0)) * t.n_b
                              - CAST(c.c_b AS DECIMAL(38,0)) * t.n_a))
                      AS DOUBLE)
                 / (2.0 * t.n_a * t.n_b) END AS tvd
FROM cells c JOIN totals t ON c.event_type = t.event_type
GROUP BY c.event_type, t.n_a, t.n_b
ORDER BY c.event_type
"""


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: flag hours whose event count deviates
    more than 2 sigma from that event type's hourly mean.

    The 2-sigma test is algebraically cleared of division and sqrt:
    |c - S/H| > 2*sqrt((H*SUMSQ - S^2)/H^2)  <=>
    (c*H - S)^2 > 4*(H*SUMSQ - S^2), with c = hour count, H = #hours,
    S = sum of counts, SUMSQ = sum of squared counts — all INTEGER
    aggregates, so the gate is exact with no epsilon anywhere (the
    squares are evaluated as doubles of exact integers; at petabyte
    counts they'd be DECIMAL(38,0), same plan).

    Plan: one hash aggregation to hourly counts, one window (or
    broadcast re-join) for the per-type moments, a narrow filter — two
    shuffles total, both keyed on event_type; linear at any scale."""
    (ev,) = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type")
    stats = (
        hourly.withColumn("h_cnt", F.count(F.lit(1)).over(w))
        .withColumn("s_sum", F.sum("c").over(w))
        .withColumn("ssq", F.sum(F.col("c") * F.col("c")).over(w))
    )
    dev = (F.col("c") * F.col("h_cnt") - F.col("s_sum")).cast("double")
    var4 = F.lit(4.0) * (
        F.col("h_cnt").cast("double") * F.col("ssq").cast("double")
        - F.col("s_sum").cast("double") * F.col("s_sum").cast("double")
    )
    return (
        stats.withColumn("is_anomaly", dev * dev > var4)
        .filter(F.col("is_anomaly"))
        .select("event_type", "hour", "c", "h_cnt", "s_sum", "is_anomaly")
        .orderBy("event_type", "hour")
    )


EVENTS_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS c
  FROM events GROUP BY event_type, hour),
stats AS (
  SELECT event_type, hour, c,
         COUNT(*) OVER (PARTITION BY event_type) AS h_cnt,
         SUM(c) OVER (PARTITION BY event_type) AS s_sum,
         SUM(c * c) OVER (PARTITION BY event_type) AS ssq
  FROM hourly)
SELECT event_type, hour, c, h_cnt, CAST(s_sum AS BIGINT) AS s_sum,
       (CAST(c * h_cnt - s_sum AS DOUBLE) * CAST(c * h_cnt - s_sum AS DOUBLE)
        > 4.0 * (CAST(h_cnt AS DOUBLE) * CAST(ssq AS DOUBLE)
                 - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))) AS is_anomaly
FROM stats
WHERE CAST(c * h_cnt - s_sum AS DOUBLE) * CAST(c * h_cnt - s_sum AS DOUBLE)
      > 4.0 * (CAST(h_cnt AS DOUBLE) * CAST(ssq AS DOUBLE)
               - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
ORDER BY event_type, hour
"""


_HIST_WIDTH = 50.0
_HIST_NBUCKETS = 10


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (10 buckets of
    width 50, clamped).  Bucket index is floor(value / width) — plain
    IEEE division + floor, bit-identical across engines — so the whole
    histogram is one hash aggregation; no sort, no sketch."""
    (ev,) = _t(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / _HIST_WIDTH), F.lit(0)),
        F.lit(_HIST_NBUCKETS - 1),
    ).cast("int")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("bucket_lo", F.col("bucket").cast("double") * _HIST_WIDTH)
        .select("event_type", "bucket", "bucket_lo", "n_events")
        .orderBy("event_type", "bucket")
    )


EVENTS_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT event_type,
         CAST(LEAST(GREATEST(FLOOR(value / {_HIST_WIDTH}), 0),
                    {_HIST_NBUCKETS - 1}) AS INTEGER) AS bucket
  FROM events)
SELECT event_type, bucket,
       CAST(bucket AS DOUBLE) * {_HIST_WIDTH} AS bucket_lo,
       COUNT(*) AS n_events
FROM b
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


def lineitem_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (operators/bloom wired into a live
    query): lineitem rows whose order is 1-URGENT from 1995.  The bloom
    bit-set built from the filtered orders keys drops non-matching
    lineitem rows before the exact semi-join — at 100 TB that cuts the
    join's shuffle input by ~the build side's selectivity (here ~3%)
    while staying row-identical to the plain semi-join, which is exactly
    what the oracle checks."""
    from ..operators.bloom import bloom_semi_join

    li, o = _t(spark, sf_dir, "lineitem", "orders")
    build = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year(F.col("o_orderdate")) == 1995)
    ).select("o_orderkey")
    hit = bloom_semi_join(
        li.select("l_orderkey", "l_returnflag", "l_extendedprice"),
        build,
        probe_key="l_orderkey",
        build_key="o_orderkey",
    )
    return (
        hit.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_BLOOM_SEMI_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_items,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey
    AND o.o_orderpriority = '1-URGENT'
    AND EXTRACT(YEAR FROM o.o_orderdate) = 1995)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_MERGE_MOD = 97          # every 97th order receives an update
_MERGE_KEY_SHIFT = 900_000_000  # synthetic insert keys live far above real ones


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / CDC-apply semantics as pure DataFrame ops: a deterministic
    change batch (price updates for every 97th order, plus synthetic new
    orders on shifted keys) applied to the base table as
    ``base ANTI-JOIN changes  UNION ALL  changes`` — the standard
    upsert-without-a-table-format plan (the same shape Delta/Iceberg
    MERGE lowers to).  One anti-join shuffle on the key; verified by
    aggregating the merged result per status."""
    (o,) = _t(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = base.filter(F.col("o_orderkey") % _MERGE_MOD == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = updates.select(
        (F.col("o_orderkey") + _MERGE_KEY_SHIFT).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    changes = updates.unionByName(inserts)
    merged = base.join(changes, "o_orderkey", "left_anti").unionByName(changes)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_MERGE_UPSERT_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
updates AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
  FROM base WHERE o_orderkey % {_MERGE_MOD} = 0),
inserts AS (
  SELECT o_orderkey + {_MERGE_KEY_SHIFT} AS o_orderkey,
         'N' AS o_orderstatus, o_totalprice
  FROM updates),
changes AS (
  SELECT * FROM updates UNION ALL SELECT * FROM inserts),
merged AS (
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
  UNION ALL SELECT * FROM changes)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       MAX(o_orderkey) AS max_key
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


_SCD2_MOD = 7            # every 7th supplier gets a changed balance
_SCD2_DELTA = 500.0
_SCD2_EPOCH = "1992-01-01"   # valid_from of the initial dimension load
_SCD2_BATCH = "1998-06-01"   # effective date of the change batch
_SCD2_OPEN = "9999-12-31"    # open-ended valid_to sentinel


def supplier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance: apply a change batch
    to the supplier dimension, closing superseded versions and opening
    new ones with effective-date ranges.

    The change batch is deterministic (every {mod}th supplier's account
    balance moves by {delta}).  The merge is the canonical SCD2 plan:
    changed keys produce a CLOSED old version (valid_to = batch date,
    is_current = false) plus an OPEN new version; untouched rows pass
    through via an anti-join.  Two hash joins on the dimension key, no
    driver participation — the same shape a Delta/Iceberg MERGE with
    whenMatched-close / whenNotMatched-insert lowers to, expressed as
    pure DataFrame ops so it runs on bare parquet.

    At 100 TB this runs on the (much smaller) dimension side of the
    warehouse; the plan is one shuffle per join keyed on s_suppkey and
    unions are metadata-only."""
    (sup,) = _t(spark, sf_dir, "supplier")
    epoch = F.to_date(F.lit(_SCD2_EPOCH))
    batch = F.to_date(F.lit(_SCD2_BATCH))
    open_end = F.to_date(F.lit(_SCD2_OPEN))
    base = sup.select("s_suppkey", "s_name", "s_acctbal")
    changed = base.filter(F.col("s_suppkey") % _SCD2_MOD == 0)
    closed = changed.select(
        "s_suppkey", "s_name", "s_acctbal",
        epoch.alias("valid_from"), batch.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changed.select(
        "s_suppkey", "s_name",
        (F.col("s_acctbal") + F.lit(_SCD2_DELTA)).alias("s_acctbal"),
        batch.alias("valid_from"), open_end.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    untouched = base.join(changed.select("s_suppkey"), "s_suppkey", "left_anti").select(
        "s_suppkey", "s_name", "s_acctbal",
        epoch.alias("valid_from"), open_end.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        untouched.unionByName(closed).unionByName(opened)
        .orderBy("s_suppkey", "valid_from")
    )


supplier_scd2.__doc__ = (supplier_scd2.__doc__ or "").format(
    mod=_SCD2_MOD, delta=_SCD2_DELTA
)


_SCD2_CORE_SQL = f"""
WITH base AS (
  SELECT s_suppkey, s_name, s_acctbal FROM supplier),
changed AS (
  SELECT * FROM base WHERE s_suppkey % {_SCD2_MOD} = 0),
closed AS (
  SELECT s_suppkey, s_name, s_acctbal,
         DATE '{_SCD2_EPOCH}' AS valid_from, DATE '{_SCD2_BATCH}' AS valid_to,
         FALSE AS is_current
  FROM changed),
opened AS (
  SELECT s_suppkey, s_name, s_acctbal + {_SCD2_DELTA} AS s_acctbal,
         DATE '{_SCD2_BATCH}' AS valid_from, DATE '{_SCD2_OPEN}' AS valid_to,
         TRUE AS is_current
  FROM changed),
untouched AS (
  SELECT s_suppkey, s_name, s_acctbal,
         DATE '{_SCD2_EPOCH}' AS valid_from, DATE '{_SCD2_OPEN}' AS valid_to,
         TRUE AS is_current
  FROM base WHERE s_suppkey NOT IN (SELECT s_suppkey FROM changed))
SELECT * FROM untouched
UNION ALL SELECT * FROM closed
UNION ALL SELECT * FROM opened
"""

SUPPLIER_SCD2_SQL = _SCD2_CORE_SQL + "ORDER BY s_suppkey, valid_from\n"


def lineitem_pit_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each lineitem resolves the supplier dimension
    VERSION that was valid on its ship date — the leakage-free temporal
    lookup a feature store does when assembling training data (joining
    today's attributes onto yesterday's facts is label leakage; the gate
    pins the interval semantics: valid_from <= ship_date < valid_to).

    Plan: equi-join on s_suppkey with the interval predicate as a join
    residual; the versioned dimension is dimension-sized (versions x
    suppliers), so it broadcasts — the fact table never shuffles.  The
    aggregate proves every row matched exactly one version (n_items
    across versions == lineitem count).  At 100 TB: same broadcast, or a
    bucketed join on suppkey when the dimension outgrows the threshold."""
    li, = _t(spark, sf_dir, "lineitem")
    dim = supplier_scd2(spark, sf_dir)
    ship = F.to_date("l_shipdate").alias("ship_date")
    fact = li.select(F.col("l_suppkey"), ship, F.col("l_extendedprice"))
    joined = fact.join(
        F.broadcast(dim),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("valid_from") <= F.col("ship_date"))
        & (F.col("ship_date") < F.col("valid_to")),
    )
    return (
        joined.groupBy("is_current")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("is_current")
    )


LINEITEM_PIT_SUPPLIER_SQL = f"""
WITH scd AS ({_SCD2_CORE_SQL})
SELECT s.is_current, COUNT(*) AS n_items,
       COUNT(DISTINCT s.s_suppkey) AS n_suppliers,
       {dsum_sql('l.l_extendedprice')} AS sum_price
FROM lineitem l
JOIN scd s ON l.l_suppkey = s.s_suppkey
          AND s.valid_from <= CAST(l.l_shipdate AS DATE)
          AND CAST(l.l_shipdate AS DATE) < s.valid_to
GROUP BY s.is_current
ORDER BY s.is_current
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggressive-canonicalization dedup: lowercase, strip everything
    non-alphanumeric to single spaces, then group by the md5 of the
    canonical text (catches near-dups that differ only in punctuation,
    casing, or whitespace — the URL/boilerplate-normalization step of a
    training-data pipeline).  Same single-shuffle shape as dedup_exact,
    stricter key."""
    (docs,) = _t(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        docs.withColumn("fp", F.md5(canon))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("survivor_id")
    )


DEDUP_CANONICAL_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY fp
ORDER BY survivor_id
"""


def info_schema_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.columns over the registered catalog (reference
    parity: it enables DataFusion's information_schema,
    examples/parquet.rs:8 and examples/tpchgen.rs:9).  Metadata is
    driver-side catalog state in every engine; type names use the ANSI
    spelling so the view value-matches DuckDB's information_schema."""
    from ..catalog import information_schema_columns

    return information_schema_columns(spark, sf_dir).orderBy(
        "table_name", "ordinal_position"
    )


_INFO_TABLES_IN = ", ".join(
    f"'{t}'"
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
)

INFO_SCHEMA_COLUMNS_SQL = f"""
SELECT table_name, column_name,
       CAST(ordinal_position AS INTEGER) AS ordinal_position, data_type
FROM information_schema.columns
WHERE table_name IN ({_INFO_TABLES_IN})
ORDER BY table_name, ordinal_position
"""


# recall-audit oracles compose the component gates' full SQL bodies as
# derived tables — substituted here, after every component string exists
DEDUP_LSH_RECALL_AUDIT_SQL = _DEDUP_LSH_RECALL_AUDIT_TMPL.format(
    NGRAM=DEDUP_NGRAM_JACCARD_SQL, LSH=DEDUP_MINHASH_LSH_SQL
)
def _ann_recall_audit_sql() -> str:
    """Per-method CTE chains (each method's SCORED pair query inlined as
    a derived table, so CTE names inside them cannot collide), then one
    stats row per method — mirrors the Spark builder column-for-column."""

    def block(tag: str, scored_sql: str, score: str, direction: str) -> str:
        return f"""{tag}_sc AS MATERIALIZED (
  SELECT query_id, cand_id, {score} FROM ({scored_sql})),
{tag}_top AS (
  SELECT query_id, cand_id FROM ({query_rank_sql(f'{tag}_sc', f'{score} {direction}')})
  WHERE rank <= {_TOPK}),
{tag}_pq AS (
  SELECT g.query_id, COUNT(a.cand_id) AS h, COUNT(*) AS g
  FROM gold g LEFT JOIN {tag}_top a
    ON a.query_id = g.query_id AND a.cand_id = g.cand_id
  GROUP BY g.query_id),
{tag}_row AS (
  SELECT '{tag}' AS method,
         CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(g) AS BIGINT) AS n_gold,
         CAST(SUM(h) AS BIGINT) AS n_hits,
         CAST(SUM(h) AS DOUBLE) / CAST(SUM(g) AS DOUBLE) AS recall_at_k,
         CAST(MIN(h) AS BIGINT) AS min_hits_per_query,
         CAST(MAX(h) AS BIGINT) AS max_hits_per_query,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}_sc) AS n_cand_pairs,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM {tag}_sc)
           / (CAST(COUNT(*) AS DOUBLE)
              * ((SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings) - 1.0))
           AS cand_frac
  FROM {tag}_pq)"""

    return f"""
WITH gold AS (
  SELECT query_id, cand_id FROM ({ANN_BRUTEFORCE_SQL})),
{block('ivf', _IVF_SCORED_SQL, 'cos_sim', 'DESC')},
{block('ivfpq', _IVF_PQ_SCORED_SQL, 'adc_dist', 'ASC')},
{block('ivfpq_refine', _IVF_PQ_REFINE_SCORED_SQL, 'cos_sim', 'DESC')},
{block('srp', _SRP_SCORED_SQL, 'cos_sim', 'DESC')}
SELECT * FROM ivf_row UNION ALL SELECT * FROM ivfpq_row
UNION ALL SELECT * FROM ivfpq_refine_row
UNION ALL SELECT * FROM srp_row ORDER BY method
"""


ANN_RECALL_AUDIT_SQL = _ann_recall_audit_sql()


SPECS: list[QuerySpec] = [
    QuerySpec("info_schema_columns", info_schema_columns, INFO_SCHEMA_COLUMNS_SQL,
              "information_schema.columns metadata view (cross-engine)"),
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL, "exact dedup by fingerprint"),
    QuerySpec("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL,
              "incoming-batch vs corpus anti-join dedup"),
    QuerySpec("dedup_incremental_lsh", dedup_incremental_lsh,
              DEDUP_INCREMENTAL_LSH_SQL,
              "incoming batch probes the prebuilt LSH index (near-dup admission)"),
    QuerySpec("dedup_persisted_lsh", dedup_persisted_lsh,
              DEDUP_INCREMENTAL_LSH_SQL,
              "LSH admission from PERSISTED band-partitioned bucket index artifacts"),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL,
              "3-gram Jaccard near-dup pairs"),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL,
              "MinHash(16)+LSH banded candidate pairs"),
    QuerySpec("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL, "16-bit SimHash"),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL,
              "cosine>=0.95 near-dup pairs"),
    QuerySpec("dedup_semantic", dedup_semantic, DEDUP_SEMANTIC_SQL,
              "banded SRP-LSH candidates + exact cosine verify (sub-quadratic)"),
    QuerySpec("dedup_semantic_clusters", dedup_semantic_clusters,
              DEDUP_SEMANTIC_CLUSTERS_SQL,
              "connected-components cluster formation + survivor election"),
    QuerySpec("dedup_cluster_quality_elect", dedup_cluster_quality_elect,
              DEDUP_CLUSTER_QUALITY_ELECT_SQL,
              "best-quality survivor per near-dup cluster (hash-agg argmax)"),
    QuerySpec("embeddings_knn_graph", embeddings_knn_graph,
              EMBEDDINGS_KNN_GRAPH_SQL,
              "mutual top-k cosine neighbor graph over LSH candidates"),
    QuerySpec("embedding_centroids", embedding_centroids, EMBEDDING_CENTROIDS_SQL,
              "per-label embedding centroids (long-form fixed-point mean)"),
    QuerySpec("ann_bruteforce_topk", ann_bruteforce_topk, ANN_BRUTEFORCE_SQL,
              "brute-force cosine top-k"),
    QuerySpec("ann_lsh_topk", ann_lsh_topk, ANN_LSH_SQL,
              "sign-random-projection LSH top-k"),
    QuerySpec("ann_filtered_topk", ann_filtered_topk, ANN_FILTERED_SQL,
              "predicate-filtered ANN: label filter pushed below the LSH probe"),
    QuerySpec("ann_pq_topk", ann_pq_topk, ANN_PQ_SQL,
              "product-quantization ADC scan: fixed sub-codebooks, 4-byte codes"),
    QuerySpec("ann_pq_persisted_topk", ann_pq_persisted_topk, ANN_PQ_SQL,
              "PQ ADC serve from persisted codebooks + codes artifacts; "
              "bit-identical ranking to ann_pq_topk"),
    QuerySpec("ann_ivf_topk", ann_ivf_topk, ANN_IVF_SQL,
              "IVF-flat top-k: trained (exact-Lloyd) centroids, nprobe cell union"),
    QuerySpec("ann_ivf_pq_topk", ann_ivf_pq_topk, ANN_IVF_PQ_SQL,
              "IVF-PQ: cell-pruned ADC scan, one-pass fused index build"),
    QuerySpec("ann_ivf_pq_persisted_topk", ann_ivf_pq_persisted_topk,
              ANN_IVF_PQ_SQL,
              "persisted IVF-PQ serve: partition-pruned code cells, "
              "in-plan ADC decode; bit-identical to ann_ivf_pq_topk"),
    QuerySpec("ann_ivf_pq_refine_topk", ann_ivf_pq_refine_topk,
              ANN_IVF_PQ_REFINE_SQL,
              "IVF-PQ + refine: exact re-rank of the ADC shortlist (constant raw IO)"),
    QuerySpec("ann_persisted_index_topk", ann_persisted_index_topk,
              ANN_IVF_SQL,
              "IVF serve from persisted parquet index: build once, "
              "partition-pruned probed-cell scans, fresh-session serve"),
    QuerySpec("dedup_lsh_recall_audit", dedup_lsh_recall_audit,
              DEDUP_LSH_RECALL_AUDIT_SQL,
              "LSH candidate recall/efficiency vs the exact-Jaccard baseline"),
    QuerySpec("ann_recall_audit", ann_recall_audit, ANN_RECALL_AUDIT_SQL,
              "recall@k + measured candidate fraction per ANN family (IVF vs SRP)"),
    QuerySpec("embeddings_sq8_recall", embeddings_sq8_recall,
              EMBEDDINGS_SQ8_RECALL_SQL,
              "int8 scalar-quantization compression with recall@k audit"),
    QuerySpec("pq_distortion_audit", pq_distortion_audit,
              PQ_DISTORTION_AUDIT_SQL,
              "PQ reconstruction-error audit: exact corpus distortion stats"),
    QuerySpec("dedup_threshold_sweep", dedup_threshold_sweep,
              DEDUP_THRESHOLD_SWEEP_SQL,
              "threshold sensitivity sweep over the shared near-dup pairs"),
    QuerySpec("text_stats", text_stats, TEXT_STATS_SQL, "token/char/punct stats"),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_SQL, "quality scoring"),
    QuerySpec("lang_id", lang_id, LANG_ID_SQL, "stopword-based language ID"),
    QuerySpec("lang_id_metrics", lang_id_metrics, LANG_ID_METRICS_SQL,
              "per-class precision/recall/F1 of the language-ID heuristic"),
    QuerySpec("doc_winnow", doc_winnow, DOC_WINNOW_SQL,
              "winnowing rolling-hash document fingerprints"),
    QuerySpec("top_docs_per_lang", top_docs_per_lang, TOP_DOCS_PER_LANG_SQL,
              "grouped top-k (k longest docs per language)"),
    QuerySpec("docs_stratified_sample", docs_stratified_sample, DOCS_STRATIFIED_SAMPLE_SQL,
              "deterministic hash-based stratified sampling with IP weights"),
    QuerySpec("token_topk", token_topk, TOKEN_TOPK_SQL,
              "exact corpus heavy hitters (top-k words)"),
    QuerySpec("tfidf_top_terms", tfidf_top_terms, TFIDF_TOP_TERMS_SQL,
              "per-doc top-k TF-IDF terms (log-free linear idf)"),
    QuerySpec("docs_bm25_topk", docs_bm25_topk, DOCS_BM25_SQL,
              "BM25 ranking: tf saturation + length norm, ratio-form idf"),
    QuerySpec("dedup_simhash_hamming1", dedup_simhash_hamming1,
              DEDUP_SIMHASH_HAMMING1_SQL,
              "multi-probe SimHash: Hamming<=1 pairs via 17-probe equi-join"),
    QuerySpec("docs_quality_filter", docs_quality_filter, DOCS_QUALITY_FILTER_SQL,
              "adaptive per-lang median-threshold quality filter"),
    QuerySpec("docs_length_quartiles", docs_length_quartiles,
              DOCS_LENGTH_QUARTILES_SQL,
              "per-lang NTILE(4) length quartiles"),
    QuerySpec("customer_set_ops", customer_set_ops, CUSTOMER_SET_OPS_SQL,
              "UNION ALL / INTERSECT / EXCEPT composition"),
    QuerySpec("orders_rollup", orders_rollup, ORDERS_ROLLUP_SQL,
              "ROLLUP multi-level aggregation"),
    QuerySpec("tables_listing", tables_listing, TABLES_LISTING_SQL,
              "catalog listing (tpch() result shape / SHOW TABLES)"),
    QuerySpec("multimodal_pixel_stats", multimodal_pixel_stats, MULTIMODAL_PIXEL_STATS_SQL,
              "binary asset column -> mapInPandas decode stub -> pixel stats"),
    QuerySpec("multimodal_exif_census", multimodal_exif_census,
              MULTIMODAL_EXIF_CENSUS_SQL,
              "EXIF/APP1 metadata census: byte-level TIFF IFD parse, "
              "GPS decimal degrees, absent/partial cohorts"),
    QuerySpec("multimodal_exif_thumb_scrub", multimodal_exif_thumb_scrub,
              MULTIMODAL_EXIF_THUMB_SCRUB_SQL,
              "thumbnail-IFD-aware GPS scrub: IFD1 relocated, GPS gone from both IFDs"),
    QuerySpec("multimodal_exif_full_scrub", multimodal_exif_full_scrub,
              MULTIMODAL_EXIF_FULL_SCRUB_SQL,
              "full camera-layout GPS scrub: ExifIFD/InteropIFD sub-IFD tree "
              "relocated, thumbnail kept, GPS gone everywhere"),
    QuerySpec("multimodal_exif_gps_scrub", multimodal_exif_gps_scrub,
              MULTIMODAL_EXIF_GPS_SCRUB_SQL,
              "GPS PII scrub with fused in-plan proof: GPS gone, EXIF kept, "
              "pixels bit-identical"),
    QuerySpec("multimodal_orientation_dedup", multimodal_orientation_dedup,
              MULTIMODAL_ORIENTATION_DEDUP_SQL,
              "orientation-invariant image dedup: EXIF-normalized rasters "
              "collapse rotated/flipped copies under one exact groupBy"),
    QuerySpec("multimodal_decode_roundtrip", multimodal_decode_roundtrip,
              MULTIMODAL_DECODE_ROUNDTRIP_SQL,
              "PGM encode -> binary column -> REAL header+raster decode -> stats"),
    QuerySpec("multimodal_wav_roundtrip", multimodal_wav_roundtrip,
              MULTIMODAL_WAV_ROUNDTRIP_SQL,
              "RIFF/WAVE encode -> binary column -> REAL chunk-walk PCM decode"),
    QuerySpec("multimodal_wav_stereo_roundtrip", multimodal_wav_stereo_roundtrip,
              MULTIMODAL_WAV_STEREO_SQL,
              "2-channel interleaved PCM16: per-channel energies + covariance"),
    QuerySpec("multimodal_png_roundtrip", multimodal_png_roundtrip,
              MULTIMODAL_PNG_ROUNDTRIP_SQL,
              "PNG encode (zlib deflate, all 5 filters) -> REAL inflate+unfilter decode"),
    QuerySpec("multimodal_png_palette_roundtrip", multimodal_png_palette_roundtrip,
              MULTIMODAL_PNG_PALETTE_SQL,
              "paletted (color-type-3) PNG: PLTE chunk walk + index unfilter + palette map"),
    QuerySpec("multimodal_png16_roundtrip", multimodal_png16_roundtrip,
              MULTIMODAL_PNG16_SQL,
              "depth-16 PNG: byte-level bpp-6 filters + big-endian sample reassembly"),
    QuerySpec("multimodal_png_adam7_roundtrip", multimodal_png_adam7_roundtrip,
              MULTIMODAL_PNG_ADAM7_SQL,
              "Adam7-interlaced PNG: per-pass unfilter + pixel-grid scatter"),
    QuerySpec("multimodal_gif_roundtrip", multimodal_gif_roundtrip,
              MULTIMODAL_GIF_SQL,
              "GIF87a: real LZW compress/decompress + palette map"),
    QuerySpec("multimodal_jpeg_roundtrip", multimodal_jpeg_roundtrip,
              MULTIMODAL_JPEG_SQL,
              "baseline JPEG: DCT + Huffman encode/decode, bit-exact"),
    QuerySpec("multimodal_gif89a_roundtrip", multimodal_gif89a_roundtrip,
              MULTIMODAL_GIF89A_SQL,
              "GIF89a: extension-block walk + 4-pass de-interlace"),
    QuerySpec("multimodal_jpeg420_roundtrip", multimodal_jpeg420_roundtrip,
              MULTIMODAL_JPEG420_SQL,
              "4:2:0 color JPEG: 6-block MCU interleave + chroma resample"),
    QuerySpec("multimodal_phash_dedup", multimodal_phash_dedup,
              MULTIMODAL_PHASH_DEDUP_SQL,
              "perceptual image dedup: PNG decode -> dHash -> Hamming<=1 multi-probe"),
    QuerySpec("multimodal_jpeg_dri_roundtrip", multimodal_jpeg_dri_roundtrip,
              MULTIMODAL_JPEG_DRI_SQL,
              "DRI/RSTn 4:2:0 JPEG: byte-aligned restarts + predictor resets"),
    QuerySpec("multimodal_video_frames", multimodal_video_frames,
              MULTIMODAL_VIDEO_FRAMES_SQL,
              "AVI/MJPEG container walk + stride-2 frame sampling + decode"),
    QuerySpec("multimodal_gif_anim_frames", multimodal_gif_anim_frames,
              MULTIMODAL_GIF_ANIM_SQL,
              "animated GIF: transparency + delta frames + disposal compose"),
    QuerySpec("multimodal_jpeg_prog_roundtrip", multimodal_jpeg_prog_roundtrip,
              MULTIMODAL_JPEG_PROG_SQL,
              "progressive JPEG: multi-scan spectral selection + SA reassembly"),
    QuerySpec("multimodal_cross_codec_dedup", multimodal_cross_codec_dedup,
              MULTIMODAL_CROSS_CODEC_SQL,
              "cross-codec image dedup: PNG+BMP magic dispatch -> dHash groups"),
    QuerySpec("multimodal_audio_fp_dedup", multimodal_audio_fp_dedup,
              MULTIMODAL_AUDIO_FP_SQL,
              "audio fingerprint dedup: gain-invariant frame-energy hash"),
    QuerySpec("multimodal_audio_clip_dedup", multimodal_audio_clip_dedup,
              MULTIMODAL_AUDIO_CLIP_DEDUP_SQL,
              "shift-tolerant audio near-dup: winnowed bit-shingles + containment"),
    QuerySpec("multimodal_phash_band_dedup", multimodal_phash_band_dedup,
              MULTIMODAL_PHASH_BAND_DEDUP_SQL,
              "Hamming<=2 image near-dup via pigeonhole 16-bit bands + popcount verify"),
    QuerySpec("multimodal_video_clip_dedup", multimodal_video_clip_dedup,
              MULTIMODAL_VIDEO_CLIP_DEDUP_SQL,
              "clip-level near-dup: winnowed frame-shingle fingerprints + containment"),
    QuerySpec("multimodal_video_clip_recall_audit",
              multimodal_video_clip_recall_audit,
              MULTIMODAL_VIDEO_CLIP_RECALL_AUDIT_SQL,
              "clip-dedup quality loop: recall/precision vs doc-id-arithmetic truth"),
    QuerySpec("multimodal_video_frame_dedup", multimodal_video_frame_dedup,
              MULTIMODAL_VIDEO_FRAME_DEDUP_SQL,
              "video frame dedup: per-frame block signatures grouped exactly"),
    QuerySpec("multimodal_scale_invariant_dedup",
              multimodal_scale_invariant_dedup,
              MULTIMODAL_SCALE_INVARIANT_SQL,
              "multi-resolution image dedup: dHash normalizes scale away"),
    QuerySpec("multimodal_phash_recall_audit", multimodal_phash_recall_audit,
              MULTIMODAL_PHASH_RECALL_AUDIT_SQL,
              "image-dedup quality loop: recall/precision vs arithmetic truth"),
    QuerySpec("events_hourly", events_hourly, EVENTS_HOURLY_SQL, "tumbling window agg"),
    QuerySpec("events_sessionize", events_sessionize, EVENTS_SESSIONIZE_SQL,
              "gap-based sessionization"),
    QuerySpec("events_cdc_merge", events_cdc_merge, EVENTS_CDC_MERGE_SQL,
              "CDC upsert-merge: compacted changelog into base snapshot"),
    QuerySpec("events_scd2_history", events_scd2_history, EVENTS_SCD2_SQL,
              "SCD Type-2: change feed to validity intervals + dwell"),
    QuerySpec("events_rollup_cascade", events_rollup_cascade,
              EVENTS_ROLLUP_CASCADE_SQL,
              "continuous-aggregate cascade: minute -> hour -> day partials"),
    QuerySpec("events_json_extract", events_json_extract, EVENTS_JSON_SQL,
              "JSON prop extraction + agg"),
    QuerySpec("events_pivot", events_pivot, EVENTS_PIVOT_SQL,
              "PIVOT: daily counts, one column per event type"),
    QuerySpec("events_moving_avg", events_moving_avg, EVENTS_MOVING_AVG_SQL,
              "7-day moving average via fixed-point ROWS frame"),
    QuerySpec("customer_orders_full_outer", customer_orders_full_outer,
              CUSTOMER_ORDERS_FULL_OUTER_SQL,
              "FULL OUTER join with coalesced sides"),
    QuerySpec("events_asof_join", events_asof_join, EVENTS_ASOF_SQL,
              "as-of join: latest click <= purchase ts per user (union+window plan)"),
    QuerySpec("events_range_join", events_range_join, EVENTS_RANGE_JOIN_SQL,
              "bucketized interval join: events vs padded busy-hour ranges"),
    QuerySpec("events_salted_enrich", events_salted_enrich, EVENTS_SALTED_ENRICH_SQL,
              "salted skew-defended hot-key join (row-identical to plain join)"),
    QuerySpec("events_user_retention", events_user_retention, EVENTS_USER_RETENTION_SQL,
              "cohort retention curve by day-offset from first-seen"),
    QuerySpec("events_kmv_distinct", events_kmv_distinct, EVENTS_KMV_SQL,
              "KMV distinct-count sketch (cross-engine-deterministic)"),
    QuerySpec("events_value_quantiles", events_value_quantiles, EVENTS_QUANTILES_SQL,
              "exact nearest-rank quantiles (p50/p90/p99)"),
    QuerySpec("events_funnel", events_funnel, EVENTS_FUNNEL_SQL,
              "ordered conversion funnel (view -> click -> purchase)"),
    QuerySpec("orders_cube", orders_cube, ORDERS_CUBE_SQL,
              "CUBE grouping-sets aggregation with GROUPING id"),
    QuerySpec("events_gapfill", events_gapfill, EVENTS_GAPFILL_SQL,
              "dense hourly spine + LOCF gap filling"),
    QuerySpec("events_histogram", events_histogram, EVENTS_HISTOGRAM_SQL,
              "fixed-width value histogram (exact, one aggregation)"),
    QuerySpec("lineitem_bloom_semi", lineitem_bloom_semi, LINEITEM_BLOOM_SEMI_SQL,
              "bloom-prefiltered semi-join (row-identical to plain semi)"),
    QuerySpec("orders_merge_upsert", orders_merge_upsert, ORDERS_MERGE_UPSERT_SQL,
              "MERGE/CDC upsert via anti-join + union"),
    QuerySpec("dedup_canonical", dedup_canonical, DEDUP_CANONICAL_SQL,
              "punctuation/case-insensitive canonicalization dedup"),
    QuerySpec("docs_pmi_bigrams", docs_pmi_bigrams, DOCS_PMI_BIGRAMS_SQL,
              "top collocations by linear-PMI over adjacent word pairs"),
    QuerySpec("docs_lm_score", docs_lm_score, DOCS_LM_SCORE_SQL,
              "bigram-LM fluency score (add-one smoothed, perplexity proxy)"),
    QuerySpec("events_pagerank", events_pagerank, EVENTS_PAGERANK_SQL,
              "weighted PageRank on the event-type transition graph (iterative)"),
    QuerySpec("supplier_scd2", supplier_scd2, SUPPLIER_SCD2_SQL,
              "SCD type-2 dimension maintenance: close/open versioned rows"),
    QuerySpec("lineitem_zorder", lineitem_zorder, LINEITEM_ZORDER_SQL,
              "Z-order clustering buckets with bounding-box skipping stats"),
    QuerySpec("lineitem_delta_agg", lineitem_delta_agg, LINEITEM_DELTA_AGG_SQL,
              "incremental MV maintenance: mergeable partial state vs full recompute"),
    QuerySpec("events_anomaly", events_anomaly, EVENTS_ANOMALY_SQL,
              "2-sigma hourly volume anomalies, division-free integer algebra"),
    QuerySpec("events_distribution_drift", events_distribution_drift,
              EVENTS_DISTRIBUTION_DRIFT_SQL,
              "snapshot drift monitor: exact-integer TVD per event type"),
    QuerySpec("events_concurrency", events_concurrency, EVENTS_CONCURRENCY_SQL,
              "sweep-line peak concurrency per event type (interval algebra)"),
    QuerySpec("lineitem_pit_supplier", lineitem_pit_supplier, LINEITEM_PIT_SUPPLIER_SQL,
              "point-in-time join to SCD2 dimension versions (leakage-free lookup)"),
    QuerySpec("events_kmv_setops", events_kmv_setops, EVENTS_KMV_SETOPS_SQL,
              "KMV sketch union/intersection estimates (mergeable set algebra)"),
    QuerySpec("multimodal_frame_sample", multimodal_frame_sample,
              MULTIMODAL_FRAME_SAMPLE_SQL,
              "blob -> N frame rows fan-out via Arrow mapInPandas"),
    QuerySpec("multimodal_audio_energy", multimodal_audio_energy,
              MULTIMODAL_AUDIO_ENERGY_SQL,
              "audio PCM framed energy over the real binary column"),
]
