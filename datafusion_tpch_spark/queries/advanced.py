"""Advanced relational / graph / linkage / sketch operators.

Round-3 widening of the operator surface beyond the reference's own scope
(`/root/reference/src/lib.rs` stops at generate+register+COPY; SURVEY.md
tags these Tier C north-star): snapshot-diff CDC changelog generation,
degree-bounded triangle counting, window-based skyline (Pareto frontier),
inter-document chunk dedup, blocked fuzzy record linkage, an HLL-style
distinct sketch with integer-exact registers, an exact Gram matrix over
the embedding table, and a bucketed co-located join wired into a live
gate.

Same design rules as the rest of the extension surface: JVM-side
built-ins only, one hash shuffle per aggregation, every gate mirrored by
a DuckDB oracle with identical column names and integer-or-quantized
outputs so the driver's value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing, text
from ..functions.exact import dsum, dsum_sql
from ..operators.reuse import evaluate_once
from . import QuerySpec
from .extensions import _t

_SCRATCH_REGISTERED: set[str] = set()


def _scratch_path(kind: str, sf_dir: str) -> str:
    """Per-process scratch dir for the write-roundtrip gates.  The pid
    keeps concurrent processes (driver gate + a local bench run) from
    racing on one path; an atexit hook removes the dir so repeated runs
    don't accumulate fixture-sized copies in /tmp.  Within a process the
    gates still reuse the written files via their _SUCCESS checks."""
    import atexit
    import os
    import shutil

    tag = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/spark_graft_{kind}_{os.getpid()}_{tag}"
    if path not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, True)
    return path

# ===========================================================================
# Snapshot-diff CDC changelog
# ===========================================================================

_CDC_UPD = 101          # every 101st order gets a price restatement
_CDC_DEL = 83           # every 83rd (not also updated) order is cancelled
_CDC_SHIFT = 800_000_000  # synthetic insert keys, disjoint from real ones


def orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog *generation*: diff two table snapshots into
    insert/update/delete rows — the inverse of ``orders_merge_upsert``
    (which applies a change batch).  Snapshot B is derived from A by a
    deterministic rule (restate every {upd}th price, cancel every {del}th
    order, add shifted-key inserts); the changelog is one FULL OUTER join
    on the key classifying each side: A-only = delete, B-only = insert,
    both-with-different-payload = update.  At scale this is the standard
    snapshot-export→changelog pattern (one co-partitioned shuffle on the
    key; unchanged rows never leave the join)."""
    (o,) = _t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    upd = (F.col("o_orderkey") % _CDC_UPD == 0)
    dele = (F.col("o_orderkey") % _CDC_DEL == 0) & ~upd
    b = (
        a.filter(~dele)
        .withColumn(
            "o_totalprice",
            F.when(upd, F.col("o_totalprice") + 500.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            a.filter(upd).select(
                (F.col("o_orderkey") + _CDC_SHIFT).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    j = a.withColumnRenamed("o_totalprice", "old_price").join(
        b.withColumnRenamed("o_totalprice", "new_price"),
        "o_orderkey",
        "full_outer",
    )
    chg = j.withColumn(
        "change_type",
        F.when(F.col("new_price").isNull(), F.lit("delete"))
        .when(F.col("old_price").isNull(), F.lit("insert"))
        .when(F.col("old_price") != F.col("new_price"), F.lit("update")),
    ).filter(F.col("change_type").isNotNull())
    return (
        chg.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            dsum(F.coalesce(F.col("old_price"), F.lit(0.0))).alias("sum_old"),
            dsum(F.coalesce(F.col("new_price"), F.lit(0.0))).alias("sum_new"),
        )
        .orderBy("change_type")
    )


ORDERS_CHANGELOG_SQL = f"""
WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_CDC_UPD} = 0 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS o_totalprice
  FROM a
  WHERE NOT (o_orderkey % {_CDC_DEL} = 0 AND o_orderkey % {_CDC_UPD} <> 0)
  UNION ALL
  SELECT o_orderkey + {_CDC_SHIFT}, o_totalprice
  FROM a WHERE o_orderkey % {_CDC_UPD} = 0),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         a.o_totalprice AS old_price, b.o_totalprice AS new_price
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
chg AS (
  SELECT CASE WHEN new_price IS NULL THEN 'delete'
              WHEN old_price IS NULL THEN 'insert'
              WHEN old_price <> new_price THEN 'update' END AS change_type,
         old_price, new_price
  FROM j)
SELECT change_type, COUNT(*) AS n_changes,
       {dsum_sql('COALESCE(old_price, 0.0)')} AS sum_old,
       {dsum_sql('COALESCE(new_price, 0.0)')} AS sum_new
FROM chg WHERE change_type IS NOT NULL
GROUP BY change_type ORDER BY change_type
"""


# ===========================================================================
# Triangle counting on the event-type transition graph
# ===========================================================================

def events_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the undirected event-type transition
    graph (same edge derivation as ``events_pagerank``).  Each edge is
    oriented low-node → high-node, so every triangle {a<b<c} is produced
    exactly once by the two-hop join (a,b)+(b,c) probed against (a,c) —
    the node-ordered orientation bounds join fan-out the same way the
    degree-ordered variant does on power-law graphs (orient toward the
    higher-degree endpoint when degrees are skewed; node order suffices
    for this near-uniform graph).  Two shuffles total, both on edge
    endpoints."""
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    e = seq.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
        .orderBy("a", "b", "c")
    )


EVENTS_TRIANGLE_COUNT_SQL = """
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM seq WHERE dst IS NOT NULL AND src <> dst)
SELECT e1.a AS a, e1.b AS b, e2.b AS c
FROM e e1
JOIN e e2 ON e2.a = e1.b
WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
ORDER BY a, b, c
"""


# ===========================================================================
# Skyline (Pareto frontier)
# ===========================================================================



def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of ``part``: rows not dominated on (minimize
    p_retailprice, maximize p_size).  The classic O(n²) NOT-EXISTS
    dominance test (which the oracle runs) becomes an O(n log n)
    window plan: a row survives iff its size beats the max size over all
    strictly-cheaper rows AND no same-price row is strictly larger.  The
    strictly-cheaper running max is a range-partitioned two-pass prefix
    scan over the distinct-price table: range-repartition by price, run
    the prefix max locally within each range shard, and combine with the
    max over all earlier shards (one boundary exchange of #shards rows
    via a broadcast triangle join) — no task ever sorts more than one
    price range, so the scan holds at any |price domain|."""
    from ..operators.selection import sharded_prefix

    (p,) = _t(spark, sf_dir, "part")
    base = p.select("p_partkey", "p_retailprice", "p_size")
    same_w = Window.partitionBy("p_retailprice")
    with_max = base.withColumn("pmax", F.max("p_size").over(same_w))
    prices = sharded_prefix(
        with_max.select("p_retailprice", "pmax").distinct(),
        order_by=["p_retailprice"],
        value=F.col("pmax"),
        agg="max",
        inclusive=False,
        out_col="prevmax",
    )
    return (
        with_max.join(prices.select("p_retailprice", "prevmax"), "p_retailprice")
        .filter(
            (F.col("prevmax").isNull() | (F.col("prevmax") < F.col("p_size")))
            & (F.col("p_size") == F.col("pmax"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


PART_SKYLINE_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""


# ===========================================================================
# Inter-document chunk dedup
# ===========================================================================

_CHUNK_W = 10  # words per chunk


def docs_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) dedup: split every document into
    non-overlapping {w}-word chunks and, per document, count how many of
    its chunk instances already appear in an earlier document (owner =
    min doc_id per distinct chunk) — the C4/RefinedWeb-style line-level
    dedup adapted to the fixture's unbroken word streams.  Plan: one
    explode, one (doc, chunk) aggregation, one chunk-keyed owner
    aggregation, one join back — all hash shuffles on the chunk
    fingerprint; nothing quadratic.  Intra-doc repetition is
    ``docs_repetition``'s job; this gate counts cross-doc duplication
    only."""
    (docs,) = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_chunks = ((F.size(words) + F.lit(_CHUNK_W - 1)) / _CHUNK_W).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * _CHUNK_W + 1, _CHUNK_W), " "),
    )
    inst = docs.select(
        "doc_id", F.explode(chunks).alias("chunk")
    )
    per = evaluate_once(
        inst.groupBy("doc_id", "chunk").agg(F.count(F.lit(1)).alias("cnt"))
    )
    owner = per.groupBy("chunk").agg(F.min("doc_id").alias("owner"))
    return (
        per.join(owner, "chunk")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.sum(
                F.when(F.col("owner") < F.col("doc_id"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_chunks"),
        )
        .orderBy("doc_id")
    )


DOCS_CHUNK_DEDUP_SQL = f"""
WITH inst AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, (len(string_split(text, ' ')) + {_CHUNK_W - 1}) // {_CHUNK_W}),
           i -> array_to_string(
                  (string_split(text, ' '))[i * {_CHUNK_W} + 1 : (i + 1) * {_CHUNK_W}],
                  ' '))) AS chunk
  FROM documents),
per AS (SELECT doc_id, chunk, COUNT(*) AS cnt FROM inst GROUP BY doc_id, chunk),
owner AS (SELECT chunk, MIN(doc_id) AS owner FROM per GROUP BY chunk)
SELECT per.doc_id AS doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN owner < per.doc_id THEN cnt ELSE 0 END) AS BIGINT)
         AS n_dup_chunks
FROM per JOIN owner USING (chunk)
GROUP BY per.doc_id ORDER BY doc_id
"""


# ===========================================================================
# Blocked fuzzy record linkage
# ===========================================================================

_LINK_MOD = 3          # every 3rd customer contributes a corrupted record
_LINK_BLOCK_DIGITS = 7  # blocking key: first 7 digits of the numeric id part


def customer_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage with blocking: a deterministic dirty feed
    (every {mod}rd customer's name with one character dropped) is matched
    back to the clean roster by edit distance *within blocks* — the
    standard linkage shape (normalize → block → score → best-match
    election) that avoids the O(n·m) all-pairs compare.  The block key is
    derived from each record's own string (leading digits of the numeric
    part), so corruption in the alpha prefix never splits a block; each
    block holds ~100 candidates regardless of corpus size, keeping the
    join linear.  Best match per dirty record = min Levenshtein, ties to
    the lowest key — elected as min(struct(dist, key)), a plain hash
    aggregate with map-side combine (no per-group sort window)."""
    (c,) = _t(spark, sf_dir, "customer")

    def block(col):
        return F.substring(F.regexp_replace(col, "[^0-9]", ""), 1, _LINK_BLOCK_DIGITS)

    dirty = c.filter(F.col("c_custkey") % _LINK_MOD == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.col("c_nationkey").alias("dirty_nation"),
        F.concat(
            F.substring("c_name", 1, 4), F.substring(F.col("c_name"), 6, 100)
        ).alias("dirty_name"),
    )
    # The roster is broadcast, so the probe side needs no co-partitioning
    # — but it DOES need partitions: the fixture customer parquet is one
    # small file, so without this spread every levenshtein evaluation
    # (the dominant cost, |dirty|×block-size pairs) runs in ONE task.
    # Round-robin also immunizes against skewed blocks.  Measured 2.0 s
    # -> 0.95 s at sf0.1 on local[32].
    dirty = dirty.repartition(spark.sparkContext.defaultParallelism)
    clean = c.select("c_custkey", "c_name")
    cand = dirty.withColumn("blk", block(F.col("dirty_name"))).join(
        F.broadcast(clean.withColumn("blk", block(F.col("c_name")))), "blk"
    )
    scored = cand.withColumn(
        "dist", F.levenshtein("dirty_name", "c_name")
    )
    best = scored.groupBy("dirty_id", "dirty_nation").agg(
        F.min(F.struct("dist", "c_custkey")).alias("m")
    )
    return (
        best.groupBy(F.col("dirty_nation").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_dirty"),
            F.sum(
                F.when(F.col("m.c_custkey") == F.col("dirty_id"), 1).otherwise(0)
            ).alias("n_recovered"),
            F.sum("m.dist").cast("bigint").alias("sum_dist"),
        )
        .orderBy("c_nationkey")
    )


CUSTOMER_RECORD_LINKAGE_SQL = f"""
WITH dirty AS (
  SELECT c_custkey AS dirty_id, c_nationkey AS dirty_nation,
         substr(c_name, 1, 4) || substr(c_name, 6) AS dirty_name
  FROM customer WHERE c_custkey % {_LINK_MOD} = 0),
cand AS (
  SELECT d.dirty_id, d.dirty_nation, d.dirty_name, c.c_custkey, c.c_name,
         levenshtein(d.dirty_name, c.c_name) AS dist
  FROM dirty d JOIN customer c
    ON substr(regexp_replace(d.dirty_name, '[^0-9]', '', 'g'), 1, {_LINK_BLOCK_DIGITS})
     = substr(regexp_replace(c.c_name, '[^0-9]', '', 'g'), 1, {_LINK_BLOCK_DIGITS})),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id ORDER BY dist, c_custkey)
              AS rn
  FROM cand)
SELECT dirty_nation AS c_nationkey, COUNT(*) AS n_dirty,
       CAST(SUM(CASE WHEN c_custkey = dirty_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recovered,
       CAST(SUM(dist) AS BIGINT) AS sum_dist
FROM best WHERE rn = 1
GROUP BY dirty_nation ORDER BY c_nationkey
"""


# ===========================================================================
# HLL-style distinct sketch (integer-exact registers)
# ===========================================================================

_HLL_P = 6             # bucket bits
_HLL_M = 1 << _HLL_P   # buckets (64)
_HLL_RANK_BITS = 32    # rank domain: lowest set bit of a 32-bit suffix
_HLL_RANK_CAP = _HLL_RANK_BITS + 1
# denominator terms are scaled by 2^cap so SUM(2^(cap-R)) stays integer-exact
_HLL_ALPHA_NUM = 0.709 * _HLL_M * _HLL_M * float(1 << _HLL_RANK_CAP)
_POW2 = [1 << i for i in range(_HLL_RANK_CAP + 1)]


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-style distinct-user sketch per event type, built from
    integer-exact registers so the gate hash-matches across engines: the
    md5-derived hash splits into a bucket (low 6 bits) and a 32-bit
    suffix whose lowest-set-bit position is the register rank (an
    LSB-rank HLL variant — same register distribution, deterministic
    here).  The sketch is one (type, bucket) aggregation + one per-type
    reduce — the mergeable two-level shape that makes HLL the standard
    distinct-count at 100 TB (registers union with MAX, never re-scan).
    The harmonic denominator is kept scaled-integer (SUM of powers of
    two), and the raw estimate is a single floor'd double division —
    bit-identical cross-engine; the exact distinct count rides along to
    show the sketch error.  ``raw_est`` is the uncorrected HLL estimator:
    the standard small-range correction (linear counting
    ``m·ln(m/(m−m_used))`` when empty buckets remain) is a consumer-side
    final step on the emitted ``m_used`` column — kept out of the gate
    because ``ln`` is the one piece whose last-ulp behavior libm does not
    guarantee across engines, and everything this gate emits must
    hash-match exactly (the correction's accuracy is asserted in
    tests/test_advanced.py instead)."""
    (ev,) = _t(spark, sf_dir, "events")
    h = hashing.md5_int(F.col("user_id").cast("string"))
    hashed = ev.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        (F.shiftrightunsigned(h, _HLL_P) % F.lit(1 << _HLL_RANK_BITS)).alias("x"),
    )
    rank = F.when(F.col("x") == 0, F.lit(_HLL_RANK_CAP)).otherwise(
        F.length(F.bin(F.expr("x & -x")))
    )
    regs = (
        hashed.withColumn("rank", rank)
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    denom = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(
            F.element_at(F.lit(_POW2), (F.lit(_HLL_RANK_CAP) - F.col("r")) + 1)
        ).alias("occupied"),
    )
    est = denom.select(
        "event_type",
        "m_used",
        (
            F.col("occupied")
            + (F.lit(_HLL_M) - F.col("m_used")) * F.lit(_POW2[_HLL_RANK_CAP])
        ).alias("denom_scaled"),
    ).withColumn(
        "raw_est",
        F.floor(F.lit(_HLL_ALPHA_NUM) / F.col("denom_scaled").cast("double"))
        .cast("bigint"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


EVENTS_HLL_DISTINCT_SQL = f"""
WITH hashed AS (
  SELECT event_type, user_id,
         {hashing.md5_int_sql('CAST(user_id AS VARCHAR)')} % {_HLL_M} AS bucket,
         ({hashing.md5_int_sql('CAST(user_id AS VARCHAR)')} // {_HLL_M})
           % {1 << _HLL_RANK_BITS} AS x
  FROM events),
regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN x = 0 THEN {_HLL_RANK_CAP}
                  ELSE length(bin(x & -x)) END) AS r
  FROM hashed GROUP BY event_type, bucket),
denom AS (
  SELECT event_type, COUNT(*) AS m_used,
         CAST(SUM(1::BIGINT << ({_HLL_RANK_CAP} - r)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_RANK_CAP})
           AS denom_scaled
  FROM regs GROUP BY event_type),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT event_type, m_used, denom_scaled,
       CAST(floor({_HLL_ALPHA_NUM!r} / CAST(denom_scaled AS DOUBLE)) AS BIGINT)
         AS raw_est,
       exact_distinct
FROM denom JOIN exact USING (event_type)
ORDER BY event_type
"""


# ===========================================================================
# Exact Gram matrix over the embedding table
# ===========================================================================

_GRAM_D = 8  # leading dims; 36 upper-triangle entries


def embeddings_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix (XᵀX upper triangle) over the leading {d}
    embedding dimensions — the one-pass building block behind PCA /
    whitening / linear probes on embedding tables.  All {d}(d+1)/2
    entries are computed as independent quantized-exact sums in a single
    global aggregate: the map side reduces every partition to one partial
    row (classic map-side combine), so the shuffle is d² numbers per
    partition no matter how many vectors — the right plan at 100 TB,
    where the naive explode-to-(i,j)-rows alternative would shuffle 36×
    the corpus.  Products are computed in double on both engines
    (float→double widening is exact), then floor-quantized so the hash
    matches."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    aggs = []
    for i in range(_GRAM_D):
        for j in range(i, _GRAM_D):
            prod = (
                F.element_at("embedding", i + 1).cast("double")
                * F.element_at("embedding", j + 1).cast("double")
            )
            aggs.append(dsum(prod).alias(f"g{i}_{j}"))
    wide = emb.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, {j}, g{i}_{j}" for i in range(_GRAM_D) for j in range(i, _GRAM_D)
    )
    n = _GRAM_D * (_GRAM_D + 1) // 2
    return wide.select(
        F.expr(f"stack({n}, {stack_args}) AS (i, j, gram)")
    ).orderBy("i", "j")


EMBEDDINGS_GRAM_SQL = f"""
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       {dsum_sql(f'CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[j + 1] AS DOUBLE)')}
         AS gram
FROM embeddings, range(0, {_GRAM_D}) t1(i), range(0, {_GRAM_D}) t2(j)
WHERE i <= j
GROUP BY i, j ORDER BY i, j
"""


# ===========================================================================
# Bucketed co-located join (live gate for operators/bucketing.py)
# ===========================================================================

def customer_orders_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing wired into a live gate: write customer and orders
    bucketed by custkey once, then join and aggregate — the scan reports
    the bucketing as output partitioning, so the join plans with zero
    exchanges (proven in tests/test_bucketing.py via plans.audit; this
    gate proves the *results* match the plain-join oracle).  At 100 TB
    this is the move for any join edge used repeatedly: pay the shuffle
    at write time, once, instead of per query."""
    import atexit
    import os
    import shutil

    from ..operators.bucketing import bucketed_join, write_bucketed

    c, o = _t(spark, sf_dir, "customer", "orders")
    # table names carry the pid: the warehouse dir is shared between
    # concurrent Spark processes (verify + pytest racing on the same
    # managed-table location corrupts the write), and a previous session
    # with the same pid may have left directories behind without this
    # session's catalog knowing the tables.  Within a process the tables
    # are written ONCE per fixture and reused — that is the point of
    # bucketing (pay the shuffle at write time, once, not per query) —
    # and an atexit hook removes the per-pid dirs so repeated processes
    # don't accumulate copies in the warehouse.
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    tc = f"gate_customer_b_{os.getpid()}_{tag}"
    to = f"gate_orders_b_{os.getpid()}_{tag}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if not (spark.catalog.tableExists(tc) and spark.catalog.tableExists(to)):
        for t in (tc, to):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            loc = os.path.join(wh.removeprefix("file:"), t.lower())
            shutil.rmtree(loc, ignore_errors=True)
            atexit.register(shutil.rmtree, loc, True)
        write_bucketed(
            c.select(F.col("c_custkey").alias("custkey"), "c_mktsegment"),
            tc, ["custkey"], 8, sort_cols=["custkey"],
        )
        write_bucketed(
            o.select(F.col("o_custkey").alias("custkey"), "o_totalprice"),
            to, ["custkey"], 8, sort_cols=["custkey"],
        )
    j = bucketed_join(spark, tc, to, ["custkey"])
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


CUSTOMER_ORDERS_BUCKETED_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ===========================================================================
# Count-min sketch heavy hitters
# ===========================================================================

_CMS_D = 4     # hash rows
_CMS_W = 512   # counters per row
_CMS_TOPK = 20


def token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream, probed for the exact
    top-{k} heavy hitters.  The sketch is {d}×{w} integer counters — a
    *fixed-size, mergeable* summary (counters add across partitions /
    days / shards), which is the 100 TB answer when the vocabulary
    itself is too hot to shuffle per occurrence: the sketch build's
    shuffle carries at most d·w rows per partition regardless of corpus
    size.  Point estimate = min over the d row counters (always an
    overestimate; the gate emits exact and estimate side by side so the
    error is visible).  All hashing is the shared md5 scheme, so the
    oracle reproduces every counter bit-for-bit."""
    (docs,) = _t(spark, sf_dir, "documents")
    occ = docs.select(F.explode(text.words(F.col("text"))).alias("term"))
    rows = F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            (
                hashing.md5_int(
                    F.concat(F.col("term"), F.lit("#"), F.lit(str(r)))
                ) % _CMS_W
            ).alias("c"),
        )
        for r in range(_CMS_D)
    ])
    # counter(r,c) is the sum of term counts hashing to c, so the sketch
    # builds from the per-term aggregate: the d-fold row expansion and
    # md5 hashing now run over the vocabulary-sized count table instead
    # of the full occurrence stream (the previous form exploded every
    # occurrence d times).  Counters are bit-identical to
    # occurrence-level accumulation.
    counts = occ.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    sketch = (
        counts.select("exact_count", F.explode(rows).alias("rc"))
        .groupBy("rc.r", "rc.c")
        .agg(F.sum("exact_count").alias("cnt"))
    )
    top = counts.orderBy(F.col("exact_count").desc(), "term").limit(_CMS_TOPK)
    probe = top.select(
        "term", "exact_count", F.explode(rows).alias("rc")
    ).select("term", "exact_count", "rc.r", "rc.c")
    return (
        probe.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("term", "exact_count")
        .agg(F.min("cnt").alias("cms_est"))
        .orderBy(F.col("exact_count").desc(), "term")
    )


def _cms_hash_sql(term_expr: str) -> str:
    return (
        f"{hashing.md5_int_sql(f'{term_expr} || chr(35) || CAST(r AS VARCHAR)')}"
        f" % {_CMS_W}"
    )


TOKEN_CMS_TOPK_SQL = f"""
WITH occ AS (
  SELECT unnest({text.words_sql('text')}) AS term FROM documents),
sketch AS (
  SELECT r, {_cms_hash_sql('term')} AS c, COUNT(*) AS cnt
  FROM occ, range(0, {_CMS_D}) t(r)
  GROUP BY r, c),
top AS (
  SELECT term, COUNT(*) AS exact_count FROM occ GROUP BY term
  ORDER BY exact_count DESC, term LIMIT {_CMS_TOPK}),
probe AS (
  SELECT term, exact_count, r, {_cms_hash_sql('term')} AS c
  FROM top, range(0, {_CMS_D}) t(r))
SELECT term, exact_count, CAST(MIN(cnt) AS BIGINT) AS cms_est
FROM probe JOIN sketch USING (r, c)
GROUP BY term, exact_count
ORDER BY exact_count DESC, term
"""


# ===========================================================================
# Rolling distinct via mergeable KMV sketches
# ===========================================================================

_RKMV_K = 64
_RKMV_SALTS = 64  # shard fan-out for the two-level per-day k-min
_RKMV_WIN = 3  # trailing days, inclusive
_RKMV_SPACE = float(2**63)


def events_rolling_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{win}-day distinct users per day, twice: exactly, and via
    *merged per-day KMV sketches*.  Exact distinct over sliding windows
    re-scans every window at scale; the sketch path builds one bounded
    k-min-hash array per day and merges the trailing window inside a
    window frame (flatten → sort → retruncate to k) — sketch
    mergeability doing the work, k·win int64s per day no matter how many
    users.  Deterministic md5 hashing makes the merged estimate
    bit-identical on the oracle side; the exact count rides along to
    show the error."""
    (ev,) = _t(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("day"),
        F.abs(hashing.md5_int(F.col("user_id").cast("string"))).alias("h"),
    ).distinct()
    # two-level salted k-min per day (operators/selection.salted_topk) —
    # no day's full distinct-user set ever meets a single reducer
    from ..operators.selection import salted_topk

    per_day = salted_topk(
        du,
        group_by=["day"],
        key=F.col("h"),
        k=_RKMV_K,
        salt=F.pmod(F.col("h"), F.lit(_RKMV_SALTS)),
        out_col="kmin",
    )
    wroll = Window.orderBy("day").rowsBetween(-(_RKMV_WIN - 1), 0)
    merged = per_day.select(
        "day",
        F.count(F.lit(1)).over(wroll).alias("n_days_in_window"),
        # KMV merge = k smallest of the union of per-day k-mins, over
        # DISTINCT hash values (the same user active on two window days
        # must not occupy two sketch slots)
        F.slice(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("kmin").over(wroll)))
            ),
            1,
            _RKMV_K,
        ).alias("m"),
    )
    kth = F.element_at(F.col("m"), F.size(F.col("m")))
    est = F.when(
        F.size(F.col("m")) < _RKMV_K, F.size(F.col("m")).cast("double")
    ).otherwise(
        F.lit(_RKMV_K - 1) / (kth.cast("double") / F.lit(_RKMV_SPACE))
    )
    sketch_side = merged.select(
        "day", "n_days_in_window", F.floor(est).cast("long").alias("kmv_est")
    )
    days = du.select("day").distinct()
    exact = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.date_sub(F.col("d.day"), _RKMV_WIN - 1)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.h").alias("exact_distinct"))
    )
    return sketch_side.join(exact, "day").orderBy("day")


EVENTS_ROLLING_KMV_SQL = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         abs({hashing.md5_int_sql('CAST(user_id AS VARCHAR)')}) AS h
  FROM events),
per_day AS (
  SELECT day, list_sort(list(h)) AS kmin FROM (
    SELECT day, h,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM du) WHERE rn <= {_RKMV_K}
  GROUP BY day),
merged AS (
  SELECT day,
         COUNT(*) OVER w AS n_days_in_window,
         (list_sort(list_distinct(flatten(list(kmin) OVER w))))[1:{_RKMV_K}] AS m
  FROM per_day
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_RKMV_WIN - 1} PRECEDING
               AND CURRENT ROW)),
sk AS (
  SELECT day, n_days_in_window,
         CAST(floor(CASE WHEN len(m) < {_RKMV_K} THEN CAST(len(m) AS DOUBLE)
              ELSE {_RKMV_K - 1} / (CAST(m[{_RKMV_K}] AS DOUBLE) / {_RKMV_SPACE!r})
              END) AS BIGINT) AS kmv_est
  FROM merged),
exact AS (
  SELECT d.day AS day, COUNT(DISTINCT u.h) AS exact_distinct
  FROM (SELECT DISTINCT day FROM du) d
  JOIN du u ON u.day <= d.day AND u.day >= d.day - {_RKMV_WIN - 1}
  GROUP BY d.day)
SELECT day, n_days_in_window, kmv_est, exact_distinct
FROM sk JOIN exact USING (day)
ORDER BY day
"""


# ===========================================================================
# Window-function breadth suite
# ===========================================================================

def customer_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §2.5 ranking/analytic surface in one plan: row_number,
    dense_rank, percent_rank, cume_dist, ntile, lag, lead and first_value
    over the same (nation, acctbal desc, custkey) window spec — which is
    the scale-relevant point: Spark plans ONE exchange + ONE sort for all
    eight functions because they share a window specification; the
    per-function cost is a streaming pass over the sorted partition.
    percent_rank/cume_dist emit exact small-integer ratios (identical
    IEEE division on both engines).  Output truncated to the top 3 rows
    per nation after the analytics are computed over the full
    partition."""
    (c,) = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.lead("c_acctbal").over(w).alias("next_bal"),
        F.first_value(F.col("c_acctbal")).over(wf).alias("top_bal"),
    )
    return out.filter(F.col("rn") <= 3).orderBy("c_nationkey", "rn")


CUSTOMER_WINDOW_SUITE_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
       PERCENT_RANK() OVER w AS prank,
       CUME_DIST()    OVER w AS cdist,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       LAG(c_acctbal)  OVER w AS prev_bal,
       LEAD(c_acctbal) OVER w AS next_bal,
       FIRST_VALUE(c_acctbal) OVER (PARTITION BY c_nationkey
         ORDER BY c_acctbal DESC, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
QUALIFY rn <= 3
ORDER BY c_nationkey, rn
"""


# ===========================================================================
# Deterministic running totals
# ===========================================================================

_RT_MOD = 997  # sampled orders keep the gate output bounded


def lineitem_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order running invoice total by line number — the cumulative
    ROWS-frame aggregate, made cross-engine-exact by summing the
    floor-quantized line amounts (a running double sum would be
    order-deterministic here, but the quantized form is immune to any
    future frame reordering).  One window shuffle on the order key; the
    sampling predicate is pushed to the scan."""
    (li,) = _t(spark, sf_dir, "lineitem")
    sample = li.filter(F.col("l_orderkey") % _RT_MOD == 0)
    q = F.floor(F.col("l_extendedprice").cast("double") * F.lit(1e8)).cast(
        "decimal(38,0)"
    )
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sample.select(
            "l_orderkey",
            "l_linenumber",
            (F.sum(q).over(w).cast("double") / F.lit(1e8)).alias("cum_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


LINEITEM_RUNNING_TOTAL_SQL = f"""
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100000000.0)
                     AS DECIMAL(38,0)))
            OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100000000.0 AS cum_price
FROM lineitem
WHERE l_orderkey % {_RT_MOD} = 0
ORDER BY l_orderkey, l_linenumber
"""


# ===========================================================================
# GROUPING SETS with grouping-id (completes the rollup/cube OLAP trio)
# ===========================================================================

def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind ROLLUP
    (`orders_rollup`) and CUBE (`orders_cube`): an arbitrary set list
    ((flag,status),(flag),()) with GROUPING_ID disambiguating which
    aggregation level a row belongs to (a NULL key value vs a
    rolled-away key are different things).  One expand + one hash
    aggregation — Catalyst plans grouping sets as a single Expand
    operator, so the fact table is scanned once, not once per set."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


LINEITEM_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
       COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag, l_linestatus
"""


# ===========================================================================
# Event-sequence n-gram mining (top user paths)
# ===========================================================================

_PATH_TOPK = 20


def events_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths: what users actually *do*, as ordered
    3-step sequences (the sequence-mining question behind funnel design
    — `events_funnel` checks one hypothesized path, this discovers them).
    LEAD twice over the per-user time order turns each event row into
    the path starting at it; a hash aggregation counts path frequency.
    One window shuffle keyed on user_id + one agg shuffle keyed on the
    path — no self-joins, no explosion beyond 1 row per event.  At
    100 TB the user_id window partitions are the same shuffle any
    sessionization already pays; path cardinality is bounded by
    |event_types|^3, so the count table is tiny."""
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.col("event_type").alias("e0"),
            F.lead("event_type", 1).over(w).alias("e1"),
            F.lead("event_type", 2).over(w).alias("e2"),
        )
        .filter(F.col("e2").isNotNull())
        .select(F.concat_ws(">", "e0", "e1", "e2").alias("path"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _PATH_TOPK)
        .orderBy("rank")
    )


EVENTS_PATH_NGRAMS_SQL = f"""
WITH tri AS (
  SELECT user_id, event_type AS e0,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events),
paths AS (
  SELECT e0 || '>' || e1 || '>' || e2 AS path FROM tri WHERE e2 IS NOT NULL),
counted AS (
  SELECT path, COUNT(*) AS n FROM paths GROUP BY path)
SELECT path, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INTEGER) AS rank
FROM counted
QUALIFY rank <= {_PATH_TOPK}
ORDER BY rank
"""


# ===========================================================================
# Interval-union coverage (merged busy time per user)
# ===========================================================================

def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total *covered* time per user after merging overlapping activity
    intervals — the interval-union-length problem (billable time, device
    uptime, dedup'd exposure).  Each event occupies
    [ts, ts + floor(value*1000) ms]; the classic island detection: a row
    starts a new island when its start exceeds the running max end of
    all earlier intervals, islands are numbered by a running sum of the
    start flags, and covered time is Σ (max(end) - min(start)) per
    island.  All integer epoch-millis arithmetic — cross-engine exact.
    Two window passes + one aggregation over the same user_id
    partitioning: Catalyst reuses a single shuffle for all three."""
    (ev,) = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("s"),
        (
            F.unix_millis(F.col("ts"))
            + F.greatest(
                F.floor(F.col("value") * 1000).cast("long"), F.lit(0).cast("long")
            )
        ).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = (
        F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("len_ms"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("len_ms").alias("covered_ms"),
        )
        .orderBy("user_id")
    )


EVENTS_INTERVAL_UNION_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_ms(ts) AS s,
         epoch_ms(ts) + GREATEST(CAST(floor(value * 1000) AS BIGINT), 0) AS e
  FROM events),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged),
per_island AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS len_ms
  FROM islands GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands, CAST(SUM(len_ms) AS BIGINT) AS covered_ms
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


# ===========================================================================
# Power-iteration principal direction (PCA building block)
# ===========================================================================

_PI_TOPK = 5
_PI_ITERS = 8
_PI_QC = 1e4       # gram coarsening quantum (1e-4 of a gram unit)
_PI_VSCALE = 1e6   # per-step iterate rescale target


def embeddings_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-direction estimate by fixed-step power iteration, then
    the top-|projection| vectors along it — the distributed-PCA recipe:
    the only corpus-sized work is (a) the Gram matrix (one pass,
    map-side d² partial sums — the ``embeddings_gram`` plan) and (b) the
    final projection scan; the {t}-step iteration runs on the driver
    over the d×d matrix (d={d}, a constant — NOT corpus-sized driver
    work).

    Cross-engine exactness without trusting libm: Gram entries are
    quantized-integer sums; the matrix is fixed-point-coarsened
    (floor(double(Gq)/1e4) — magnitudes < 2⁵³, so the double ops are
    exactly rounded and engine-identical); each iteration is an exact
    integer mat-vec followed by a deterministic rescale
    floor(w/max|w|·1e6) in the same always-exact double range (so the
    integers never outgrow BIGINT at any corpus size); projections are
    exact integer dot products of the 1e3-quantized embeddings with the
    final iterate.  The oracle unrolls the same {t} iterations as CTEs.
    Fixed step count (not convergence-tested): on a spectrally flat
    corpus like the synthetic fixture the iterate is only as principal
    as the eigengap allows, which is a property of the data, not the
    plan — production raises {t} (driver-side constant work) or seeds
    with a prior direction."""
    import math

    (emb,) = _t(spark, sf_dir, "embeddings")
    aggs = []
    for i in range(_GRAM_D):
        for j in range(i, _GRAM_D):
            prod = (
                F.element_at("embedding", i + 1).cast("double")
                * F.element_at("embedding", j + 1).cast("double")
            )
            aggs.append(
                F.sum(F.floor(prod * F.lit(1e8)).cast("decimal(38,0)"))
                .cast("long")
                .alias(f"g{i}_{j}")
            )
    row = emb.agg(*aggs).collect()[0]  # d(d+1)/2 ints — bounded collect
    g = [[0] * _GRAM_D for _ in range(_GRAM_D)]
    for i in range(_GRAM_D):
        for j in range(i, _GRAM_D):
            # the same deterministic coarsening the oracle applies
            val = math.floor(float(row[f"g{i}_{j}"]) / _PI_QC)
            g[i][j] = g[j][i] = int(val)
    v = [int(_PI_VSCALE)] * _GRAM_D
    for _ in range(_PI_ITERS):
        w = [sum(g[i][j] * v[j] for j in range(_GRAM_D)) for i in range(_GRAM_D)]
        m = max(abs(x) for x in w) or 1
        v = [math.floor(float(x) / float(m) * _PI_VSCALE) for x in w]
    proj = None
    for i in range(_GRAM_D):
        term = F.floor(
            F.element_at("embedding", i + 1).cast("double") * F.lit(1000.0)
        ).cast("long") * F.lit(v[i])
        proj = term if proj is None else proj + term
    return (
        emb.select("vec_id", proj.alias("proj"))
        .orderBy(F.abs(F.col("proj")).desc(), "vec_id")
        .limit(_PI_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.abs(F.col("proj")).desc(), "vec_id"))
            .cast("int"),
        )
    )


embeddings_top_eigvec.__doc__ = (embeddings_top_eigvec.__doc__ or "").format(
    d=_GRAM_D, t=_PI_ITERS
)


def _eigvec_sql() -> str:
    ctes = [
        f"""gq AS MATERIALIZED (
  SELECT i, j,
         CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                             * CAST(embedding[j + 1] AS DOUBLE)
                             * 100000000.0) AS DECIMAL(38,0))) AS BIGINT) AS q
  FROM embeddings, range(0, {_GRAM_D}) t1(i), range(0, {_GRAM_D}) t2(j)
  GROUP BY i, j)""",
        f"""g2 AS MATERIALIZED (SELECT i, j,
       CAST(floor(CAST(q AS DOUBLE) / {_PI_QC:.1f}) AS BIGINT) AS g FROM gq)""",
        f"""v0 AS (SELECT i, CAST({int(_PI_VSCALE)} AS BIGINT) AS v
       FROM range(0, {_GRAM_D}) t(i))""",
    ]
    for t in range(1, _PI_ITERS + 1):
        ctes.append(
            f"""w{t} AS MATERIALIZED (SELECT g2.i, CAST(SUM(g2.g * v{t - 1}.v) AS BIGINT) AS w
       FROM g2 JOIN v{t - 1} ON g2.j = v{t - 1}.i GROUP BY g2.i)"""
        )
        ctes.append(f"m{t} AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w{t})")
        ctes.append(
            f"""v{t} AS MATERIALIZED (SELECT i, CAST(floor(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                          * {_PI_VSCALE:.1f}) AS BIGINT) AS v
       FROM w{t}, m{t})"""
        )
    ctes.append(
        f"""proj AS (
  SELECT e.vec_id,
         CAST(SUM(CAST(floor(CAST(e.embedding[vf.i + 1] AS DOUBLE) * 1000.0)
                       AS BIGINT) * vf.v) AS BIGINT) AS proj
  FROM embeddings e CROSS JOIN v{_PI_ITERS} vf
  GROUP BY e.vec_id)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, proj,
       CAST(ROW_NUMBER() OVER (ORDER BY abs(proj) DESC, vec_id) AS INTEGER)
         AS rank
FROM proj
QUALIFY rank <= {_PI_TOPK}
ORDER BY rank
"""
    )


EMBEDDINGS_TOP_EIGVEC_SQL = _eigvec_sql()


# ===========================================================================
# Changelog apply: CDC round-trip inverse of orders_changelog
# ===========================================================================

def orders_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip invariant, as a gate: apply the changelog that
    ``orders_changelog`` generates back onto snapshot A and prove the
    result IS snapshot B — apply(A, diff(A,B)) == B, the property every
    replication pipeline depends on.  Apply is the standard MERGE shape
    (anti-join A against all touched keys, union the upserted rows);
    verification is one full-outer join counting key and value
    disagreements, which must all be zero.  Two co-partitioned shuffles
    on the key; nothing driver-sized."""
    (o,) = _t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    upd = F.col("o_orderkey") % _CDC_UPD == 0
    dele = (F.col("o_orderkey") % _CDC_DEL == 0) & ~upd
    b = (
        a.filter(~dele)
        .withColumn(
            "o_totalprice",
            F.when(upd, F.col("o_totalprice") + 500.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            a.filter(upd).select(
                (F.col("o_orderkey") + _CDC_SHIFT).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    j = a.withColumnRenamed("o_totalprice", "old_price").join(
        b.withColumnRenamed("o_totalprice", "new_price"),
        "o_orderkey",
        "full_outer",
    )
    chg = j.withColumn(
        "change_type",
        F.when(F.col("new_price").isNull(), F.lit("delete"))
        .when(F.col("old_price").isNull(), F.lit("insert"))
        .when(F.col("old_price") != F.col("new_price"), F.lit("update")),
    ).filter(F.col("change_type").isNotNull())
    touched = chg.select("o_orderkey")
    upserts = chg.filter(F.col("change_type") != "delete").select(
        "o_orderkey", F.col("new_price").alias("o_totalprice")
    )
    bprime = a.join(touched, "o_orderkey", "left_anti").unionByName(upserts)
    v = bprime.withColumnRenamed("o_totalprice", "p").join(
        b.withColumnRenamed("o_totalprice", "q"), "o_orderkey", "full_outer"
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.sum(F.when(F.col("q").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_extra"),
        F.sum(
            F.when(
                F.col("p").isNotNull()
                & F.col("q").isNotNull()
                & (F.col("p") != F.col("q")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_value_mismatch"),
    )


ORDERS_CHANGELOG_APPLY_SQL = f"""
WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_CDC_UPD} = 0 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS o_totalprice
  FROM a
  WHERE NOT (o_orderkey % {_CDC_DEL} = 0 AND o_orderkey % {_CDC_UPD} <> 0)
  UNION ALL
  SELECT o_orderkey + {_CDC_SHIFT}, o_totalprice
  FROM a WHERE o_orderkey % {_CDC_UPD} = 0),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         a.o_totalprice AS old_price, b.o_totalprice AS new_price
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
chg AS (
  SELECT o_orderkey, new_price,
         CASE WHEN new_price IS NULL THEN 'delete'
              WHEN old_price IS NULL THEN 'insert'
              WHEN old_price <> new_price THEN 'update' END AS change_type
  FROM j
  WHERE (CASE WHEN new_price IS NULL THEN 'delete'
              WHEN old_price IS NULL THEN 'insert'
              WHEN old_price <> new_price THEN 'update' END) IS NOT NULL),
bprime AS (
  SELECT a.o_orderkey, a.o_totalprice FROM a
  WHERE a.o_orderkey NOT IN (SELECT o_orderkey FROM chg)
  UNION ALL
  SELECT o_orderkey, new_price FROM chg WHERE change_type <> 'delete'),
v AS (
  SELECT bp.o_totalprice AS p, b.o_totalprice AS q
  FROM bprime bp FULL OUTER JOIN b ON bp.o_orderkey = b.o_orderkey)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
       CAST(SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL AND p <> q
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_value_mismatch
FROM v
"""


# ===========================================================================
# Label-propagation communities on the transition graph
# ===========================================================================

_LP_ITERS = 2


def events_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (``operators/graph.label_propagation``) over the undirected
    event-type transition graph (same edge derivation as the triangle
    and pagerank gates).  Deterministic variant: every node adopts the
    most frequent neighbor label, ties to the smallest — so the gate is
    exactly replayable by the oracle's {it} unrolled rounds.  Completes
    the graph-operator family: components (connectivity), pagerank
    (centrality), triangles (cohesion), communities (partitioning)."""
    from ..operators.graph import label_propagation

    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    e = seq.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return label_propagation(e, iterations=_LP_ITERS).orderBy("node")


events_communities.__doc__ = (events_communities.__doc__ or "").format(
    it=_LP_ITERS
)


def _communities_sql() -> str:
    rounds = []
    prev = "l0"
    for t in range(1, _LP_ITERS + 1):
        rounds.append(f"""n{t} AS MATERIALIZED (
  SELECT und.u AS node, {prev}.label, COUNT(*) AS n
  FROM und JOIN {prev} ON {prev}.node = und.v
  GROUP BY und.u, {prev}.label),
l{t} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
    FROM n{t})
  WHERE rn = 1)""")
        prev = f"l{t}"
    body = ",\n".join(rounds)
    return f"""WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM seq WHERE dst IS NOT NULL AND src <> dst),
und AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
l0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS label FROM und),
{body}
SELECT node, label FROM {prev} ORDER BY node
"""


EVENTS_COMMUNITIES_SQL = _communities_sql()


# ===========================================================================
# Bitmap-index distinct (roaring-style word bitmap)
# ===========================================================================

def events_user_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index distinct counting: user ids pack into 32-bit words
    (word = id/32, bit = id mod 32 — 32 wide because a shift of 63 is
    well-defined two's-complement in Spark but a checked overflow in
    DuckDB; the narrower word keeps the construction engine-portable)
    OR-merged per event type — the
    roaring-bitmap construction that gives EXACT distinct counts with
    sketch-like mergeability (bitmaps of shards/days union with OR,
    never re-scan; intersections/differences become AND/AND-NOT on the
    same words — set algebra HLL cannot do).  State is O(id-domain/64)
    words per group (state O(domain/32)); at 100 TB ids are first dictionary-encoded into a
    dense domain, which is the standard bitmap-index prerequisite.  The
    exact countDistinct rides along and must equal the popcount sum."""
    (ev,) = _t(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            (F.col("user_id") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(user_id % 32 AS INT))").alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        words.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.bit_count("bits")).cast("long").alias("bitmap_distinct"),
        )
        .join(exact, "event_type")
        .orderBy("event_type")
    )


EVENTS_USER_BITMAP_SQL = """
WITH words AS (
  SELECT event_type, CAST(user_id // 32 AS BIGINT) AS word,
         bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
  FROM events
  GROUP BY event_type, word),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT w.event_type, COUNT(*) AS n_words,
       CAST(SUM(bit_count(w.bits)) AS BIGINT) AS bitmap_distinct,
       e.exact_distinct
FROM words w JOIN exact e ON e.event_type = w.event_type
GROUP BY w.event_type, e.exact_distinct
ORDER BY w.event_type
"""


# ===========================================================================
# Time-hierarchy rollup (hypertable continuous-aggregate shape)
# ===========================================================================

def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: one scan aggregates the event stream
    at day, month, year, and grand-total grain simultaneously via
    ROLLUP(year, month, day) — the hierarchy behind continuous
    aggregates (a coarser grain is always derivable by summing the finer
    one, which is also how an incremental refresh maintains it: day
    partials roll up, upper grains merge).  grouping_id disambiguates
    grain; Catalyst plans the whole hierarchy as ONE Expand + one hash
    aggregation, so the 100 TB fact table is read once, not once per
    grain."""
    (ev,) = _t(spark, sf_dir, "events")
    d = ev.select(
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        "value",
    )
    return (
        d.rollup("y", "m", "d")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("gid", "y", "m", "d")
    )


EVENTS_TIME_ROLLUP_SQL = f"""
SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
       CAST(day(ts) AS INTEGER) AS d,
       CAST(GROUPING(year(ts), month(ts), day(ts)) AS INTEGER) AS gid,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY ROLLUP (year(ts), month(ts), day(ts))
ORDER BY gid, y, m, d
"""


# ===========================================================================
# Distributed k-means (Lloyd iterations) as a live gate
# ===========================================================================

_KM_K = 4
_KM_D = 8
_KM_ITERS = 2


def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means wired live: {it} exact Lloyd iterations over
    the leading {d} embedding dims via ``operators/clustering.
    kmeans_refine`` — per-iteration work is one Arrow assignment pass
    (vectorized argmin against the broadcast centroids, no shuffle) plus
    one k×d-row mean aggregation; ONLY k rows ever reach the driver per
    step, so the loop is corpus-size-independent.  Cross-engine exact:
    assignment is the floor-quantized L2 argmin (smallest-cid
    tie-break), means are fixed-point order-independent (``exact=True``
    → functions/exact.davg), and the oracle replays both iterations as
    unrolled CTEs.  Output is per-cell membership + quantized-integer
    inertia — the k-means objective without a single libm call."""
    from ..operators.clustering import kmeans_refine, md5_seeds
    from .extensions import _l2q

    (emb,) = _t(spark, sf_dir, "embeddings")
    emb8 = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _KM_D).alias("embedding")
    )
    seeds = md5_seeds(emb8, _KM_K)
    cents, assigned = kmeans_refine(emb8, seeds, iters=_KM_ITERS, exact=True)
    from ..inline import inline_table

    cent_df = inline_table(spark, cents, "cell long, cvec array<double>")
    return (
        assigned.join(F.broadcast(cent_df), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(_l2q(F.col("embedding"), F.col("cvec"))).alias("inertia_q"),
        )
        .orderBy("cell")
    )


embeddings_kmeans.__doc__ = (embeddings_kmeans.__doc__ or "").format(
    it=_KM_ITERS, d=_KM_D
)


def _kmeans_sql() -> str:
    from ..functions.exact import davg_sql
    from .extensions import _l2q_sql

    def assign(name: str, cent: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_l2q_sql('e.v', 'c.ce')}, c.cid) AS rn
    FROM e CROSS JOIN {cent} c)
  WHERE rn = 1)"""

    def update(mname: str, cname: str, aname: str, prev: str) -> str:
        # empty-cell fallback must come from the PREVIOUS iteration's
        # centroids (the Lloyd fallback clustering._update_centroids
        # applies), not the seeds — a cell that moved in iteration 1 and
        # emptied in iteration 2 would otherwise diverge cross-engine
        return f"""{mname} AS MATERIALIZED (
  SELECT cell, i AS dim, {davg_sql('CAST(v[i + 1] AS DOUBLE)')} AS m
  FROM {aname}, range(0, {_KM_D}) t(i)
  GROUP BY cell, i),
{cname} AS MATERIALIZED (
  SELECT s.cid,
         list(COALESCE(m.m, CAST(s.ce[t.i + 1] AS DOUBLE)) ORDER BY t.i) AS ce
  FROM {prev} s CROSS JOIN range(0, {_KM_D}) t(i)
  LEFT JOIN {mname} m ON m.cell = s.cid AND m.dim = t.i
  GROUP BY s.cid)"""

    return f"""WITH seeds AS MATERIALIZED (
  SELECT vec_id AS cid, list_slice(embedding, 1, {_KM_D}) AS ce
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KM_K}),
e AS MATERIALIZED (
  SELECT vec_id, list_slice(embedding, 1, {_KM_D}) AS v FROM embeddings),
{assign('a0', 'seeds')},
{update('m1', 'c1', 'a0', 'seeds')},
{assign('a1', '(SELECT cid, ce FROM c1)')},
{update('m2', 'c2', 'a1', 'c1')},
{assign('a2', '(SELECT cid, ce FROM c2)')}
SELECT a2.cell, COUNT(*) AS n_members,
       CAST(SUM({_l2q_sql('a2.v', 'c.ce')}) AS BIGINT) AS inertia_q
FROM a2 JOIN c2 c ON c.cid = a2.cell
GROUP BY a2.cell
ORDER BY a2.cell
"""


EMBEDDINGS_KMEANS_SQL = _kmeans_sql()


# ===========================================================================
# CSV sink/source round-trip
# ===========================================================================

def orders_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as a first-class sink AND source (the reference's COPY surface
    covers parquet, `examples/parquet.rs:17-31`; CSV is the other format
    every warehouse exports): write orders to headered CSV, read it back
    through an explicit schema (never inference — at 100 TB schema
    inference means scanning twice), and aggregate.  Timestamps
    round-trip through an explicit ISO format; the gate's oracle runs on
    the ORIGINAL table, so any loss in the round trip fails the hash.
    Write-once per (process, fixture), one file per status group via the
    same repartition-before-partitionBy move as the parquet layout
    gate."""
    import os

    (o,) = _t(spark, sf_dir, "orders")
    path = _scratch_path("orders_csv", sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            o.repartition(F.col("o_orderstatus"))
            .write.mode("overwrite")
            .option("header", True)
            .option("timestampFormat", fmt)
            .option("timestampNTZFormat", fmt)
            .partitionBy("o_orderstatus")
            .csv(path)
        )
    back = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double, "
            "o_orderdate timestamp_ntz, o_orderpriority string, "
            "o_orderstatus string"
        )
        .option("header", True)
        .option("timestampFormat", fmt)
        .option("timestampNTZFormat", fmt)
        .csv(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.min(F.date_format("o_orderdate", fmt)).alias("first_date"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_CSV_ROUNDTRIP_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ===========================================================================
# Market concentration: Herfindahl-Hirschman index per nation
# ===========================================================================

_HHI_Q = 100            # cent quantum for supplier revenue


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue per
    nation — the market-structure metric (Σ share_i², 1/n..1) a supply-
    chain or marketplace-health dashboard tracks; rising HHI = revenue
    concentrating into fewer suppliers.

    Exact rational form: HHI = Σ q_i² / (Σ q_i)² over floor-quantized
    per-supplier revenue integers, so no per-supplier share division
    ever happens — one DECIMAL-exact aggregation per level and a single
    IEEE division at the end (identical inputs and expression tree on
    both engines).  Scale: fact rows reduce to (nation, supplier)
    partials map-side; the nation rollup is |suppliers| rows."""
    li, s = _t(spark, sf_dir, "lineitem", "supplier")
    dim = s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    per_supp = (
        li.select("l_suppkey", "l_extendedprice")
        .join(F.broadcast(dim), "l_suppkey")
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * _HHI_Q).cast("decimal(38,0)")
            ).alias("q")
        )
    )
    return (
        per_supp.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("q").alias("_s"),
            F.sum(F.col("q") * F.col("q")).alias("_s2"),
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            (F.col("_s").cast("double") / _HHI_Q).alias("revenue"),
            (
                F.col("_s2").cast("double")
                / (F.col("_s").cast("double") * F.col("_s").cast("double"))
            ).alias("hhi"),
        )
        .orderBy("s_nationkey")
    )


SUPPLIER_HHI_SQL = f"""
WITH per_supp AS (
  SELECT s.s_nationkey, l.l_suppkey,
         SUM(CAST(floor(l.l_extendedprice * {_HHI_Q}) AS DECIMAL(38,0))) AS q
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey)
SELECT s_nationkey, COUNT(*) AS n_suppliers,
       CAST(SUM(q) AS DOUBLE) / {_HHI_Q} AS revenue,
       CAST(SUM(q * q) AS DOUBLE)
         / (CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE)) AS hhi
FROM per_supp
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


# ===========================================================================
# Time-series decomposition: ratio-to-moving-average seasonality
# ===========================================================================

_SEAS_Q = 100           # cent quantum for the monthly revenue series


def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal decomposition of the
    monthly revenue series: each month's revenue divided by its centered
    13-month moving average — the seasonal index a demand-planning
    pipeline feeds back into forecasts (index > 1 = seasonally high).

    Exactness through the window: monthly revenue is a floor-quantized
    DECIMAL sum; the moving average stays as its (sum, count) integer
    pair through the ROWS frame and the index is one IEEE division of
    identical integers at the end.  Scale: the series is months-long
    (trivial) — the expensive part is the one partial→final aggregation
    from fact rows to months; the window runs over the tiny series."""
    (o,) = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * _SEAS_Q).cast("decimal(38,0)")
            ).alias("q")
        )
    )
    w = Window.orderBy("month").rowsBetween(-6, 6)
    return (
        monthly.select(
            "month",
            (F.col("q").cast("double") / _SEAS_Q).alias("revenue"),
            F.sum("q").over(w).cast("double").alias("_ma_sum"),
            F.count("q").over(w).cast("double").alias("_ma_n"),
        )
        .select(
            "month",
            "revenue",
            (F.col("_ma_sum") / F.col("_ma_n") / _SEAS_Q).alias("trend"),
            (
                F.col("revenue")
                / (F.col("_ma_sum") / F.col("_ma_n") / _SEAS_Q)
            ).alias("seasonal_index"),
        )
        .orderBy("month")
    )


ORDERS_SEASONALITY_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         SUM(CAST(floor(o_totalprice * {_SEAS_Q}) AS DECIMAL(38,0))) AS q
  FROM orders GROUP BY 1),
ma AS (
  SELECT month,
         CAST(q AS DOUBLE) / {_SEAS_Q} AS revenue,
         CAST(SUM(q) OVER w AS DOUBLE) AS ma_sum,
         CAST(COUNT(q) OVER w AS DOUBLE) AS ma_n
  FROM monthly
  WINDOW w AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING))
SELECT month, revenue,
       ma_sum / ma_n / {_SEAS_Q} AS trend,
       revenue / (ma_sum / ma_n / {_SEAS_Q}) AS seasonal_index
FROM ma
ORDER BY month
"""


# ===========================================================================
# Cross-source duplication matrix (provenance analytics)
# ===========================================================================

def docs_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-level dedup analytics: which source shards duplicate
    each other?  The banded-MinHash near-dup pairs (the
    `dedup_minhash_lsh` gate, composed lazily) are attributed back to
    their source shards to form a (source_a <= source_b) overlap matrix
    — the report that tells a corpus owner two dumps overlap BEFORE
    they double-count tokens in the mixture plan.  The diagonal
    (same-source pairs) separates intra-dump boilerplate from genuine
    cross-dump contamination.

    Plan: the pair table is already sub-quadratic; attribution is two
    equi-joins on the doc id against the (doc_id, source) projection
    (AQE broadcasts the pair side at fixture scale; at 100 TB both
    sides co-partition on the id), and the matrix state is |sources|²
    counts — constant however large the corpus.  NOTE these are LSH
    candidate pairs — approximate by construction (the recall audit
    quantifies what the bands miss), which is the right input for an
    overlap *report*; exact-duplicate provenance would swap in the
    fingerprint groups."""
    from .extensions import dedup_minhash_lsh

    (docs,) = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    attributed = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc1"), F.col("source").alias("s1")
            ),
            "doc1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc2"), F.col("source").alias("s2")
            ),
            "doc2",
        )
        .select(
            F.least(F.col("s1"), F.col("s2")).alias("source_a"),
            F.greatest(F.col("s1"), F.col("s2")).alias("source_b"),
        )
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


DOCS_CROSS_SOURCE_DUPS_SQL = """
WITH pairs AS (
  SELECT doc1, doc2 FROM ({LSH})),
attributed AS (
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b
  FROM pairs
  JOIN documents a ON a.doc_id = pairs.doc1
  JOIN documents b ON b.doc_id = pairs.doc2)
SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
FROM attributed
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


# ===========================================================================
# Late-arriving dimension (unknown-member fallback)
# ===========================================================================

_LATE_MOD = 7           # every 7th supplier "hasn't arrived" in the dim yet


def lineitem_late_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts land before their
    dimension rows do, and the fact load must NOT drop or stall them —
    the warehouse answer is the reserved UNKNOWN member: a left join
    with a coalesced fallback key, reconciled when the dimension row
    finally arrives (the SCD2/PIT gates own that step).

    A deterministic slice of suppliers is withheld to simulate the late
    rows; the gate reports per-nation fact volume with the UNKNOWN
    member accumulating the orphans — exactly what a conformed-dim load
    dashboard shows.  One broadcast left join; fact side never
    shuffles."""
    li, s = _t(spark, sf_dir, "lineitem", "supplier")
    dim = s.filter(F.col("s_suppkey") % _LATE_MOD != 0).select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        li.select("l_suppkey", "l_extendedprice")
        .join(F.broadcast(dim), "l_suppkey", "left")
        .groupBy(
            F.coalesce(F.col("s_nationkey"), F.lit(-1)).alias("nationkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("nationkey")
    )


LINEITEM_LATE_DIM_SQL = f"""
WITH dim AS (
  SELECT s_suppkey, s_nationkey FROM supplier
  WHERE s_suppkey % {_LATE_MOD} <> 0)
SELECT COALESCE(d.s_nationkey, -1) AS nationkey,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
       {dsum_sql('l.l_extendedprice')} AS sum_price
FROM lineitem l LEFT JOIN dim d ON d.s_suppkey = l.l_suppkey
GROUP BY 1
ORDER BY nationkey
"""


# ===========================================================================
# Engagement KPIs: weekly stickiness (DAU/WAU)
# ===========================================================================

def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics stickiness: per ISO week, the ratio of average
    daily active users to weekly active users (DAU/WAU) — the
    engagement KPI computed from exact distinct counts.

    Two aggregations, both user-keyed: daily distincts collapse to
    active (day, user) pairs, weekly distincts to (week, user); the
    ratio is an IEEE division of identical integers.  At 100 TB the
    daily/weekly distinct tables are the natural incremental state
    (or the bitmap/KMV sketches the sketch gates maintain)."""
    (ev,) = _t(spark, sf_dir, "events")
    days = ev.select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    ).distinct()
    daily = days.groupBy("week").agg(
        F.count(F.lit(1)).alias("user_days"),
        F.count_distinct("day").alias("n_days"),
    )
    weekly = (
        evaluate_once(
            days.groupBy("week", "user_id").agg(F.count(F.lit(1)).alias("k"))
        )
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        daily.join(weekly, "week")
        .select(
            "week", "n_days", "user_days", "wau",
            (
                F.col("user_days").cast("double")
                / (F.col("n_days").cast("double") * F.col("wau").cast("double"))
            ).alias("stickiness"),
        )
        .orderBy("week")
    )


EVENTS_STICKINESS_SQL = """
WITH days AS (
  SELECT DISTINCT date_trunc('week', ts) AS week,
                  date_trunc('day', ts) AS day, user_id
  FROM events),
daily AS (
  SELECT week, COUNT(*) AS user_days, COUNT(DISTINCT day) AS n_days
  FROM days GROUP BY week),
weekly AS (
  SELECT week, COUNT(*) AS wau
  FROM (SELECT DISTINCT week, user_id FROM days) GROUP BY week)
SELECT week, n_days, user_days, wau,
       CAST(user_days AS DOUBLE)
         / (CAST(n_days AS DOUBLE) * CAST(wau AS DOUBLE)) AS stickiness
FROM daily JOIN weekly USING (week)
ORDER BY week
"""


# ===========================================================================
# Parquet schema evolution (mergeSchema across writer generations)
# ===========================================================================

def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the source: two parquet writer generations —
    v1 (orderkey, totalprice) and v2 which ADDED a column
    (orderstatus) — read back together with ``mergeSchema``, the
    union-of-schemas read every long-lived dataset eventually needs
    (v1 rows surface the new column as NULL; no rewrite of old files).

    The oracle replays the generation split on the original table, so
    the gate fails if the merged read loses rows, mistypes the added
    column, or backfills anything but NULL.  Write-once per (process,
    fixture); explicit mergeSchema (never the global conf) because
    footer-merging costs a pass over file metadata at 100 TB and should
    be a per-read decision."""
    import os

    (o,) = _t(spark, sf_dir, "orders")
    root = _scratch_path("orders_evo", sf_dir)
    p1, p2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    even = F.col("o_orderkey") % 2 == 0
    if not os.path.exists(os.path.join(p2, "_SUCCESS")):
        (
            o.filter(even)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite").parquet(p1)
        )
        (
            o.filter(~even)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.mode("overwrite").parquet(p2)
        )
    back = spark.read.option("mergeSchema", True).parquet(p1, p2)
    return (
        back.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<pre-evolution>"))
            .alias("status")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("status")
    )


ORDERS_SCHEMA_EVOLUTION_SQL = f"""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
            ELSE o_orderstatus END AS status,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders
GROUP BY 1
ORDER BY status
"""


# ===========================================================================
# Dirty-ingest JSON audit (schema-on-read resilience)
# ===========================================================================

_CORRUPT_MOD = 13       # every 13th event's payload is mangled


def events_corrupt_json_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over a dirty feed: a deterministic fraction of
    JSON payloads is mangled in-plan (prefix garbage — the truncated/
    concatenated-log corruption real ingest sees), then parsed
    permissively: malformed rows yield NULL instead of failing the job,
    and the audit reports parse yield and corrupt counts per event type
    — the ingest-health dashboard a pipeline alerts on.

    Spark's ``get_json_object`` returns NULL on malformed input; the
    oracle reproduces the same contract as ``CASE WHEN json_valid``.
    Scale: pure narrow per-row expressions + one aggregation."""
    (ev,) = _t(spark, sf_dir, "events")
    dirty = F.when(
        F.col("event_id") % _CORRUPT_MOD == 0,
        F.concat(F.lit("x{"), F.col("props")),
    ).otherwise(F.col("props"))
    k = F.get_json_object(dirty, "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("k").alias("n_parsed"),
            (F.count(F.lit(1)) - F.count("k")).alias("n_corrupt"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


EVENTS_CORRUPT_JSON_AUDIT_SQL = f"""
WITH dirty AS (
  SELECT event_type,
         CASE WHEN event_id % {_CORRUPT_MOD} = 0 THEN 'x{{' || props
              ELSE props END AS payload
  FROM events),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(payload)
              THEN TRY_CAST(json_extract_string(payload, '$.k') AS BIGINT)
              ELSE NULL END AS k
  FROM dirty)
SELECT event_type, COUNT(*) AS n_rows, COUNT(k) AS n_parsed,
       COUNT(*) - COUNT(k) AS n_corrupt,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM parsed
GROUP BY event_type
ORDER BY event_type
"""


# ===========================================================================
# Declarative data-quality constraint suite (Deequ-style validation)
# ===========================================================================

def orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation — the Deequ/Great-Expectations
    check suite as one plan: completeness (NOT NULL), uniqueness (key),
    domain membership, value range, referential integrity, and date
    bounds over orders, each reported as (check_name, n_checked,
    n_violations, passed).

    Every check is an aggregate over the same scan (conditional counts),
    so the suite costs ~one pass however many constraints run; the RI
    check is the one join — broadcast-anti against the customer key set
    here, co-partitioned at 100 TB.  A nightly data-quality run executes
    exactly this shape per partition and alerts on `passed = false`.
    """
    o, c = _t(spark, sf_dir, "orders", "customer")

    def check(name: str, n_viol, n_checked) -> DataFrame:
        return o.agg(
            n_checked.alias("n_checked"), n_viol.alias("n_violations")
        ).select(
            F.lit(name).alias("check_name"), "n_checked", "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    cnt = F.count(F.lit(1))
    viol_null = F.sum(
        F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
    ).cast("long")
    viol_uniq = (cnt - F.count_distinct(F.col("o_orderkey"))).cast("long")
    viol_price = F.sum(
        F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
    ).cast("long")
    viol_status = F.sum(
        F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
    ).cast("long")
    viol_date = F.sum(
        F.when(
            (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("timestamp")),
            1,
        ).otherwise(0)
    ).cast("long")
    orphans = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_anti",
    )
    ri = orphans.agg(
        F.count(F.lit(1)).cast("long").alias("n_violations")
    ).crossJoin(o.agg(cnt.alias("n_checked"))).select(
        F.lit("custkey_references_customer").alias("check_name"),
        "n_checked", "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    return (
        check("orderkey_not_null", viol_null, cnt)
        .unionByName(check("orderkey_unique", viol_uniq, cnt))
        .unionByName(check("totalprice_positive", viol_price, cnt))
        .unionByName(check("status_in_domain", viol_status, cnt))
        .unionByName(check("orderdate_in_range", viol_date, cnt))
        .unionByName(ri)
        .orderBy("check_name")
    )


ORDERS_CONSTRAINTS_SQL = """
WITH base AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_null,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uniq,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0
                  END) AS BIGINT) AS v_status,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                         OR o_orderdate >= TIMESTAMP '2002-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_date
  FROM orders),
ri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed
FROM (
  SELECT 'orderkey_not_null' AS check_name, n AS n_checked,
         v_null AS n_violations FROM base
  UNION ALL
  SELECT 'orderkey_unique', n, v_uniq FROM base
  UNION ALL
  SELECT 'totalprice_positive', n, v_price FROM base
  UNION ALL
  SELECT 'status_in_domain', n, v_status FROM base
  UNION ALL
  SELECT 'orderdate_in_range', n, v_date FROM base
  UNION ALL
  SELECT 'custkey_references_customer', (SELECT n FROM base), v FROM ri)
ORDER BY check_name
"""


# ===========================================================================
# Gaps-and-islands: longest categorical streak per user
# ===========================================================================

def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a categorical sequence: each user's longest
    run of consecutive same-type events (engagement/error-burst streaks
    — the sequence statistic funnels and sessionization don't give you).

    The islands come from the classic double-row_number difference: rows
    numbered within the user and within the (user, type) both in time
    order make ``rn_all - rn_type`` constant exactly along a run of one
    type — a GROUP BY key, no self-join, no iteration.  Both windows
    share the user partitioning, so the plan is one exchange + two sorts
    + one aggregation; ties in ts break on event_id (unique) so the
    numbering is deterministic in both engines.
    """
    (ev,) = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    runs = (
        ev.select(
            "user_id", "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type))
            .alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), "event_type", "grp"
    )
    return (
        runs.withColumn("rk", F.row_number().over(w_best))
        .withColumn(
            "n_streaks",
            F.count(F.lit(1)).over(Window.partitionBy("user_id")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("best_type"),
            F.col("len").alias("best_len"),
            "n_streaks",
        )
        .orderBy("user_id")
    )


EVENTS_LONGEST_STREAK_SQL = """
WITH runs AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS grp
  FROM events),
islands AS (
  SELECT user_id, event_type, grp, COUNT(*) AS len
  FROM runs GROUP BY user_id, event_type, grp),
best AS (
  SELECT user_id, event_type, len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, event_type, grp) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
  FROM islands)
SELECT user_id, event_type AS best_type, CAST(len AS BIGINT) AS best_len,
       CAST(n_streaks AS BIGINT) AS n_streaks
FROM best
WHERE rk = 1
ORDER BY user_id
"""


# ===========================================================================
# Distribution profiling: exact central moments (variance / skewness)
# ===========================================================================

_PROF_Q = 100           # cent-quantum for the profiled variable


def lineitem_profile_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated data-profiling moments — mean, variance, and skewness
    of extendedprice per return flag — from raw power sums (Σx, Σx²,
    Σx³): the monitoring aggregate a data-quality system recomputes per
    partition/day to detect distribution drift.

    Same reduction as the OLS gate: quantize per row, accumulate the
    three power sums exactly in DECIMAL(38,0) (qx ≤ 1e7 ⇒ Σqx³ ≤ ~1e27
    at 10^6 rows — inside DECIMAL(38,0) headroom; at 10^12 rows drop the
    quantum one decade), convert the handful of group rows to double and
    evaluate the closed forms with one expression tree on both engines.
    Central moments from raw sums are numerically fragile for
    *near-zero* variance but deterministic — and determinism is what the
    gate checks; a production profiler would ship the same three sums
    and form moments at read time.
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    qx = F.floor(F.col("l_extendedprice") * _PROF_Q).cast("long")
    dec = "decimal(38,0)"
    stats = (
        li.select(F.col("l_returnflag"), qx.alias("qx"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("qx").cast(dec)).alias("s1"),
            F.sum((F.col("qx") * F.col("qx")).cast(dec)).alias("s2"),
            F.sum(
                (F.col("qx").cast(dec) * F.col("qx").cast(dec)
                 * F.col("qx").cast(dec))
            ).alias("s3"),
        )
    )
    n = F.col("n_rows").cast("double")
    s1, s2, s3 = (F.col(c).cast("double") for c in ("s1", "s2", "s3"))
    q = float(_PROF_Q)
    mean = s1 / n
    var = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    return stats.select(
        "l_returnflag",
        "n_rows",
        (mean / q).alias("mean"),
        (var / (q * q)).alias("variance"),
        (m3 / F.sqrt(var * var * var)).alias("skewness"),
    ).orderBy("l_returnflag")


_MOM = {
    "n": "CAST(n_rows AS DOUBLE)",
    "s1": "CAST(s1 AS DOUBLE)",
    "s2": "CAST(s2 AS DOUBLE)",
    "s3": "CAST(s3 AS DOUBLE)",
}
_MOM_MEAN = f"({_MOM['s1']} / {_MOM['n']})"
_MOM_VAR = f"({_MOM['s2']} / {_MOM['n']} - {_MOM_MEAN} * {_MOM_MEAN})"
_MOM_M3 = (
    f"({_MOM['s3']} / {_MOM['n']} - 3.0 * {_MOM_MEAN} * ({_MOM['s2']} / {_MOM['n']})"
    f" + 2.0 * {_MOM_MEAN} * {_MOM_MEAN} * {_MOM_MEAN})"
)

LINEITEM_PROFILE_MOMENTS_SQL = f"""
WITH stats AS (
  SELECT l_returnflag, COUNT(*) AS n_rows,
         SUM(CAST(qx AS DECIMAL(38,0))) AS s1,
         SUM(CAST(qx * qx AS DECIMAL(38,0))) AS s2,
         SUM(CAST(qx AS DECIMAL(38,0)) * CAST(qx AS DECIMAL(38,0))
             * CAST(qx AS DECIMAL(38,0))) AS s3
  FROM (SELECT l_returnflag,
               CAST(floor(l_extendedprice * {_PROF_Q}) AS BIGINT) AS qx
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       {_MOM_MEAN} / {float(_PROF_Q)} AS mean,
       {_MOM_VAR} / ({float(_PROF_Q)} * {float(_PROF_Q)}) AS variance,
       {_MOM_M3} / sqrt({_MOM_VAR} * {_MOM_VAR} * {_MOM_VAR}) AS skewness
FROM stats
ORDER BY l_returnflag
"""


# ===========================================================================
# Chi-square independence test (contingency-table statistics)
# ===========================================================================

def events_type_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test, distributed: is event type
    independent of day-of-week?  The contingency table builds with ONE
    hash aggregation (cells = |types| x 7, a constant); marginals and
    the grand total are broadcast re-aggregations of the cell table, so
    nothing beyond the first aggregation ever touches the fact table —
    the statistical-testing reduction mirrors the OLS gate's.

    chi2 contributions (obs - exp)^2 / exp evaluate in double from
    identical integer counts with an identical expression tree on both
    engines (exp = row_total * col_total / grand), so the statistic is
    deterministic cross-engine.  Day-of-week aligns on Spark's
    ``dayofweek`` (1 = Sunday); the oracle uses ``EXTRACT(dow) + 1``.
    Output: per-type chi2 contribution (summed over its 7 cells).
    """
    (ev,) = _t(spark, sf_dir, "events")
    # rows without a type or timestamp are in no cell: the gate's NULL
    # contract (the oracle's WHERE says the same; tests/test_null_keys.py)
    cells = evaluate_once(
        ev.select(F.col("event_type"), F.dayofweek(F.col("ts")).alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("obs")),
        not_null=("event_type", "dow"),
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("obs").alias("row_n"))
    col_tot = cells.groupBy("dow").agg(F.sum("obs").alias("col_n"))
    grand = cells.agg(F.sum("obs").alias("n"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(grand))
        .select("event_type", "row_n", contrib.alias("c"))
        .groupBy("event_type", "row_n")
        .agg(
            # the 7 per-cell doubles are identical cross-engine, but their
            # sum order is not — reduce through the fixed-point quantizer
            dsum(F.col("c")).alias("chi2_contrib"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .orderBy("event_type")
    )


EVENTS_TYPE_DOW_CHISQ_SQL = f"""
WITH cells AS (
  SELECT event_type, EXTRACT(dow FROM ts) + 1 AS dow, COUNT(*) AS obs
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, EXTRACT(dow FROM ts) + 1),
row_tot AS (
  SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_n
  FROM cells GROUP BY event_type),
col_tot AS (
  SELECT dow, CAST(SUM(obs) AS BIGINT) AS col_n FROM cells GROUP BY dow),
grand AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
scored AS (
  SELECT c.event_type, r.row_n,
         (CAST(c.obs AS DOUBLE)
          - CAST(r.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
            / CAST(g.n AS DOUBLE))
         * (CAST(c.obs AS DOUBLE)
            - CAST(r.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
              / CAST(g.n AS DOUBLE))
         / (CAST(r.row_n AS DOUBLE) * CAST(t.col_n AS DOUBLE)
            / CAST(g.n AS DOUBLE)) AS c
  FROM cells c
  JOIN row_tot r USING (event_type)
  JOIN col_tot t USING (dow)
  CROSS JOIN grand g)
SELECT event_type, row_n, {dsum_sql('c')} AS chi2_contrib,
       COUNT(*) AS n_cells
FROM scored
GROUP BY event_type, row_n
ORDER BY event_type
"""


# ===========================================================================
# Market-basket co-occurrence with lift (association mining)
# ===========================================================================

def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over per-user-day baskets: which event types
    co-occur more than chance?  Baskets are the distinct (user, day,
    type) triples; pair support comes from a basket-keyed self-join
    whose fan-out is bounded by types-per-basket (vocabulary-sized,
    never corpus-sized); lift = support(ab) * n_baskets /
    (support(a) * support(b)) evaluates in double from exact integer
    counts — identical cross-engine.

    Scale: the distinct pass is one shuffle on (user, day, type); the
    self-join re-shuffles only the deduplicated basket table (|baskets|
    x types-per-basket rows); every aggregate after that is
    |types|^2-bounded.  This is the a-priori first pass — higher-order
    itemsets iterate the same join shape on the surviving pairs.
    """
    (ev,) = _t(spark, sf_dir, "events")
    basket = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .distinct()
    )
    n_baskets = (
        basket.select("user_id", "day").distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    singles = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("n_baskets").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return (
        pairs.join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_single").alias("na"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_single").alias("nb"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select("type_a", "type_b", "n_ab", lift.alias("lift"))
        .orderBy("type_a", "type_b")
    )


EVENTS_COOCCURRENCE_LIFT_SQL = """
WITH basket AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
  FROM events),
n_baskets AS (
  SELECT COUNT(*) AS n_baskets
  FROM (SELECT DISTINCT user_id, day FROM basket)),
singles AS (
  SELECT event_type, COUNT(*) AS n_single FROM basket GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM basket a
  JOIN basket b ON a.user_id = b.user_id AND a.day = b.day
               AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT type_a, type_b, n_ab,
       CAST(n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
       / (CAST(sa.n_single AS DOUBLE) * CAST(sb.n_single AS DOUBLE)) AS lift
FROM pairs
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN n_baskets n
ORDER BY type_a, type_b
"""


# ===========================================================================
# Distributed exact OLS (sufficient-statistics regression)
# ===========================================================================

_OLS_Q = 100            # cent-quantum for both regression variables


def lineitem_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed least-squares as a pure aggregation: fit
    ``extendedprice ~ quantity`` per return flag from sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) — the pattern that turns model
    fitting into ONE partial→final hash aggregate, no iteration, no
    driver data movement (closed-form GLMs, covariance/corr matrices,
    Welford moments all reduce the same way).

    Exactness: both variables are floor-quantized to integers per row;
    the five statistics accumulate in DECIMAL(38,0) (exact, order-
    independent); the closed-form slope/intercept then evaluate in
    double over identical inputs with an identical expression tree on
    both engines.  Scale: map-side combine does ~all the work — the
    exchange carries 5 numbers per group, whatever the row count.
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    qx = F.floor(F.col("l_quantity") * _OLS_Q).cast("long")
    qy = F.floor(F.col("l_extendedprice") * _OLS_Q).cast("long")
    dec = "decimal(38,0)"
    stats = (
        li.select(F.col("l_returnflag"), qx.alias("qx"), qy.alias("qy"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("qx").cast(dec)).alias("sx"),
            F.sum(F.col("qy").cast(dec)).alias("sy"),
            F.sum((F.col("qx") * F.col("qy")).cast(dec)).alias("sxy"),
            F.sum((F.col("qx") * F.col("qx")).cast(dec)).alias("sxx"),
        )
    )
    n = F.col("n_rows").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return stats.select(
        "l_returnflag",
        "n_rows",
        slope.alias("slope"),
        ((sy - slope * sx) / n / F.lit(float(_OLS_Q))).alias("intercept"),
    ).orderBy("l_returnflag")


_OLS_SLOPE_SQL = (
    "(n_rows * sxy - sx * sy) / (n_rows * sxx - sx * sx)"
)

LINEITEM_PRICE_MODEL_SQL = f"""
WITH stats AS (
  SELECT l_returnflag, COUNT(*) AS n_rows,
         CAST(SUM(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(qy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(qx * qy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE) AS sxx
  FROM (SELECT l_returnflag,
               CAST(floor(l_quantity * {_OLS_Q}) AS BIGINT) AS qx,
               CAST(floor(l_extendedprice * {_OLS_Q}) AS BIGINT) AS qy
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       {_OLS_SLOPE_SQL} AS slope,
       (sy - ({_OLS_SLOPE_SQL}) * sx) / n_rows / {float(_OLS_Q)} AS intercept
FROM stats
ORDER BY l_returnflag
"""


# ===========================================================================
# Leakage-free train/test split
# ===========================================================================

_SPLIT_ARMS = 5         # 1-in-5 of users held out => 80/20 split


def events_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-free train/test split: the unit of
    assignment is the USER (hash-coin on user_id), never the event — a
    row-level split leaks the same user's behavior into both sides,
    the classic evaluation bug.  Reports per-split volume plus the
    leakage audit (users present in both splits — structurally zero,
    and the oracle re-derives rather than assumes it).

    Scale: assignment is a narrow per-row hash; stats are one hash
    aggregation; the audit is a user-keyed aggregation whose output is
    |users in both| = a scalar broadcast back onto two rows."""
    (ev,) = _t(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id", "value",
        F.when(
            hashing.md5_int(F.col("user_id").cast("string")) % _SPLIT_ARMS
            == 0, "test",
        ).otherwise("train").alias("split"),
    )
    leaked = (
        tagged.groupBy("user_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaked_users")
        )
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy("split")
    )


EVENTS_TRAIN_TEST_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT user_id, value,
         CASE WHEN ({hashing.md5_int_sql('CAST(user_id AS VARCHAR)')})
                   % {_SPLIT_ARMS} = 0
              THEN 'test' ELSE 'train' END AS split
  FROM events),
leaked AS (
  SELECT CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked_users
  FROM (SELECT user_id, COUNT(DISTINCT split) AS n_splits
        FROM tagged GROUP BY user_id))
SELECT split, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value,
       (SELECT n_leaked_users FROM leaked) AS n_leaked_users
FROM tagged
GROUP BY split
ORDER BY split
"""


# ===========================================================================
# Time-based RANGE window frames (trailing-hour burst features)
# ===========================================================================

_TW_MS = 3_600_000      # trailing window width: one hour in epoch-ms
_TW_Q = 1_000_000       # fixed-point quantum for the value sum


def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frames — the frame kind the ROWS-based
    gates can't express: for every event, the count and value-sum of the
    SAME user's events in the trailing hour (``RANGE BETWEEN 3599999
    PRECEDING AND CURRENT ROW`` over epoch-ms), reduced to the per-user
    peak — the burst/velocity feature fraud and rate-limit pipelines
    compute.

    RANGE frames bound by *value distance* on the ordering key, so
    same-timestamp peers all share one frame (SQL standard semantics,
    identical in both engines) — the result is order-independent by
    construction.  Time enters as integer epoch-ms (``unix_millis`` /
    ``epoch_ms``) and the value as its floor-quantized integer, so every
    frame aggregate is exact.  Scale: one user-keyed shuffle; frame
    state is the trailing hour per user, however long the stream."""
    (ev,) = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_millis(F.col("ts")).alias("ms"),
        F.floor(F.col("value") * _TW_Q).cast("long").alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-(_TW_MS - 1), Window.currentRow)
    )
    tw = e.select(
        "user_id",
        F.count(F.lit(1)).over(w).alias("c"),
        F.sum("qv").over(w).alias("s"),
    )
    return (
        tw.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("c").alias("peak_1h_events"),
            (F.max("s").cast("double") / _TW_Q).alias("peak_1h_value"),
        )
        .orderBy("user_id")
    )


# Truncated EWMA: 8 taps of alpha=1/4 decay.  Weight j is the EXACT
# rational (3/4)^j scaled by 4^7, i.e. 3^j * 4^(7-j) — integer weights, so
# the weighted sum stays in integer arithmetic and both engines agree
# bit-for-bit (a recursive float EWMA would hinge on accumulation order).
_EWMA_TAPS = 8
_EWMA_W = [3**j * 4 ** (_EWMA_TAPS - 1 - j) for j in range(_EWMA_TAPS)]
_EWMA_Q = 10**8


def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily value sum per
    event type — the smoothing feature monitoring/trend pipelines
    compute.  The recursion ewma_t = α·x_t + (1-α)·ewma_{t-1} (α=1/4) is
    truncated at 8 taps and rewritten as a day-distance-weighted sum
    with EXACT integer weights 3^gap·4^(7-gap), where gap is the REAL
    calendar distance (a day with no events contributes nothing but
    still decays its neighbors — a row-offset lag would mis-weight
    gapped series): the daily x is a floor-quantized integer, the
    numerator a decimal(38,0) dot product over the prior days within
    the horizon, the denominator the matching weight sum — so the
    result is deterministic across engines (no float recursion whose
    accumulation order could differ) and sparse edges renormalize over
    the days present, the standard adjusted-EWMA convention.

    Scale: one |types|×|days| aggregate (map-side combined), then a
    type-keyed self-join of that tiny series with ≤8 matches per row —
    nothing data-sized ever shuffles twice."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value").cast("double") * F.lit(float(_EWMA_Q))).cast(
                "decimal(38,0)"
            )
        ).alias("xq")
    )
    t = daily.select(
        F.col("event_type").alias("t_type"), F.col("day").alias("t_day")
    )
    s = daily.select(
        F.col("event_type").alias("s_type"),
        F.col("day").alias("s_day"),
        F.col("xq").alias("s_xq"),
    )
    gap = F.datediff(F.col("t_day"), F.col("s_day"))
    w_arr = F.array(*[F.lit(w) for w in _EWMA_W])
    wgt = F.element_at(w_arr, gap + 1)  # bigint: max weight 4^7 = 16384
    # bigint × decimal(38,0) is still decimal(38,0)-capped, so an
    # overflowing product would be NULL with ANSI off and SUM would
    # silently skip it while DuckDB's HUGEINT path errors.  Guard the
    # term: a NULL product from a non-NULL xq raises instead of
    # diverging quietly (CASE branches evaluate lazily, so raise_error
    # only fires on actual overflow).
    prod = wgt * F.col("s_xq")
    term = F.when(
        prod.isNull() & F.col("s_xq").isNotNull(),
        F.raise_error(F.lit("events_ewma_daily: weighted term overflowed decimal(38,0)")),
    ).otherwise(prod)
    # the SUM itself can also overflow decimal(38,0) to NULL with ANSI
    # off; every group has ≥1 row (gap 0 matches itself) and every term
    # is non-NULL per the guard above, so a NULL sum here can only mean
    # aggregate overflow — raise instead of diverging quietly
    ssum = F.sum(term)
    ssum = F.when(
        ssum.isNull(),
        F.raise_error(F.lit("events_ewma_daily: weighted sum overflowed decimal(38,0)")),
    ).otherwise(ssum)
    return (
        t.join(
            s,
            (F.col("t_type") == F.col("s_type"))
            & gap.between(0, _EWMA_TAPS - 1),
        )
        .groupBy(F.col("t_type").alias("event_type"), F.col("t_day").alias("day"))
        .agg(
            (
                ssum.cast("double")
                / F.sum(wgt).cast("double")
                / F.lit(float(_EWMA_Q))
            ).alias("ewma_value")
        )
        .orderBy("event_type", "day")
    )


_EWMA_W_CASE = "CASE date_diff('day', s.day, t.day) " + " ".join(
    f"WHEN {j} THEN {_EWMA_W[j]}" for j in range(_EWMA_TAPS)
) + " END"

EVENTS_EWMA_DAILY_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         SUM(CAST(floor(CAST(value AS DOUBLE) * {float(_EWMA_Q)!r}) AS HUGEINT))
           AS xq
  FROM events
  GROUP BY event_type, date_trunc('day', ts))
SELECT t.event_type, t.day,
       CAST(SUM(CAST({_EWMA_W_CASE} AS HUGEINT) * s.xq) AS DOUBLE)
         / CAST(SUM({_EWMA_W_CASE}) AS DOUBLE) / {float(_EWMA_Q)!r} AS ewma_value
FROM daily t
JOIN daily s
  ON s.event_type = t.event_type
 AND date_diff('day', s.day, t.day) BETWEEN 0 AND {_EWMA_TAPS - 1}
GROUP BY t.event_type, t.day
ORDER BY t.event_type, t.day
"""


EVENTS_TRAILING_WINDOW_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms,
         CAST(floor(value * {_TW_Q}) AS BIGINT) AS qv
  FROM events),
tw AS (
  SELECT user_id,
         COUNT(*) OVER w AS c,
         SUM(qv) OVER w AS s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ms
               RANGE BETWEEN {_TW_MS - 1} PRECEDING AND CURRENT ROW))
SELECT user_id, COUNT(*) AS n_events,
       CAST(MAX(c) AS BIGINT) AS peak_1h_events,
       CAST(MAX(s) AS DOUBLE) / {_TW_Q} AS peak_1h_value
FROM tw
GROUP BY user_id
ORDER BY user_id
"""


# ===========================================================================
# JSON-lines sink + source round-trip
# ===========================================================================

def orders_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as a first-class sink AND source — the third format of
    the COPY surface alongside parquet (`/root/reference/examples/
    parquet.rs:17-31`) and CSV (`orders_csv_roundtrip`): write orders to
    newline-delimited JSON, read it back through an explicit schema
    (never inference — at 100 TB inferring JSON schemas means scanning
    twice), and aggregate.  Timestamps round-trip through an explicit
    ISO format; the oracle runs on the ORIGINAL parquet table, so any
    loss in the round trip (type coercion, timestamp skew, dropped
    fields) fails the value hash.  Write-once per (process, fixture);
    repartition-before-partitionBy gives one file per priority group,
    the layout rule every sink gate follows."""
    import os

    (o,) = _t(spark, sf_dir, "orders")
    path = _scratch_path("orders_json", sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            o.repartition(F.col("o_orderpriority"))
            .write.mode("overwrite")
            .option("timestampFormat", fmt)
            .option("timestampNTZFormat", fmt)
            .partitionBy("o_orderpriority")
            .json(path)
        )
    back = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double, "
            "o_orderdate timestamp_ntz, o_orderstatus string, "
            "o_orderpriority string"
        )
        .option("timestampFormat", fmt)
        .option("timestampNTZFormat", fmt)
        .json(path)
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.max(F.date_format("o_orderdate", fmt)).alias("last_date"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_JSON_ROUNDTRIP_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_date,
       COUNT(DISTINCT o_orderstatus) AS n_statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ===========================================================================
# Fact-fact join strategies: sort-merge and shuffle-hash
# ===========================================================================

def orders_lineitem_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join planned as a SortMergeJoin (hinted; asserted in
    tests): the strategy that carries joins where NEITHER side fits in
    memory — both sides hash-shuffle on the key and stream a merge, so
    memory stays O(one key group) however large the tables.  Everywhere
    else this repo broadcasts dims deliberately; this gate pins the SMJ
    path a 100 TB orders⋈lineitem actually uses (and with both tables
    bucketed by the key — `customer_orders_bucketed` — the same join
    drops its exchanges)."""
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    j = li.hint("merge").join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_LINEITEM_MERGE_JOIN_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def orders_lineitem_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fact-fact join planned as a ShuffledHashJoin (hinted;
    asserted in tests): shuffle both sides, build a hash table on the
    smaller per-partition side instead of sorting both — wins over SMJ
    when one side is much smaller per key-range but still too big to
    broadcast.  Distinct aggregate shape from the SMJ gate so both
    strategies stay independently oracle-checked."""
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    j = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_LINEITEM_HASH_JOIN_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n_lines,
       {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ===========================================================================
# Non-equi broadcast nested-loop band join
# ===========================================================================

_QTY_BANDS = [
    ("tiny", 0.0, 10.0),
    ("small", 10.0, 20.0),
    ("medium", 20.0, 35.0),
    ("large", 35.0, 45.0),
    ("huge", 45.0, 1e9),
]


def lineitem_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi join: classify every lineitem into a quantity band by
    joining against a 5-row band table on ``lo <= qty < hi`` — no equi
    key at all, so Catalyst's ONLY correct strategy is
    BroadcastNestedLoopJoin with the tiny band table broadcast
    (plan-asserted in tests).  This is the legitimate BNLJ use: n×5
    comparisons streamed JVM-side beats materializing a CASE ladder when
    the band table is data (editable, joinable, versioned) rather than
    code.  At 100 TB the fact side streams, the band side is bytes —
    no shuffle anywhere; a band table too big to broadcast graduates to
    the bucketized `events_range_join` shape instead."""
    (li,) = _t(spark, sf_dir, "lineitem")
    from ..inline import inline_table

    bands = inline_table(spark, _QTY_BANDS, "band string, lo double, hi double")
    j = li.join(
        F.broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return (
        j.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("band")
    )


_BANDS_VALUES = ", ".join(f"('{b}', {lo!r}, {hi!r})" for b, lo, hi in _QTY_BANDS)

LINEITEM_BAND_JOIN_SQL = f"""
WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES})
SELECT band, COUNT(*) AS n_items, {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
ORDER BY band
"""


# ===========================================================================
# Watermark-lateness audit (batch replay of streaming admission)
# ===========================================================================

_LATE_MS = 3_600_000  # 1-hour watermark horizon


def events_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit: replay the stream's admission decision in
    batch — an event is *late* iff its event time lags the running max
    event time seen so far (arrival order = event_id) by more than the
    1-hour horizon; exactly the rows ``withWatermark('ts', '1 hour')``
    would drop from an aggregation.  The tool for choosing a production
    watermark: run the audit over history at several horizons and read
    the drop rate.  The running high-water mark is a range-sharded
    two-pass prefix max over arrival order (local prefix per event_id
    shard + a broadcast triangle-join boundary max from earlier shards)
    — a per-type window would drag each stream's full history through
    one reducer; integer epoch-ms arithmetic."""
    from ..operators.selection import sharded_prefix

    (ev,) = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    flagged = sharded_prefix(
        ev.select("event_type", "event_id", ms.alias("t")),
        order_by=["event_id"],
        value=F.col("t"),
        agg="max",
        partition_by=["event_type"],
        inclusive=False,
        out_col="hwm",
    ).withColumn(
        "late",
        F.when(
            F.col("hwm").isNotNull() & (F.col("t") < F.col("hwm") - _LATE_MS),
            1,
        ).otherwise(0),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("late").cast("long").alias("n_late"),
            F.max(F.when(F.col("late") == 1, F.col("hwm") - F.col("t"))).alias(
                "max_lateness_ms"
            ),
        )
        .orderBy("event_type")
    )


EVENTS_LATE_AUDIT_SQL = f"""
WITH flagged AS (
  SELECT event_type, epoch_ms(ts) AS t,
         MAX(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS hwm
  FROM events)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN hwm IS NOT NULL AND t < hwm - {_LATE_MS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       MAX(CASE WHEN hwm IS NOT NULL AND t < hwm - {_LATE_MS}
                THEN hwm - t END) AS max_lateness_ms
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# ===========================================================================
# Partitioned-layout write + partition-pruned read
# ===========================================================================

_PRUNE_MONTH = "1995-03"


def orders_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout as a live gate: write orders
    partitioned by order month (``o_month=yyyy-MM/`` directories), read
    the layout back, and aggregate ONE month — the month predicate is a
    partition filter, so planning lists only that directory and the scan
    never opens the other ~80 months' files (asserted via inputFiles in
    tests/test_advanced.py).  This is THE first-order scale lever for a
    100 TB fact table: time-partitioned layout turns every
    time-bounded query from a full scan into a pruned scan, before any
    row-level pushdown applies."""
    import os

    (o,) = _t(spark, sf_dir, "orders")
    path = _scratch_path("orders_part", sf_dir)
    # write-once per (process, fixture): the layout is deterministic, so
    # re-running the gate reuses it (as a real warehouse table would be
    # written once and queried many times).  repartition by the partition
    # column first so each month directory gets ONE file written by the
    # task that owns the month — the same move that avoids the
    # tasks x partitions small-file explosion on a real cluster.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            o.withColumn(
                "o_month", F.date_format(F.col("o_orderdate"), "yyyy-MM")
            )
            .repartition(F.col("o_month"))
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(path)
        )
    part = spark.read.parquet(path)
    return (
        part.filter(F.col("o_month") == _PRUNE_MONTH)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_PARTITIONED_PRUNE_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') = '{_PRUNE_MONTH}'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ===========================================================================
# Mergeable histogram sketch -> approximate quantiles
# ===========================================================================

_HQ_BINS = 64
_HQ_W = 2000  # equal-width bins over l_extendedprice


def lineitem_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a mergeable fixed-width histogram
    sketch: {bins} equal-width counters per group, built in one narrow
    pass with map-side combine — the mergeable alternative to
    ``events_value_quantiles``'s exact nearest-rank sort, which needs
    the full value multiset.  Sketches of shards/days merge by adding
    counters (the property that matters at 100 TB: per-partition
    histograms roll up without re-scanning), and p50/p90/p99 read off
    the cumulative counts with integer-exact nearest-rank thresholds —
    the answer is the bin's lower edge, error bounded by the bin width.
    Shuffle: one aggregation keyed (flag, bin) + one tiny window over
    {bins} rows per flag."""
    (li,) = _t(spark, sf_dir, "lineitem")
    b = F.least(
        F.floor(F.col("l_extendedprice") / _HQ_W).cast("long"),
        F.lit(_HQ_BINS - 1).cast("long"),
    )
    hist = (
        li.select(F.col("l_returnflag").alias("flag"), b.alias("bin"))
        .groupBy("flag", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = (
        Window.partitionBy("flag").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("flag")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(wc))
        .withColumn("n", F.sum("cnt").over(wt))
    )

    def q_edge(num: int, den: int) -> F.Column:
        # nearest-rank threshold ceil(num*n/den) in pure integers
        r = F.floor((F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den))
        return (F.min(F.when(F.col("cum") >= r, F.col("bin"))) * _HQ_W).cast("long")

    return (
        cum.groupBy("flag")
        .agg(
            F.max("n").alias("n_rows"),
            q_edge(1, 2).alias("p50_edge"),
            q_edge(9, 10).alias("p90_edge"),
            q_edge(99, 100).alias("p99_edge"),
        )
        .orderBy("flag")
    )


LINEITEM_HIST_QUANTILE_SQL = f"""
WITH hist AS (
  SELECT l_returnflag AS flag,
         LEAST(CAST(floor(l_extendedprice / {_HQ_W}) AS BIGINT), {_HQ_BINS - 1}) AS bin,
         COUNT(*) AS cnt
  FROM lineitem
  GROUP BY flag, bin),
cum AS (
  SELECT flag, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
  FROM hist)
SELECT flag, MAX(n) AS n_rows,
       CAST(MIN(CASE WHEN cum >= CAST(floor((1 * n + 1) / 2) AS BIGINT)
                     THEN bin END) * {_HQ_W} AS BIGINT) AS p50_edge,
       CAST(MIN(CASE WHEN cum >= CAST(floor((9 * n + 9) / 10) AS BIGINT)
                     THEN bin END) * {_HQ_W} AS BIGINT) AS p90_edge,
       CAST(MIN(CASE WHEN cum >= CAST(floor((99 * n + 99) / 100) AS BIGINT)
                     THEN bin END) * {_HQ_W} AS BIGINT) AS p99_edge
FROM cum
GROUP BY flag
ORDER BY flag
"""


lineitem_hist_quantile_sketch.__doc__ = (
    lineitem_hist_quantile_sketch.__doc__ or ""
).format(bins=_HQ_BINS)


from .extensions import DEDUP_MINHASH_LSH_SQL as _LSH_SQL  # noqa: E402

DOCS_CROSS_SOURCE_DUPS_SQL = DOCS_CROSS_SOURCE_DUPS_SQL.format(LSH=_LSH_SQL)



# ===========================================================================
# Embedding distribution drift
# ===========================================================================

_EDRIFT_TH = 0.02   # per-dim |mean delta| flagged as drifted
_EDRIFT_Q = 10**12  # quantum for the exact cross-products of means


def embeddings_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor — the retrain/re-embed alarm a
    production vector pipeline runs between corpus snapshots: split the
    table into two cohorts (vec_id parity stands in for old/new snapshot),
    compare the per-dimension means, flag dimensions whose |delta| exceeds
    a threshold, and report the cosine between the two mean vectors — for a
    zero-centered embedding space this statistic is deliberately twitchy:
    with no drift it converges to 1.0 only as the cohort means converge
    (at production corpus sizes), while at small n it hovers near 0, so
    the per-dim threshold flags are the fixture-scale signal and the
    cosine is the at-scale one.

    Exactness is the standard two-layer scheme: per-(dim, cohort) sums are
    floor-quantized decimal(38,0) (order-independent), means are one
    deterministic double division, and the cosine is assembled from
    quantized cross-products of the means summed exactly — so both engines
    produce bit-identical doubles with no order-dependent float reduction
    anywhere.

    Scale: one posexplode pass with map-side combine down to |dims| rows
    (the same shuffle shape as embeddings_gram), then a 64-row summary
    aggregate broadcast back — nothing data-sized shuffles twice."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    q = F.lit(float(10**8))
    ex = emb.select(
        (F.col("vec_id") % 2 == 0).alias("is_old"),
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    ).select("is_old", "dim", F.col("v").cast("double").alias("v"))
    vq = F.floor(F.col("v") * q).cast("decimal(38,0)")
    per = ex.groupBy("dim").agg(
        F.sum(F.when(F.col("is_old"), vq)).alias("sq_old"),
        F.count(F.when(F.col("is_old"), F.lit(1))).alias("n_old"),
        F.sum(F.when(~F.col("is_old"), vq)).alias("sq_new"),
        F.count(F.when(~F.col("is_old"), F.lit(1))).alias("n_new"),
    )
    # NULLIF-guard the cohort sizes: on a degenerate fixture where one
    # parity cohort is empty, Spark (ANSI off) and DuckDB disagree on
    # x/0 — NULL/NULL on both sides keeps the engines aligned.
    mo = (F.col("sq_old").cast("double") / q) / F.nullif(F.col("n_old"), F.lit(0).cast("bigint"))
    mn = (F.col("sq_new").cast("double") / q) / F.nullif(F.col("n_new"), F.lit(0).cast("bigint"))
    dims = per.select(
        F.col("dim").cast("int").alias("dim"),
        mo.alias("mean_old"),
        mn.alias("mean_new"),
        (mn - mo).alias("delta"),
        (F.abs(mn - mo) > F.lit(_EDRIFT_TH)).alias("drifted"),
        F.col("n_old").cast("bigint").alias("n_old"),
        F.col("n_new").cast("bigint").alias("n_new"),
    )
    qq = F.lit(float(_EDRIFT_Q))
    cp = lambda a, b: F.sum(  # noqa: E731 — exact Σ of quantized products
        F.floor(F.col(a) * F.col(b) * qq).cast("decimal(38,0)")
    )
    summary = dims.agg(
        (
            cp("mean_old", "mean_new").cast("double")
            / F.sqrt(
                cp("mean_old", "mean_old").cast("double")
                * cp("mean_new", "mean_new").cast("double")
            )
        ).alias("cos_means")
    )
    return dims.crossJoin(F.broadcast(summary)).orderBy("dim")


_EDRIFT_VQ = "CAST(floor(CAST(v AS DOUBLE) * 100000000.0) AS DECIMAL(38,0))"
EMBEDDINGS_DRIFT_SQL = f"""
WITH ex AS (
  SELECT vec_id % 2 = 0 AS is_old,
         unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM embeddings),
per AS (
  SELECT dim,
         SUM(CASE WHEN is_old THEN {_EDRIFT_VQ} END) AS sq_old,
         COUNT(CASE WHEN is_old THEN 1 END) AS n_old,
         SUM(CASE WHEN NOT is_old THEN {_EDRIFT_VQ} END) AS sq_new,
         COUNT(CASE WHEN NOT is_old THEN 1 END) AS n_new
  FROM ex GROUP BY dim),
dims AS (
  SELECT CAST(dim AS INTEGER) AS dim,
         (CAST(sq_old AS DOUBLE) / 100000000.0) / NULLIF(n_old, 0) AS mean_old,
         (CAST(sq_new AS DOUBLE) / 100000000.0) / NULLIF(n_new, 0) AS mean_new,
         (CAST(sq_new AS DOUBLE) / 100000000.0) / NULLIF(n_new, 0)
           - (CAST(sq_old AS DOUBLE) / 100000000.0) / NULLIF(n_old, 0) AS delta,
         abs((CAST(sq_new AS DOUBLE) / 100000000.0) / NULLIF(n_new, 0)
             - (CAST(sq_old AS DOUBLE) / 100000000.0) / NULLIF(n_old, 0))
           > {_EDRIFT_TH} AS drifted,
         CAST(n_old AS BIGINT) AS n_old,
         CAST(n_new AS BIGINT) AS n_new
  FROM per),
summary AS (
  SELECT CAST(SUM(CAST(floor(mean_old * mean_new * {float(_EDRIFT_Q)!r}) AS DECIMAL(38,0))) AS DOUBLE)
         / sqrt(CAST(SUM(CAST(floor(mean_old * mean_old * {float(_EDRIFT_Q)!r}) AS DECIMAL(38,0))) AS DOUBLE)
                * CAST(SUM(CAST(floor(mean_new * mean_new * {float(_EDRIFT_Q)!r}) AS DECIMAL(38,0))) AS DOUBLE))
           AS cos_means
  FROM dims)
SELECT d.dim, d.mean_old, d.mean_new, d.delta, d.drifted, d.n_old, d.n_new,
       s.cos_means
FROM dims d CROSS JOIN summary s
ORDER BY d.dim
"""

SPECS = [
    QuerySpec(
        "embeddings_drift", embeddings_drift, EMBEDDINGS_DRIFT_SQL,
        "per-dim mean drift between corpus snapshots + mean-vector cosine",
    ),
    QuerySpec(
        "orders_changelog", orders_changelog, ORDERS_CHANGELOG_SQL,
        "snapshot-diff CDC changelog: full-outer key diff -> ins/upd/del",
    ),
    QuerySpec(
        "events_triangle_count", events_triangle_count,
        EVENTS_TRIANGLE_COUNT_SQL,
        "node-ordered triangle enumeration on the transition graph",
    ),
    QuerySpec(
        "part_skyline", part_skyline, PART_SKYLINE_SQL,
        "2-D Pareto skyline via running-max window (oracle: NOT EXISTS)",
    ),
    QuerySpec(
        "docs_chunk_dedup", docs_chunk_dedup, DOCS_CHUNK_DEDUP_SQL,
        "cross-doc chunk-level dedup: per-doc duplicated-chunk counts",
    ),
    QuerySpec(
        "customer_record_linkage", customer_record_linkage,
        CUSTOMER_RECORD_LINKAGE_SQL,
        "blocked fuzzy record linkage: block -> levenshtein -> best match",
    ),
    QuerySpec(
        "events_hll_distinct", events_hll_distinct, EVENTS_HLL_DISTINCT_SQL,
        "HLL-style distinct sketch with integer-exact registers",
    ),
    QuerySpec(
        "embeddings_gram", embeddings_gram, EMBEDDINGS_GRAM_SQL,
        "exact Gram matrix over leading dims via map-side partial sums",
    ),
    QuerySpec(
        "customer_orders_bucketed", customer_orders_bucketed,
        CUSTOMER_ORDERS_BUCKETED_SQL,
        "bucketed co-located join: zero-exchange join after bucketed write",
    ),
    QuerySpec(
        "token_cms_topk", token_cms_topk, TOKEN_CMS_TOPK_SQL,
        "count-min sketch heavy hitters: fixed mergeable counters + probe",
    ),
    QuerySpec(
        "events_rolling_kmv", events_rolling_kmv, EVENTS_ROLLING_KMV_SQL,
        "trailing-window distinct via merged per-day KMV sketches",
    ),
    QuerySpec(
        "customer_window_suite", customer_window_suite,
        CUSTOMER_WINDOW_SUITE_SQL,
        "eight ranking/analytic window functions sharing one window spec",
    ),
    QuerySpec(
        "lineitem_running_total", lineitem_running_total,
        LINEITEM_RUNNING_TOTAL_SQL,
        "per-order cumulative totals, quantized-exact running sum",
    ),
    QuerySpec(
        "lineitem_grouping_sets", lineitem_grouping_sets,
        LINEITEM_GROUPING_SETS_SQL,
        "GROUPING SETS + grouping_id: one Expand, one scan, three levels",
    ),
    QuerySpec(
        "events_path_ngrams", events_path_ngrams, EVENTS_PATH_NGRAMS_SQL,
        "sequence mining: top event-type trigram paths via double LEAD",
    ),
    QuerySpec(
        "events_interval_union", events_interval_union,
        EVENTS_INTERVAL_UNION_SQL,
        "interval-union coverage: island detection, integer epoch-ms exact",
    ),
    QuerySpec(
        "orders_partitioned_prune", orders_partitioned_prune,
        ORDERS_PARTITIONED_PRUNE_SQL,
        "hive-partitioned write + partition-pruned one-month read",
    ),
    QuerySpec(
        "lineitem_hist_quantile_sketch", lineitem_hist_quantile_sketch,
        LINEITEM_HIST_QUANTILE_SQL,
        "mergeable fixed-width histogram sketch -> p50/p90/p99 edges",
    ),
    QuerySpec(
        "embeddings_top_eigvec", embeddings_top_eigvec,
        EMBEDDINGS_TOP_EIGVEC_SQL,
        "power-iteration principal direction + top-|proj| scan (PCA step)",
    ),
    QuerySpec(
        "lineitem_band_join", lineitem_band_join, LINEITEM_BAND_JOIN_SQL,
        "non-equi band join: broadcast nested loop over a 5-row band table",
    ),
    QuerySpec(
        "events_late_audit", events_late_audit, EVENTS_LATE_AUDIT_SQL,
        "watermark-lateness audit: batch replay of streaming admission",
    ),
    QuerySpec(
        "orders_csv_roundtrip", orders_csv_roundtrip, ORDERS_CSV_ROUNDTRIP_SQL,
        "CSV sink+source round-trip with explicit schema; oracle on original",
    ),
    QuerySpec(
        "embeddings_kmeans", embeddings_kmeans, EMBEDDINGS_KMEANS_SQL,
        "distributed k-means: 2 exact Lloyd iterations, unrolled-CTE oracle",
    ),
    QuerySpec(
        "events_time_rollup", events_time_rollup, EVENTS_TIME_ROLLUP_SQL,
        "hypertable time rollup: day/month/year/total in one Expand scan",
    ),
    QuerySpec(
        "events_user_bitmap", events_user_bitmap, EVENTS_USER_BITMAP_SQL,
        "bitmap-index distinct: OR-merged 64-bit words, exact + mergeable",
    ),
    QuerySpec(
        "events_communities", events_communities, EVENTS_COMMUNITIES_SQL,
        "deterministic label-propagation communities (unrolled oracle)",
    ),
    QuerySpec(
        "orders_changelog_apply", orders_changelog_apply,
        ORDERS_CHANGELOG_APPLY_SQL,
        "CDC round-trip: apply(A, diff(A,B)) == B, verified by full outer",
    ),
    QuerySpec(
        "orders_lineitem_merge_join", orders_lineitem_merge_join,
        ORDERS_LINEITEM_MERGE_JOIN_SQL,
        "fact-fact SortMergeJoin (hinted, plan-asserted)",
    ),
    QuerySpec(
        "orders_lineitem_hash_join", orders_lineitem_hash_join,
        ORDERS_LINEITEM_HASH_JOIN_SQL,
        "fact-fact ShuffledHashJoin (hinted, plan-asserted)",
    ),
    QuerySpec(
        "orders_json_roundtrip", orders_json_roundtrip,
        ORDERS_JSON_ROUNDTRIP_SQL,
        "JSON-lines sink+source round-trip, explicit schema; oracle on original",
    ),
    QuerySpec(
        "events_trailing_window", events_trailing_window,
        EVENTS_TRAILING_WINDOW_SQL,
        "time-based RANGE frames: per-user trailing-hour burst peaks",
    ),
    QuerySpec(
        "events_ewma_daily", events_ewma_daily,
        EVENTS_EWMA_DAILY_SQL,
        "truncated EWMA via integer-exact weighted lags (alpha=1/4, 8 taps)",
    ),
    QuerySpec(
        "lineitem_price_model", lineitem_price_model,
        LINEITEM_PRICE_MODEL_SQL,
        "closed-form OLS per group from exact sufficient statistics",
    ),
    QuerySpec(
        "events_train_test_split", events_train_test_split,
        EVENTS_TRAIN_TEST_SPLIT_SQL,
        "leakage-free user-hash train/test split with leakage audit",
    ),
    QuerySpec(
        "events_type_dow_chisq", events_type_dow_chisq,
        EVENTS_TYPE_DOW_CHISQ_SQL,
        "chi-square independence test over a distributed contingency table",
    ),
    QuerySpec(
        "events_cooccurrence_lift", events_cooccurrence_lift,
        EVENTS_COOCCURRENCE_LIFT_SQL,
        "market-basket co-occurrence pairs with lift (association mining)",
    ),
    QuerySpec(
        "lineitem_profile_moments", lineitem_profile_moments,
        LINEITEM_PROFILE_MOMENTS_SQL,
        "drift-profiling moments (mean/var/skew) from exact power sums",
    ),
    QuerySpec(
        "orders_constraints", orders_constraints, ORDERS_CONSTRAINTS_SQL,
        "Deequ-style constraint suite: completeness/uniqueness/domain/RI",
    ),
    QuerySpec(
        "events_longest_streak", events_longest_streak,
        EVENTS_LONGEST_STREAK_SQL,
        "gaps-and-islands: longest same-type run per user, no self-join",
    ),
    QuerySpec(
        "orders_schema_evolution", orders_schema_evolution,
        ORDERS_SCHEMA_EVOLUTION_SQL,
        "mergeSchema read across parquet writer generations (added column)",
    ),
    QuerySpec(
        "events_corrupt_json_audit", events_corrupt_json_audit,
        EVENTS_CORRUPT_JSON_AUDIT_SQL,
        "permissive parse of a dirty JSON feed with ingest-health audit",
    ),
    QuerySpec(
        "docs_cross_source_dups", docs_cross_source_dups,
        DOCS_CROSS_SOURCE_DUPS_SQL,
        "cross-source overlap matrix of banded-MinHash near-dup pairs",
    ),
    QuerySpec(
        "lineitem_late_dim", lineitem_late_dim, LINEITEM_LATE_DIM_SQL,
        "late-arriving dimension: left join with reserved UNKNOWN member",
    ),
    QuerySpec(
        "events_stickiness", events_stickiness, EVENTS_STICKINESS_SQL,
        "weekly DAU/WAU stickiness KPI from exact distinct counts",
    ),
    QuerySpec(
        "orders_seasonality", orders_seasonality, ORDERS_SEASONALITY_SQL,
        "ratio-to-moving-average seasonal decomposition, exact through MA",
    ),
    QuerySpec(
        "supplier_hhi", supplier_hhi, SUPPLIER_HHI_SQL,
        "Herfindahl concentration index per nation, exact rational form",
    ),
]
