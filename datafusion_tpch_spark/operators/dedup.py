"""The MinHash/LSH near-duplicate chain: shingle hashes → MinHash
signature → LSH band buckets.

Every near-dup gate builds on these three transforms: the n-gram Jaccard
and containment gates on :func:`shingle_hashes`, the banded-LSH gates
(batch self-join, incremental admission, persisted bucket index,
streaming ingest, curation funnels) on :func:`lsh_buckets`.  The gates
add their own caps and session memos in ``queries.extensions``; the
oracle SQL mirrors these parameters there.  Each transform takes any
``(doc_id, text)`` frame, so the fixture table and one streamed
micro-batch hash identically, and all are shuffle-bounded (a distinct,
a group-by, a narrow explode — never a cross join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing, text

SHINGLE_N = 3              # word n-gram width
MH_K = 16                  # signature length
MH_BANDS = 4               # bands of MH_ROWS rows each
MH_ROWS = MH_K // MH_BANDS


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """Distinct ``(doc_id, h)``: the int64 hash of every word
    ``SHINGLE_N``-gram of each document."""
    return (
        docs.select(
            "doc_id",
            F.explode(text.shingles(F.col("text"), SHINGLE_N)).alias("shingle"),
        )
        .withColumn("h", hashing.md5_int(F.col("shingle")))
        .select("doc_id", "h")
        .distinct()
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """``(doc_id, m0..m{MH_K-1})``: per-permutation minimum over the
    document's shingle hashes; one group-by."""
    aggs = [
        F.min(hashing.minhash_col(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(hashing.perm_params(MH_K))
    ]
    return shingle_hashes(docs).groupBy("doc_id").agg(*aggs)


def lsh_buckets(docs: DataFrame) -> DataFrame:
    """UNCAPPED ``(doc_id, band, bkey)`` bucket membership: ``bkey`` is
    the md5 of the band's ``MH_ROWS`` signature values.  One band-struct
    array + explode instead of a ``MH_BANDS``-way union: the union form
    re-runs the whole shingle → signature pipeline once per band."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"m{band * MH_ROWS + r}").cast("string")
                            for r in range(MH_ROWS)
                        ],
                    )
                ).alias("bkey"),
            )
            for band in range(MH_BANDS)
        ]
    )
    return (
        minhash_signatures(docs)
        .select("doc_id", F.explode(band_structs).alias("b"))
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    )
