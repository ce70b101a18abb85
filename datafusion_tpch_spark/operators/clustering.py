"""Distributed k-means refinement (Lloyd iterations) over an embedding
column — the production upgrade of `ann_ivf_topk`'s fixed-k seed centroids
(queries/extensions.py): same deterministic seeds, same bounded driver
state, but each iteration tightens the cells.

Execution model mirrors operators/graph.py: the driver runs the (few)
iterations, every step is distributed —

- **assignment**: the existing vectorized `ivf_assign` kernel
  (operators/similarity.py — Arrow-batched argmin against the broadcast
  centroid array; one corpus pass, no shuffle);
- **update**: posexplode to (cell, dim, val) and hash-aggregate — the
  shuffle carries k x dim rows after partial combine, however large the
  corpus; the refreshed centroid table collected to the driver is k rows
  (the same constant-bound rule as the seeds and the bloom filter words).

Empty cells keep their previous centroid (the standard Lloyd fallback), so
k never decays and iteration output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import ivf_assign

Centroids = list[tuple[int, list[float]]]


def _update_centroids(assigned: DataFrame, prev: Centroids,
                      exact: bool = False) -> Centroids:
    """One centroid-update step: per-cell dimension means (k x dim rows
    through the shuffle, k rows to the driver).  ``exact=True`` uses the
    floor-quantized fixed-point mean (functions/exact.davg) so the means
    are order-independent and engine-identical — required when a DuckDB
    oracle replays the same iterations (queries/advanced.py:
    embeddings_kmeans)."""
    from ..functions.exact import davg

    mean = davg(F.col("v")) if exact else F.avg("v")
    rows = (
        assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(mean.alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dims"))
        .collect()
    )
    by_cell = {
        int(r["cell"]): [float(d["m"]) for d in r["dims"]] for r in rows
    }
    return [(cid, by_cell.get(cid, vec)) for cid, vec in prev]


def md5_seeds(emb: DataFrame, k: int) -> Centroids:
    """The deterministic seed sample every index build starts from: the
    ``k`` rows of ``(vec_id, embedding)`` with the smallest
    ``md5(vec_id)``, ties broken by ``vec_id``, as ``(vec_id, vector)`` —
    one bounded collect of k rows.  The oracle CTEs replay the same order
    in SQL (``ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
    vec_id)``)."""
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in rows]


def kmeans_refine(emb: DataFrame, seeds: Centroids, iters: int = 3,
                  exact: bool = False) -> tuple[Centroids, DataFrame]:
    """Refine fixed-k seed centroids with ``iters`` Lloyd iterations.

    Returns ``(centroids, assigned)`` where ``assigned`` is the input frame
    plus a ``cell`` column from the final assignment pass.  Deterministic:
    assignment uses the floor-quantized L2 argmin with smallest-id
    tie-break (same kernel the IVF gate query uses), updates are exact
    dimension means (``exact=True`` makes them fixed-point
    order-independent for cross-engine replay).
    """
    centroids = seeds
    for _ in range(iters):
        assigned = ivf_assign(emb, centroids)
        centroids = _update_centroids(assigned, centroids, exact=exact)
    return centroids, ivf_assign(emb, centroids)


def inertia(assigned: DataFrame, centroids: Centroids) -> float:
    """Sum of squared L2 distances to the assigned centroid — the k-means
    objective; one broadcast join + one scalar aggregate.

    No gate calls it: it is the independent objective that
    ``tests/test_advanced.py::test_kmeans_members_cover_corpus_and_inertia_drops``
    and ``tests/test_clustering.py`` check Lloyd refinement against."""
    spark = assigned.sparkSession
    cent = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids], ["cell", "cvec"]
    )
    dist2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("cvec").cast("array<double>"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return float(
        assigned.join(F.broadcast(cent), "cell")
        .agg(F.sum(dist2))
        .collect()[0][0]
    )
