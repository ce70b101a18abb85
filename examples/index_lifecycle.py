"""The persistence tier end-to-end: build index artifacts in one session,
then serve them from a SECOND, fresh session that never trains, hashes,
or folds anything.

Covers the four artifact families round 12/13 added:
- ANN IVF index      (operators/ann_index.py): centroids + cell-partitioned
                     corpus, probed-cell partition-pruned serve
- LSH bucket index   (operators/lsh_index.py): band-partitioned occupancy,
                     near-dup admission of an incoming batch
- BPE tokenizer      (queries/curation.py): merge table + folded vocab,
                     corpus token accounting
- curation funnel    (queries/curation.py): per-stage survivor checkpoints,
                     instant re-report + kill-resume

Run: python examples/index_lifecycle.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    os.environ.setdefault(
        "SPARK_GRAFT_INDEX_DIR", tempfile.mkdtemp(prefix="idx_lifecycle_")
    )
    from datafusion_tpch_spark.session import build_session, forget

    gates = [
        "ann_persisted_index_topk",
        "dedup_persisted_lsh",
        "docs_bpe_persisted_encode",
        "docs_pipeline_resumable",
    ]

    # ---- session 1: the BUILD jobs ----------------------------------------
    spark = build_session("index-build")
    from datafusion_tpch_spark.queries import all_queries

    qs = all_queries()
    for name in gates:
        t0 = time.perf_counter()
        n = len(qs[name].build(spark, sf_dir).collect())
        print(f"[build session] {name}: {n} rows "
              f"({time.perf_counter() - t0:.2f}s incl. artifact write)")
    spark.stop()

    # ---- session 2: fresh process state, serve from artifacts alone -------
    spark = build_session("index-serve")
    # memo entries (trained centroids, persisted intermediates, fingerprints)
    # belong to the session that built them, so the serve session starts
    # with none: the serve numbers below start from nothing but the
    # parquet + manifests
    assert not forget(spark), "a new session starts with an empty memo"
    qs = all_queries()
    for name in gates:
        t0 = time.perf_counter()
        n = len(qs[name].build(spark, sf_dir).collect())
        print(f"[serve session] {name}: {n} rows "
              f"({time.perf_counter() - t0:.2f}s from artifacts)")
    spark.stop()
    print("artifact root:", os.environ["SPARK_GRAFT_INDEX_DIR"])


if __name__ == "__main__":
    main()
