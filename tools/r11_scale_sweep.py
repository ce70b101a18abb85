"""Round-11 gates at 10x: id-shifted documents (50k clips) + id-shifted
embeddings (20k vectors) in /tmp — the same fixture builder and measurement
protocol as tools/r10_scale_sweep.py (warm best-of-2 for batch gates, cold
full run for streaming gates).  Run AFTER pytest/bench are idle; check
/proc/loadavg first.

Expectation notes:
- the ANN gates retrain the k=128 index per fixture (one-time, excluded by
  the warm best-of-2 after the first build);
- multimodal_video_clip_dedup at 10x is where the _CLIP_FP_CAP stoplist
  earns its keep: the id-shifted fixture gives every clip ~195 same-footage
  siblings, so uncapped pairing would be quadratic (~4.8M pairs); the cap
  stoplists those hot fingerprints in-plan and the join stays bounded.
"""

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from datafusion_tpch_spark.queries import all_queries  # noqa: E402
from datafusion_tpch_spark.session import build_session  # noqa: E402
from tools.r10_scale_sweep import SRC, DST, build_fixture  # noqa: E402


def main() -> None:
    print("loadavg:", open("/proc/loadavg").read().strip())
    spark = build_session(
        "r11-scale", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    build_fixture(spark)
    qs = all_queries()
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{DST}/{t}.parquet").count()  # warm file cache

    batch = [
        "ann_ivf_topk",
        "ann_ivf_pq_topk",
        "ann_ivf_pq_refine_topk",
        "ann_recall_audit",
        "multimodal_video_clip_dedup",
        "multimodal_video_clip_recall_audit",
        "multimodal_phash_band_dedup",
        "multimodal_audio_clip_dedup",
    ]
    for name in batch:
        for sf_dir, tag in ((SRC, "1x"), (DST, "10x")):
            best, n = float("inf"), 0
            for _ in range(2):
                t0 = time.perf_counter()
                n = len(qs[name].build(spark, sf_dir).collect())
                best = min(best, time.perf_counter() - t0)
            print(f"{name} @ {tag}: {best:.2f}s ({n} rows)", flush=True)

    # streaming gate: cold full run per scale (drop the maintained state)
    from datafusion_tpch_spark.session import forget

    for sf_dir, tag in ((SRC, "1x"), (DST, "10x")):
        forget(spark, "stream")
        t0 = time.perf_counter()
        n = len(qs["ann_ingest_topk"].build(spark, sf_dir).collect())
        print(
            f"ann_ingest_topk @ {tag}: cold {time.perf_counter() - t0:.2f}s"
            f" ({n} rows)",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
