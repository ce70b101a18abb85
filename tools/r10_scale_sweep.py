"""Round-10 gates at 10x: id-shifted documents (50k blobs) + id-shifted
embeddings (20k vectors) in /tmp, same measurement protocol as the prior
rounds' SCALE_PROOF sweeps (warm best-of-2 for batch gates, cold full run
for the streaming gate).  Run AFTER pytest/bench are idle; check
/proc/loadavg first."""

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from datafusion_tpch_spark.catalog import load_table  # noqa: E402
from datafusion_tpch_spark.queries import all_queries  # noqa: E402
from datafusion_tpch_spark.session import build_session  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/scale10_r10"


def build_fixture(spark) -> None:
    if os.path.exists(DST + "/_DONE"):
        return
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    docs = load_table(spark, SRC, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * mx))
        .withColumn("text", F.concat(F.col("text"), F.lit(f" copytok{i}")))
        for i in range(10)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(DST + "/documents.parquet")
    emb = load_table(spark, SRC, "embeddings")
    emx = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    eparts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * emx))
        for i in range(10)
    ]
    ebig = eparts[0]
    for p in eparts[1:]:
        ebig = ebig.unionByName(p)
    ebig.write.mode("overwrite").parquet(DST + "/embeddings.parquet")
    open(DST + "/_DONE", "w").close()


def main() -> None:
    print("loadavg:", open("/proc/loadavg").read().strip())
    spark = build_session(
        "r10-scale", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    build_fixture(spark)
    qs = all_queries()
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{DST}/{t}.parquet").count()  # warm file cache

    batch = [
        "multimodal_phash_dedup",
        "multimodal_jpeg_dri_roundtrip",
        "multimodal_video_frames",
        "ann_filtered_topk",
        "multimodal_gif_anim_frames",
        "multimodal_jpeg_prog_roundtrip",
        "multimodal_wav_stereo_roundtrip",
        "multimodal_cross_codec_dedup",
        "multimodal_audio_fp_dedup",
        "multimodal_video_frame_dedup",
        "docs_exact_substring_dedup",
        "multimodal_scale_invariant_dedup",
        "multimodal_phash_recall_audit",
    ]
    for name in batch:
        for sf_dir, tag in ((SRC, "1x"), (DST, "10x")):
            best, n = float("inf"), 0
            for _ in range(2):
                t0 = time.perf_counter()
                n = len(qs[name].build(spark, sf_dir).collect())
                best = min(best, time.perf_counter() - t0)
            print(f"{name} @ {tag}: {best:.2f}s ({n} rows)", flush=True)

    # streaming gates: cold full run per scale (drop the maintained state)
    from datafusion_tpch_spark.session import forget

    for sf_dir, tag in ((SRC, "1x"), (DST, "10x")):
        forget(spark, "stream")
        t0 = time.perf_counter()
        n = len(qs["embeddings_ingest_stream"].build(spark, sf_dir).collect())
        print(
            f"embeddings_ingest_stream @ {tag}: cold "
            f"{time.perf_counter() - t0:.2f}s ({n} cells)",
            flush=True,
        )
    for sf_dir, tag in ((SRC, "1x"), (DST, "10x")):
        forget(spark, "stream")
        t0 = time.perf_counter()
        n = len(
            qs["docs_substring_ingest_stream"].build(spark, sf_dir).collect()
        )
        print(
            f"docs_substring_ingest_stream @ {tag}: cold "
            f"{time.perf_counter() - t0:.2f}s ({n} verdicts)",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
