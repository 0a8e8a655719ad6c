"""Continuous training-data ingest — the STREAMING composition of the
curation stack, end to end on the real Structured Streaming runtime:

1. arrive       — documents land as micro-batches (file source, one
                  shard per trigger; swap `format("kafka")` here for
                  a live feed — nothing downstream changes)
2. quality gate — lang-ID + composite quality + token bounds, fused
                  into the batch scan (functions/text.py)
3. incremental near-dup dedup — each batch probes the PERSISTED
                  MinHash band index (never re-reading prior text),
                  drops matches, then appends its admitted docs so
                  later batches dedup against them
                  (operators/dedup.py::minhash_probe_index /
                  append_to_minhash_index)
4. sink         — admitted, scrubbed docs land batch-id-idempotently
                  in partitioned ORC (crash-replay safe)

Per-trigger cost is batch-sized; the only state that grows is the
band index (~8 B per distinct shingle) — this is the shape of a
continuously-fed 100 TB corpus build.

Usage:
    python examples/streaming_ingest_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run(spark, sf_dir: str, out: str) -> dict[str, int]:
    from flink_orc_sink_spark.functions.pii import scrub_pii
    from flink_orc_sink_spark.functions.text import (
        lang_id,
        quality_score,
        token_count,
    )
    from flink_orc_sink_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_dedup_pairs,
        minhash_probe_index,
    )
    from flink_orc_sink_spark.session import (
        fs_exists,
        fs_mkdirs,
        release_local_checkpoint,
        start_stream,
    )
    from flink_orc_sink_spark.sources.orc_sink import write_batch

    d = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text", "lang", "source")
    )
    work = tempfile.mkdtemp(prefix="stream_ingest_")
    feed = os.path.join(work, "feed")
    idx = os.path.join(work, "idx")

    # bootstrap: an initially-indexed (possibly empty) corpus seed —
    # here the first id-quartile stands in for "what already exists"
    hi = d.agg(F.max("doc_id")).collect()[0][0] + 1
    step = -(-hi // 4)
    seed = d.filter(F.col("doc_id") < step)
    build_minhash_index(seed, "doc_id", "text", idx)

    for i in range(1, 4):  # three arriving shards
        (
            d.filter(
                (F.col("doc_id") >= i * step)
                & (F.col("doc_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed)
        )

    def on_batch(batch_df, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        try:
            gated = batch_df.filter(
                (lang_id("text") == "en")
                & (quality_score("text") >= F.lit(0.5))
                & token_count("text").between(5, 5000)
            ).localCheckpoint(eager=True)
            try:
                # matches vs everything already admitted + earlier in
                # this batch
                vs_index = minhash_probe_index(
                    spark, gated, "doc_id", "text", idx, threshold=0.7
                ).select(F.col("new_doc").alias("doc_id"))
                within = minhash_dedup_pairs(
                    gated, "doc_id", "text", threshold=0.7
                ).select(F.greatest("doc_a", "doc_b").alias("doc_id"))
                dupes = vs_index.unionByName(within).distinct()
                admitted = gated.join(
                    F.broadcast(dupes), "doc_id", "left_anti"
                ).localCheckpoint(eager=True)
                try:
                    write_batch(
                        admitted.withColumn("text", scrub_pii("text")),
                        out,
                        batch_id,
                    )
                    # marker makes the index append replay-idempotent
                    marker = os.path.join(
                        idx, "appended", f"batch_{batch_id}"
                    )
                    if not fs_exists(spark, marker):
                        append_to_minhash_index(
                            admitted, "doc_id", "text", idx
                        )
                        fs_mkdirs(spark, marker)
                finally:
                    release_local_checkpoint(admitted)
            finally:
                release_local_checkpoint(gated)
        finally:
            release_local_checkpoint(batch_df)

    ckpt = os.path.join(work, "ckpt")
    q = start_stream(
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        spark,
        ckpt,
    )
    if not q.awaitTermination(180):
        # fail loudly rather than report a silently partial pair set
        # (and never tear the checkpoint down under a live query)
        q.stop()
        q.awaitTermination(30)
        raise TimeoutError("ingest stream did not drain in 180s")

    landed = spark.read.orc(out)
    counts = {
        "arrived": d.filter(F.col("doc_id") >= step).count(),
        "seed_indexed": seed.count(),
        "admitted": landed.count(),
        "batches": landed.select("batch_id").distinct().count(),
    }
    shutil.rmtree(work, ignore_errors=True)
    return counts


def main() -> None:
    from flink_orc_sink_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_ingest_orc"
    shutil.rmtree(out, ignore_errors=True)
    spark = get_spark("streaming-ingest-pipeline")
    for k, v in run(spark, sf_dir, out).items():
        print(f"{k:>14}: {v}")
    print(f"corpus ORC at {out}")


if __name__ == "__main__":
    main()
