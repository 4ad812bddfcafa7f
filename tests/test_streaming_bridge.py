"""Streaming -> KG bridge: micro-batched ingest through the extraction
sink + finalize must produce EXACTLY the edges of the batch pipeline on
the same corpus, and replayed batches must be no-ops (idempotent
commits)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pysql2neo4j_spark.plans.checkpoint import CheckpointManager
from pysql2neo4j_spark.plans.pipeline import PipelineConfig, build_graph
from pysql2neo4j_spark.streaming.bridge import (
    STAGE_STREAM,
    finalize_stream_graph,
    stream_to_staged,
)
from pysql2neo4j_spark.streaming.ingest import (
    read_transcript_stream,
    streaming_dedup_turns,
)


def _edges_sorted(res):
    return sorted(
        map(
            tuple,
            res["edges"]
            .select("src_entity", "dst_entity", "pred", "n_obs", "first_ts", "provenance")
            .collect(),
        )
    )


def test_stream_ingest_equals_batch_build(spark, transcripts_df, tmp_out):
    cfg = PipelineConfig(n_buckets=8)

    # land the corpus as a multi-file parquet dir -> several micro-batches
    src = os.path.join(tmp_out, "src")
    transcripts_df.repartition(6).write.parquet(src)

    stream_out = os.path.join(tmp_out, "stream_graph")
    # the randomly-partitioned files arrive out of event-time order, so
    # the dedup watermark must exceed the corpus time span or genuinely
    # on-time rows would be dropped as late (a real feed is roughly
    # time-ordered and uses a tight watermark)
    stream = streaming_dedup_turns(
        read_transcript_stream(spark, src, max_files_per_trigger=2), watermark="60 days"
    )
    q = stream_to_staged(stream, stream_out, cfg)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ck = CheckpointManager(stream_out)
    run_dirs = ck.committed_run_dirs(spark, STAGE_STREAM)
    assert len(run_dirs) >= 2, "expected multiple micro-batch commits"

    res_stream = finalize_stream_graph(spark, stream_out, cfg)
    res_batch = build_graph(
        spark, transcripts_df, os.path.join(tmp_out, "batch_graph"), cfg
    )
    assert _edges_sorted(res_stream) == _edges_sorted(res_batch)
    assert res_stream["nodes"].count() == res_batch["nodes"].count()

    # lineage: streamed manifest covers every input turn exactly once
    m = ck.manifest(spark).filter(F.col("stage") == STAGE_STREAM)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == transcripts_df.count()


def test_stream_batch_replay_is_idempotent(spark, transcripts_df, tmp_out):
    """foreachBatch may replay a batch id after recovery (at-least-once
    within a lineage): a committed run dir must be skipped, leaving
    manifest and staged rows unchanged. Replayed directly through the
    sink callable — the same function the StreamingQuery drives."""
    from pysql2neo4j_spark.streaming.bridge import make_extraction_sink

    cfg = PipelineConfig(n_buckets=8)
    src = os.path.join(tmp_out, "src")
    transcripts_df.repartition(2).write.parquet(src)
    out = os.path.join(tmp_out, "graph")
    ckpt_loc = os.path.join(out, "_stream_checkpoint")

    stream = streaming_dedup_turns(read_transcript_stream(spark, src, max_files_per_trigger=10))
    q = stream_to_staged(stream, out, cfg)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ck = CheckpointManager(out)
    before = ck.manifest(spark).count()
    dirs_before = ck.committed_run_dirs(spark, STAGE_STREAM)
    assert dirs_before

    # same lineage (same checkpoint -> same token), replayed batch 0:
    # the run-dir guard must skip it without data effects
    sink = make_extraction_sink(out, cfg, ckpt_loc)
    sink(spark.read.parquet(src), 0)

    assert ck.manifest(spark).count() == before
    assert ck.committed_run_dirs(spark, STAGE_STREAM) == dirs_before

    # restart against the same out_dir with NO explicit checkpoint:
    # the default checkpoint under out_dir continues the lineage, so an
    # unchanged source produces zero new batches (no re-read, no loss)
    stream2 = streaming_dedup_turns(read_transcript_stream(spark, src, max_files_per_trigger=10))
    q2 = stream_to_staged(stream2, out, cfg, query_name="kg_stream_replay")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert ck.manifest(spark).count() == before


def test_fresh_lineage_never_loses_new_data(spark, transcripts_df, tmp_out):
    """ADVICE r2: if the streaming checkpoint is LOST (batch ids restart
    at 0 over a source that has since grown), the fresh lineage's run
    dirs must not collide with committed dirs from the old lineage —
    a collision would silently drop the new files that landed in the
    replayed batch 0. The lineage token makes the re-ingest visible
    (duplicated rows, detectable) instead of silent loss."""
    import shutil

    from pysql2neo4j_spark.streaming.bridge import staged_stream_ir

    cfg = PipelineConfig(n_buckets=8)
    src = os.path.join(tmp_out, "src")
    out = os.path.join(tmp_out, "graph")
    ckpt_loc = os.path.join(out, "_stream_checkpoint")

    keyed = transcripts_df.withColumn(
        "half", F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    )
    first = keyed.filter("half = 0").drop("half")
    second = keyed.filter("half = 1").drop("half")
    first.repartition(2).write.mode("append").parquet(src)

    def run_once(name):
        stream = streaming_dedup_turns(
            read_transcript_stream(spark, src, max_files_per_trigger=10),
            watermark="60 days",
        )
        q = stream_to_staged(stream, out, cfg, query_name=name)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("kg_ingest_a")

    # checkpoint lost; new data arrives; a fresh lineage re-reads ALL
    # files as its batch 0
    shutil.rmtree(ckpt_loc)
    second.repartition(2).write.mode("append").parquet(src)
    run_once("kg_ingest_b")

    mentions, _triples = staged_stream_ir(spark, out, cfg)
    got_turns = (
        mentions.select("conv_id").distinct().count()
    )
    want_turns = transcripts_df.select("conv_id").distinct().count()
    assert got_turns == want_turns  # nothing silently lost
    ck = CheckpointManager(out)
    total_rows = ck.manifest(spark).agg(F.sum("n_rows")).collect()[0][0]
    # first half ingested twice (visible duplication), second half once
    assert total_rows == first.count() + transcripts_df.count()


def test_stream_restart_continues_incrementally(spark, transcripts_df, tmp_out):
    """With a checkpointLocation, a restarted ingest query CONTINUES:
    already-committed batches are not re-read, only newly arrived files
    are extracted, and the manifest covers every turn exactly once."""
    from pyspark.sql import functions as F

    cfg = PipelineConfig(n_buckets=8)
    src = os.path.join(tmp_out, "src")
    ckpt_loc = os.path.join(tmp_out, "stream_ckpt")
    out = os.path.join(tmp_out, "graph")

    keyed = transcripts_df.withColumn(
        "half", F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    )
    first = keyed.filter("half = 0").drop("half")
    second = keyed.filter("half = 1").drop("half")
    first.repartition(2).write.mode("append").parquet(src)

    def run_once(name):
        stream = streaming_dedup_turns(
            read_transcript_stream(spark, src, max_files_per_trigger=10),
            watermark="60 days",
        )
        q = stream_to_staged(stream, out, cfg, query_name=name,
                             checkpoint_location=ckpt_loc)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("kg_ingest_a")
    ck = CheckpointManager(out)
    n_first = ck.manifest(spark).agg(F.sum("n_rows")).collect()[0][0]
    assert n_first == first.count()
    dirs_before = set(ck.committed_run_dirs(spark, STAGE_STREAM))

    # new data arrives; the restarted query must process ONLY it
    second.repartition(2).write.mode("append").parquet(src)
    run_once("kg_ingest_b")

    m = ck.manifest(spark)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == transcripts_df.count()
    dirs_after = set(ck.committed_run_dirs(spark, STAGE_STREAM))
    new_dirs = dirs_after - dirs_before
    assert new_dirs and dirs_before < dirs_after  # continued, not replayed
