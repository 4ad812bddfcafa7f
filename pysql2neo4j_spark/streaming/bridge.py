"""Streaming -> KG bridge (VERDICT r1 #8): feed watermark-deduped
transcript turns through the SAME extract path and checkpoint manifest
the batch pipeline uses (``plans.pipeline.extract_and_commit``),
incrementally, then finalize the graph from the accumulated staged IR.

Design: ``foreachBatch`` is the standard exactly-once micro-batch sink
shape — each micro-batch is extracted and committed as a staged run
directory whose name is DETERMINISTIC per (checkpoint lineage, batch
id). Idempotence under foreachBatch's at-least-once replay contract:
  * a replayed batch whose run dir is already in the manifest is
    skipped (the commit is the manifest row, exactly as the batch
    pipeline's run-dir protocol — plans/checkpoint.py);
  * a replayed batch that crashed in the write/commit window re-writes
    its run dir with mode=overwrite and commits once.

At 10^12-turn scale the file source becomes Kafka/Iceberg CDC and this
sink is unchanged; graph finalization (linking/CC/materialize) runs on
whatever cadence the user wants — it reads only manifest-committed
staged data, so it can run while ingest continues.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import CheckpointManager
from ..plans.pipeline import PipelineConfig, extract_and_commit

STAGE_STREAM = "extract_stream"


def _lineage_token(checkpoint_location: str) -> str:
    """Per-lineage token for run-dir names: the StreamingQuery id Spark
    persists in ``<checkpoint>/metadata``. Stable across restarts of
    the same checkpoint (so a crash-replayed batch id maps to the SAME
    run dir and is skipped), regenerated only when the checkpoint is
    lost — a genuinely fresh lineage whose batch ids restart at 0 must
    NOT collide with committed dirs from a prior lineage (a collision
    silently drops the re-read data; a fresh token re-ingests it
    visibly instead)."""
    try:
        with open(os.path.join(checkpoint_location, "metadata")) as fh:
            return json.load(fh)["id"].replace("-", "")[:8]
    except (OSError, ValueError, KeyError):
        return "nolineage"


def make_extraction_sink(out_dir: str, cfg: PipelineConfig, checkpoint_location: str):
    """The foreachBatch sink as a standalone callable (unit-testable:
    tests replay a batch id directly to pin the idempotence contract)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        run_dir = f"stream-{_lineage_token(checkpoint_location)}-b{batch_id:06d}"
        if run_dir in CheckpointManager(out_dir).committed_run_dirs(spark, STAGE_STREAM):
            # replayed, already-committed batch: no data effects — but
            # the upstream stateful dedup still needs every partition
            # processed for its state-store commit (Spark 4 validates
            # this), so drain the batch through the noop sink.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        # overwrite: a crash-retry of this batch must not append twice
        extract_and_commit(
            spark, batch_df.withColumn("ts", F.col("ts").cast("timestamp_ntz")),
            out_dir, cfg, STAGE_STREAM, run_dir=run_dir, mode="overwrite",
        )

    return sink


def stream_to_staged(
    stream_turns: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    query_name: str = "kg_stream_ingest",
    checkpoint_location: str | None = None,
):
    """Attach the extraction sink to a streaming transcript frame;
    returns the started StreamingQuery (caller drives/stops it).

    ``stream_turns`` is typically ``streaming_dedup_turns(...)`` output
    (watermarked, PK-deduped); its ``ts`` is timezone-aware for the
    watermark — cast back to timestamp_ntz here (session TZ is pinned
    UTC, so the instant is unchanged and matches the batch IR schema).

    ``checkpoint_location`` defaults UNDER ``out_dir`` — a streaming
    sink whose commit manifest outlives the query but whose source
    offsets do not is a data-loss trap (a checkpoint-less restart
    replays batch ids from 0 over MORE source data than the committed
    dirs covered, and a name collision would silently skip the
    difference). With the default, restarting against the same out_dir
    always continues the same lineage; the run-dir lineage token covers
    the remaining case of a deliberately discarded checkpoint.
    """
    cfg = cfg or PipelineConfig()
    if checkpoint_location is None:
        checkpoint_location = os.path.join(out_dir, "_stream_checkpoint")
    sink = make_extraction_sink(out_dir, cfg, checkpoint_location)
    return (
        stream_turns.writeStream.foreachBatch(sink)
        .outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def staged_stream_ir(spark: SparkSession, out_dir: str, cfg: PipelineConfig):
    """(mentions, triples) over every manifest-committed streamed batch."""
    from ..plans.pipeline import read_committed_ir

    return read_committed_ir(spark, out_dir, cfg, stage=STAGE_STREAM)


def finalize_stream_graph(
    spark: SparkSession, out_dir: str, cfg: PipelineConfig | None = None
) -> dict[str, DataFrame]:
    """Finalize the graph from the streamed IR. First call = full build
    (same ``materialize_graph`` tail as the batch pipeline) + persisted
    vocabulary-sized state; subsequent calls are DELTA finalizes that
    read only newly committed run dirs (plans/incremental.py) — the
    whole point at 10^12 turns, where a daily finalize must not re-pay
    linking/CC/aggregation for the 99.9% of IR that didn't change.
    Either way the result equals a batch build over all ingested input
    (tests/test_streaming_bridge.py, tests/test_incremental.py)."""
    from ..plans.incremental import finalize_graph

    cfg = cfg or PipelineConfig()
    return finalize_graph(spark, out_dir, cfg, stage=STAGE_STREAM)
