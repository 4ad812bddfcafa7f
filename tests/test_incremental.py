"""Incremental graph finalization: a two-phase ingest (full finalize,
then DELTA finalize over only the new batch) must produce edge-for-edge
and node-for-node the same graph as one batch build over everything —
while provably reading only the delta IR (observe() metrics)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pysql2neo4j_spark.plans.checkpoint import CheckpointManager
from pysql2neo4j_spark.plans.incremental import finalize_graph, read_state_meta
from pysql2neo4j_spark.plans.pipeline import PipelineConfig, build_graph
from pysql2neo4j_spark.streaming.bridge import STAGE_STREAM, stream_to_staged
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


def _nodes_sorted(res):
    return sorted(
        map(
            tuple,
            res["nodes"]
            .select("entity_id", "label", "canonical_name", "aliases", "n_mentions")
            .collect(),
        )
    )


def _ingest(spark, src, out, cfg, name):
    stream = streaming_dedup_turns(
        read_transcript_stream(spark, src, max_files_per_trigger=10),
        watermark="60 days",
    )
    q = stream_to_staged(stream, out, cfg, query_name=name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_incremental_finalize_equals_batch_build(spark, transcripts_df, tmp_out):
    cfg = PipelineConfig(n_buckets=8)
    src = os.path.join(tmp_out, "src")
    out = os.path.join(tmp_out, "graph")

    keyed = transcripts_df.withColumn(
        "half", F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    )
    first = keyed.filter("half = 0").drop("half")
    second = keyed.filter("half = 1").drop("half")

    # phase 1: ingest half, FULL finalize (writes state v0)
    first.repartition(2).write.mode("append").parquet(src)
    _ingest(spark, src, out, cfg, "kg_inc_a")
    res1 = finalize_graph(spark, out, cfg, stage=STAGE_STREAM)
    assert res1["metrics"]["mode"] == "full"
    assert read_state_meta(out)["version"] == 0
    full_rows_phase1 = res1["metrics"]["ir_mention_rows_read"]

    # phase 2: new data arrives, DELTA finalize (state v1)
    second.repartition(2).write.mode("append").parquet(src)
    _ingest(spark, src, out, cfg, "kg_inc_b")
    res2 = finalize_graph(spark, out, cfg, stage=STAGE_STREAM)
    assert res2["metrics"]["mode"] == "incremental"
    assert read_state_meta(out)["version"] == 1
    assert res2["metrics"]["n_delta_run_dirs"] >= 1
    # the selective edge publish keeps the layout: one file per bucket
    edges_dir = os.path.join(out, "edges")
    for d in os.listdir(edges_dir):
        if d.startswith("part_key="):
            files = [f for f in os.listdir(os.path.join(edges_dir, d)) if f.endswith(".parquet")]
            assert len(files) == 1, f"edges/{d} holds {len(files)} data files"

    # the incremental run touched ONLY the delta IR: observed mention
    # rows read are the second half's, strictly fewer than the total
    n_mentions_total = full_rows_phase1 + res2["metrics"]["ir_mention_rows_read"]
    assert 0 < res2["metrics"]["ir_mention_rows_read"] < n_mentions_total

    # equality vs one batch build over everything
    res_batch = build_graph(
        spark, transcripts_df, os.path.join(tmp_out, "batch"), cfg
    )
    assert _edges_sorted(res2) == _edges_sorted(res_batch)
    assert _nodes_sorted(res2) == _nodes_sorted(res_batch)

    # a third finalize with no new data is a no-op on the same state
    res3 = finalize_graph(spark, out, cfg, stage=STAGE_STREAM)
    assert res3["metrics"]["mode"] == "noop"
    assert read_state_meta(out)["version"] == 1
    assert _edges_sorted(res3) == _edges_sorted(res2)


def test_incremental_finalize_merges_entities_across_batches(spark, tmp_out):
    """A new surface form arriving in batch 2 can BRIDGE two entities
    that batch 1 kept separate — the delta CC must merge the prior
    components (remap path) and prior edge endpoints must follow."""
    import datetime as dt

    from pysql2neo4j_spark.plans.pipeline import extract_stage
    from pysql2neo4j_spark.schemas import TRANSCRIPT_SCHEMA

    cfg = PipelineConfig(n_buckets=8, cc_partitions=2)
    out = os.path.join(tmp_out, "graph")
    ts = dt.datetime(2026, 1, 1)

    # batch resume is partition-grained: pick conv ids landing in three
    # DISTINCT buckets so batch 2's conv is a genuinely pending partition
    probe = spark.createDataFrame(
        [(f"conv-{i}",) for i in range(32)], "conv_id string"
    ).select(
        "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).alias("b")
    ).collect()
    seen: dict[int, str] = {}
    for r in probe:
        seen.setdefault(r.b, r.conv_id)
        if len(seen) == 3:
            break
    c1, c2, c3 = list(seen.values())[:3]

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, "user", t, None, ts) for c, i, t in rows], schema=TRANSCRIPT_SCHEMA
        )

    # "Zephyrix" and "Qanata Group" share no token/prefix/suffix and
    # have zero shingle containment -> two entities in batch 1. The
    # batch-2 form "Zephyrix Qanata Group" contains BOTH (containment
    # 1.0 each) -> one entity after the delta finalize.
    batch1 = turns(
        [
            (c1, 0, "Zephyrix uses Postgres."),
            (c2, 0, "Qanata Group uses Redis."),
        ]
    )
    batch2 = turns([(c3, 0, "Zephyrix Qanata Group uses Redis.")])

    extract_stage(spark, batch1, out, cfg)
    res1 = finalize_graph(spark, out, cfg, stage="extract")
    f2e1 = {r.norm: r.entity_id for r in res1["form2entity"].collect()}
    assert f2e1["zephyrix"] != f2e1["qanata group"]  # separate pre-bridge

    # snapshot every published edge-bucket file BEFORE the delta: only
    # buckets touched by the merge may be rewritten (selective publish)
    import glob

    def file_state(root):
        return {
            p: (os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(root, "part_key=*", "*.parquet"))
        }

    before = file_state(os.path.join(out, "edges"))

    extract_stage(spark, batch1.unionByName(batch2), out, cfg)
    res2 = finalize_graph(spark, out, cfg, stage="extract")
    assert res2["metrics"]["mode"] == "incremental"

    after = file_state(os.path.join(out, "edges"))
    # the zephyrix->postgres edge's src entity is untouched by the merge
    # only if 'zephyrix' is NOT the merged rep; compute the untouched
    # bucket from whichever prior src entity kept its id
    f2e2 = {r.norm: r.entity_id for r in res2["form2entity"].collect()}
    kept = [e for e in (f2e1["zephyrix"], f2e1["qanata group"]) if f2e2[e] == e]
    moved = [e for e in (f2e1["zephyrix"], f2e1["qanata group"]) if f2e2[e] != e]
    assert kept and moved  # a merge happened, one old rep survives
    from pyspark.sql.functions import xxhash64, lit, pmod

    def bucket(entity):
        return (
            spark.range(1)
            .select(pmod(xxhash64(lit(entity)), lit(cfg.n_entity_buckets)).cast("int").alias("b"))
            .collect()[0]
            .b
        )

    moved_pk = bucket(moved[0])
    untouched_files = {
        p: s for p, s in before.items() if f"part_key={moved_pk}" not in p
        and f"part_key={bucket(kept[0])}" not in p
    }
    for p, s in untouched_files.items():
        assert after.get(p) == s, f"untouched bucket file rewritten: {p}"

    res_batch = build_graph(
        spark, batch1.unionByName(batch2), os.path.join(tmp_out, "batch"), cfg
    )
    assert _edges_sorted(res2) == _edges_sorted(res_batch)
    assert _nodes_sorted(res2) == _nodes_sorted(res_batch)
    f2e2 = {r.norm: r.entity_id for r in res2["form2entity"].collect()}
    assert (
        f2e2["zephyrix"]
        == f2e2["qanata group"]
        == f2e2["zephyrix qanata group"]
    )  # merged, and prior edges remapped (edge equality above proves it)


def test_incremental_merge_edge_key_collision(spark, tmp_out):
    """ADVICE r3 (high): a prior edge remapped ONTO a key already held
    by another prior edge — one whose own endpoints are unremapped and
    whose key is absent from the delta — must drag that second row into
    the re-aggregation. The output carries ONE row per (src,dst,pred)
    with the n_obs summed, exactly like the full rebuild, not two rows
    with split counts."""
    import datetime as dt

    from pysql2neo4j_spark.plans.pipeline import extract_stage
    from pysql2neo4j_spark.schemas import TRANSCRIPT_SCHEMA

    cfg = PipelineConfig(n_buckets=8, cc_partitions=2)
    out = os.path.join(tmp_out, "graph")
    ts = dt.datetime(2026, 1, 1)

    probe = spark.createDataFrame(
        [(f"conv-{i}",) for i in range(32)], "conv_id string"
    ).select(
        "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).alias("b")
    ).collect()
    seen: dict[int, str] = {}
    for r in probe:
        seen.setdefault(r.b, r.conv_id)
        if len(seen) == 3:
            break
    c1, c2, c3 = list(seen.values())[:3]

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, "user", t, None, ts) for c, i, t in rows], schema=TRANSCRIPT_SCHEMA
        )

    # batch 1: BOTH pre-merge entities carry a 'uses redis' edge.
    # batch 2's bridging form targets POSTGRES, so the colliding key
    # (merged_rep, redis, uses) never appears in the delta edge set.
    batch1 = turns(
        [
            (c1, 0, "Zephyrix uses Redis."),
            (c2, 0, "Qanata Group uses Redis."),
        ]
    )
    batch2 = turns([(c3, 0, "Zephyrix Qanata Group uses Postgres.")])

    extract_stage(spark, batch1, out, cfg)
    res1 = finalize_graph(spark, out, cfg, stage="extract")
    f2e1 = {r.norm: r.entity_id for r in res1["form2entity"].collect()}
    assert f2e1["zephyrix"] != f2e1["qanata group"]

    extract_stage(spark, batch1.unionByName(batch2), out, cfg)
    res2 = finalize_graph(spark, out, cfg, stage="extract")
    assert res2["metrics"]["mode"] == "incremental"

    f2e2 = {r.norm: r.entity_id for r in res2["form2entity"].collect()}
    assert f2e2["zephyrix"] == f2e2["qanata group"]  # merge happened

    edge_rows = res2["edges"].select(
        "src_entity", "dst_entity", "pred", "n_obs"
    ).collect()
    keys = [(r.src_entity, r.dst_entity, r.pred) for r in edge_rows]
    assert len(keys) == len(set(keys)), f"duplicate edge keys: {sorted(keys)}"
    redis = [r for r in edge_rows if r.dst_entity == "redis"]
    assert len(redis) == 1 and redis[0].n_obs == 2

    res_batch = build_graph(
        spark, batch1.unionByName(batch2), os.path.join(tmp_out, "batch"), cfg
    )
    assert _edges_sorted(res2) == _edges_sorted(res_batch)
    assert _nodes_sorted(res2) == _nodes_sorted(res_batch)


def test_incremental_refuses_context_weight(spark, tmp_out):
    """ADVICE r3 (medium): context-boosted scoring needs ALL mentions'
    co-mention neighborhoods; the delta path never reads prior IR, so
    finalize must refuse context_weight != 0 loudly instead of silently
    diverging from the full build."""
    import datetime as dt

    import pytest

    from pysql2neo4j_spark.plans.pipeline import extract_stage
    from pysql2neo4j_spark.schemas import TRANSCRIPT_SCHEMA

    cfg = PipelineConfig(n_buckets=8, cc_partitions=2)
    out = os.path.join(tmp_out, "graph")
    ts = dt.datetime(2026, 1, 1)

    probe = spark.createDataFrame(
        [(f"conv-{i}",) for i in range(32)], "conv_id string"
    ).select(
        "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).alias("b")
    ).collect()
    seen: dict[int, str] = {}
    for r in probe:
        seen.setdefault(r.b, r.conv_id)
        if len(seen) == 2:
            break
    c1, c2 = list(seen.values())[:2]

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, "user", t, None, ts) for c, i, t in rows], schema=TRANSCRIPT_SCHEMA
        )

    batch1 = turns([(c1, 0, "Zephyrix uses Postgres.")])
    batch2 = turns([(c2, 0, "Qanata Group uses Redis.")])

    extract_stage(spark, batch1, out, cfg)
    finalize_graph(spark, out, cfg, stage="extract")

    extract_stage(spark, batch1.unionByName(batch2), out, cfg)
    cw = PipelineConfig(n_buckets=8, cc_partitions=2, context_weight=0.2)
    with pytest.raises(ValueError, match="context_weight"):
        finalize_graph(spark, out, cw, stage="extract")
    # with context_weight=0 the same delta proceeds normally
    res = finalize_graph(spark, out, cfg, stage="extract")
    assert res["metrics"]["mode"] == "incremental"
