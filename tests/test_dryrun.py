"""A16 dry-run mode: every stage explains, nothing executes, nothing
is written."""

from __future__ import annotations

import os

from pysql2neo4j_spark.plans.dryrun import explain_pipeline
from pysql2neo4j_spark.plans.pipeline import PipelineConfig


def test_explain_pipeline_all_stages_no_writes(spark, transcripts_df, tmp_out):
    plans = explain_pipeline(spark, transcripts_df, PipelineConfig(n_buckets=8))
    assert set(plans) == {
        "extract_stage", "mentions_ir", "triples_ir", "blocking_keys",
        "candidates_scored", "cc_superstep", "links_attach", "nodes", "edges",
    }
    # the plans carry the physical properties the design depends on
    assert "MapInPandas" in plans["extract_stage"]  # one Arrow crossing
    # no shuffle in front of the kernel: the plan is scan -> kernel
    assert "Exchange" not in plans["extract_stage"]
    assert "BroadcastHashJoin" in plans["edges"]     # salted dim join
    assert "BroadcastHashJoin" in plans["links_attach"]  # salted mention->entity
    assert "BroadcastHashJoin" in plans["nodes"]
    assert "Aggregate" in plans["cc_superstep"]  # min-label groupBy
    # minhash band keys in the codegen shape (operators/dedup
    # .minhash_band_buckets), not the interpreted nested-lambda signature
    assert "array_min" not in plans["blocking_keys"]
    assert "HashAggregate" in plans["blocking_keys"]
    assert "min(xxhash64(" in plans["blocking_keys"]
    # dry-run touched no filesystem state
    assert os.listdir(tmp_out) == []
