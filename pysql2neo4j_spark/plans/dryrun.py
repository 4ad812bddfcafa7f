"""A16 — dry-run / offline mode: print the physical plan of every
pipeline stage WITHOUT running a job or writing a file.

Reference analogue: pysql2neo4j's offline mode prints the Cypher it
would execute instead of sending it [recon: graphproc.py OFFLINE_MODE];
the Spark-native equivalent of "show me the statements" is
``.explain("formatted")`` per stage — the same plans explain_audit
asserts hygiene on.

The graph-global stages (candidate scoring, CC superstep, node/edge
materialization) are explained over schema-only placeholder frames:
 * their real inputs only exist after upstream ACTIONS run (dry-run
   must not run any), and
 * the candidate self-join reads a checkpointed keys frame in
   production (operators/linking.candidate_pairs), and localCheckpoint
   is an action, so dry-run shows the join over a placeholder keys
   frame instead. The plan SHAPE (join strategy, dedup, scoring
   expressions) is what dry-run documents; the blocking keys (token,
   prefix/suffix and codegen minhash band branches) get their own
   entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import adaptive_containment
from ..operators.extraction import mentions_from_staged, triples_from_staged
from ..operators.graph import build_edges, link_mentions
from ..operators.linking import blocking_keys
from ..schemas import MENTIONS_SCHEMA, TRIPLES_SCHEMA
from .pipeline import PipelineConfig, staged_extraction


def _fmt(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def explain_pipeline(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig | None = None
) -> dict[str, str]:
    """{stage: formatted physical plan}; zero jobs, zero writes."""
    cfg = cfg or PipelineConfig()
    plans: dict[str, str] = {}

    # --- extraction (the plan extract_and_commit writes, over the real input)
    staged = staged_extraction(transcripts, cfg.n_buckets)
    plans["extract_stage"] = _fmt(staged)
    plans["mentions_ir"] = _fmt(mentions_from_staged(staged))
    plans["triples_ir"] = _fmt(triples_from_staged(staged))

    # --- linking prep (blocking expressions over the forms frame; the
    # forms plan mirrors the pipeline's r6 shape — the (norm, surface)
    # rollup is the one fact-sized aggregate, forms is its per-norm
    # marginal)
    from ..operators.linking import surface_stats

    mentions_ph = spark.createDataFrame([], MENTIONS_SCHEMA)
    forms = (
        surface_stats(mentions_ph)
        .groupBy("norm")
        .agg(F.sum("n").cast("long").alias("n_mentions"))
    )
    plans["blocking_keys"] = _fmt(blocking_keys(forms, cfg.bands, cfg.rows))

    # --- candidate generation + verification scoring (placeholder keys)
    keys = spark.createDataFrame([], "norm STRING, block_key STRING")
    w = Window.partitionBy("block_key")
    keys = keys.withColumn("__bs", F.count("*").over(w)).filter(
        F.col("__bs") <= cfg.max_block
    ).drop("__bs")
    pairs = (
        keys.alias("a")
        .join(keys.alias("b"), on="block_key")
        .filter(F.col("a.norm") < F.col("b.norm"))
        .select(F.col("a.norm").alias("norm_a"), F.col("b.norm").alias("norm_b"))
        .dropDuplicates(["norm_a", "norm_b"])
        .withColumn("score", adaptive_containment(F.col("norm_a"), F.col("norm_b")))
        .filter(F.col("score") >= F.lit(cfg.threshold))
    )
    plans["candidates_scored"] = _fmt(pairs)

    # --- one CC superstep (propagate + pointer-jump compress)
    labels = spark.createDataFrame([], "id STRING, component STRING")
    sym = spark.createDataFrame([], "src STRING, dst STRING")
    nbr = sym.join(labels, sym["src"] == labels["id"]).select(
        F.col("dst").alias("id"), F.col("component"),
        F.lit(None).cast("string").alias("old"),
    )
    mine = labels.select("id", "component", F.col("component").alias("old"))
    prop = mine.unionByName(nbr).groupBy("id").agg(
        F.min("component").alias("component"), F.max("old").alias("old")
    )
    jump = labels.select(F.col("id").alias("j_id"), F.col("component").alias("j_comp"))
    superstep = prop.join(jump, prop["component"] == jump["j_id"], "left").select(
        prop["id"],
        F.least(prop["component"], F.coalesce(F.col("j_comp"), prop["component"])).alias("component"),
    )
    plans["cc_superstep"] = _fmt(superstep)

    # --- materialization (salted broadcast linking + bounded-provenance agg)
    f2e = spark.createDataFrame([], "norm STRING, entity_id STRING")
    triples_ph = spark.createDataFrame([], TRIPLES_SCHEMA)
    # the salted mention->entity broadcast join is still a live
    # production shape (it feeds the links IR), so it keeps its own
    # audited plan entry even though nodes no longer consume it
    plans["links_attach"] = _fmt(link_mentions(mentions_ph, f2e, n_salts=cfg.n_salts))
    # nodes build from the vocabulary rollup, as the pipeline does (r6:
    # nodes_from_surface_stats over link_prep's checkpointed
    # (norm, surface, n) — no second mentions scan)
    from ..operators.graph import nodes_from_surface_stats

    per_surface = surface_stats(mentions_ph).join(F.broadcast(f2e), on="norm").select(
        "entity_id", "surface", "norm", "n"
    )
    plans["nodes"] = _fmt(nodes_from_surface_stats(per_surface))
    plans["edges"] = _fmt(build_edges(triples_ph, f2e, n_salts=cfg.n_salts))
    return plans
