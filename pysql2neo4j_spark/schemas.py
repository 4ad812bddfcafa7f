"""Explicit StructType schemas for every pipeline table.

The reference discovers its schema once via SQLAlchemy reflection and
drives everything off it [recon: pysql2neo4j/rdbmsproc.py]; our
equivalent of "fixed, reflected schema" is the explicit StructTypes
below — the pipeline never uses schema inference (FIXTURES.md §B/§C).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
# Authoritative input shape [BASELINE.json:15]:
# (conv_id:string, turn_idx:int32, role:string, text:string,
#  tool:string, ts:timestamp)
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampNTZType(), False),
    ]
)

# ------------------------------------------------------------- derived
MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj_mention", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_mention", T.StringType(), False),
        T.StructField("subj_norm", T.StringType(), False),
        T.StructField("obj_norm", T.StringType(), False),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("qualifiers", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

LINKS_SCHEMA = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("entity_key", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)

NODES_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("canonical_name", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), False),
        T.StructField("n_mentions", T.LongType(), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src_entity", T.StringType(), False),
        T.StructField("dst_entity", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("n_obs", T.LongType(), False),
        T.StructField("first_ts", T.TimestampNTZType(), True),
        T.StructField("provenance", T.ArrayType(T.StringType()), True),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_triples", T.LongType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
        # the staged-data subdirectory this commit refers to: readers
        # only ever open manifest-referenced run dirs, so data written
        # by a run that crashed BEFORE its manifest commit is invisible
        # (no duplicate rows on resume — the write+record pair behaves
        # atomically).
        T.StructField("run_dir", T.StringType(), True),
        T.StructField("committed_at", T.TimestampNTZType(), False),
    ]
)

# Star-schema table names pre-registered as DuckDB views by the driver.
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
