"""Scale-shape tests for graph materialization: a hot edge observed in
>=100k distinct conversations must aggregate with BOUNDED buffers
(provenance is capped before any collect — operators/graph.py) and
still produce the exact first-CAP sorted distinct conv_ids."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysql2neo4j_spark.operators.graph import PROVENANCE_CAP, build_edges


def test_hot_edge_provenance_bounded(spark):
    n = 120_000
    t = spark.range(n).select(
        F.format_string("conv%06d", F.col("id")).alias("conv_id"),
        F.lit("ada lovelace").alias("subj_norm"),
        F.lit("analytical engine").alias("obj_norm"),
        F.lit("created").alias("pred"),
        F.format_string("m%d", F.col("id")).alias("subj_mention"),
        F.format_string("n%d", F.col("id")).alias("obj_mention"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
    )
    f2e = spark.createDataFrame(
        [("ada lovelace", "ada lovelace"), ("analytical engine", "analytical engine")],
        ["norm", "entity_id"],
    )
    edges = build_edges(t, f2e, n_salts=4).collect()
    assert len(edges) == 1
    row = edges[0]
    assert row.n_obs == n
    assert row.first_ts is not None
    # exact first-CAP sorted distinct conv_ids, nothing more buffered
    assert row.provenance == [f"conv{i:06d}" for i in range(PROVENANCE_CAP)]


def test_multi_edge_provenance_exact(spark):
    """Cap logic must not disturb small edges: every distinct conv_id
    below the cap appears, sorted."""
    rows = [
        (f"c{j}", "a", "b", "knows", f"sm{i}{j}", f"om{i}{j}")
        for i in range(3)
        for j in range(5)
    ]
    t = spark.createDataFrame(
        rows, ["conv_id", "subj_norm", "obj_norm", "pred", "subj_mention", "obj_mention"]
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    f2e = spark.createDataFrame([("a", "a"), ("b", "b")], ["norm", "entity_id"])
    row = build_edges(t, f2e, n_salts=2).collect()[0]
    assert row.n_obs == 15
    assert row.provenance == [f"c{j}" for j in range(5)]


def test_build_nodes_matches_rollup_path(spark):
    """Nodes build from linking's (norm, surface, n) rollup joined to
    canonical ids. This pins the most-frequent-surface election with
    its (count desc, surface asc) tiebreak, the alias set and the
    mention counts."""
    from pysql2neo4j_spark.operators.graph import nodes_from_surface_stats
    from pysql2neo4j_spark.operators.linking import surface_stats

    rows = (
        [("c1", "Ada Lovelace", "ada lovelace")] * 3
        + [("c2", "ada lovelace", "ada lovelace")] * 3  # tie on n -> min surface wins
        + [("c3", "A Lovelace", "a lovelace")] * 2
        + [("c4", "QueryForge", "queryforge")] * 5
    )
    mentions = spark.createDataFrame(rows, ["conv_id", "surface", "norm"])
    f2e = spark.createDataFrame(
        [("ada lovelace", "ada"), ("a lovelace", "ada"), ("queryforge", "qf")],
        ["norm", "entity_id"],
    )
    surf = surface_stats(mentions)
    via_rollup = nodes_from_surface_stats(
        surf.join(f2e, "norm").select("entity_id", "surface", "norm", "n")
    )

    def canon(df):
        return sorted(
            (r.entity_id, r.label, r.canonical_name, tuple(r.aliases), r.n_mentions)
            for r in df.collect()
        )

    got = canon(via_rollup)
    assert [r[0] for r in got] == ["ada", "qf"]
    by_id = {r[0]: r for r in got}
    # tie at n=3 between 'Ada Lovelace' and 'ada lovelace' -> lexicographic min
    assert by_id["ada"][2] == "Ada Lovelace"
    assert by_id["ada"][3] == ("a lovelace", "ada lovelace")
    assert by_id["qf"][4] == 5
