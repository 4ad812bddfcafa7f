"""Golden E2E: full pipeline -> P/R >= 0.95 vs the frozen reference
[BASELINE.json:2,14], plus resume-after-partial-failure equality
(SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysql2neo4j_spark.oracle_extractor import reference_canonical_triples
from pysql2neo4j_spark.plans.checkpoint import CheckpointManager, with_part_key
from pysql2neo4j_spark.plans.pipeline import PipelineConfig, build_graph, precision_recall


def _canon_triples(res):
    return res["edges"].select(
        F.col("src_entity").alias("subj_rep"), "pred", F.col("dst_entity").alias("obj_rep")
    )


def test_pr_gate(spark, corpus_pdf, transcripts_df, tmp_out):
    pdf, _ = corpus_pdf
    res = build_graph(spark, transcripts_df, tmp_out, PipelineConfig())
    ref = spark.createDataFrame(reference_canonical_triples(pdf))
    p, r = precision_recall(_canon_triples(res), ref, ["subj_rep", "pred", "obj_rep"])
    assert p >= 0.95 and r >= 0.95, (p, r)
    # the deterministic corpus should actually be perfect
    assert p == 1.0 and r == 1.0
    # entity recovery: exactly the gazetteer's 100 entities
    assert res["nodes"].count() == 100


def test_resume_equals_single_run(spark, transcripts_df, tmp_out):
    """Kill-after-k-partitions simulation: run on a partition subset,
    then resume over the full input — output must equal a single full
    run and no partition may be extracted twice."""
    cfg = PipelineConfig(n_buckets=8)
    keyed = with_part_key(transcripts_df, cfg.n_buckets)
    first_half = keyed.filter(F.col("part_key") < 4).drop("part_key")

    partial_out = tmp_out + "_resume"
    build_graph(spark, first_half, partial_out, cfg)
    ck = CheckpointManager(partial_out)
    m1 = ck.manifest(spark)
    assert m1.count() <= 4

    res_resumed = build_graph(spark, transcripts_df, partial_out, cfg)
    m2 = ck.manifest(spark)
    # no duplicate partition commits
    dup = m2.groupBy("stage", "partition_key").count().filter("count > 1").count()
    assert dup == 0

    res_single = build_graph(spark, transcripts_df, tmp_out, cfg)
    a = sorted(map(tuple, _canon_triples(res_resumed).distinct().collect()))
    b = sorted(map(tuple, _canon_triples(res_single).distinct().collect()))
    assert a == b


def test_crash_before_manifest_commit_no_duplicates(
    spark, transcripts_df, tmp_out, monkeypatch
):
    """ADVICE r1: a crash AFTER the staged write commits but BEFORE the
    manifest record must not double-count on resume. Staged data lives
    in per-run subdirectories that only become visible via the manifest,
    so the orphaned write is ignored and the retry re-extracts cleanly."""
    import pytest

    cfg = PipelineConfig(n_buckets=8)

    def boom(self, metrics, stage, run_dir=None):
        raise RuntimeError("simulated crash between staged write and manifest commit")

    monkeypatch.setattr(CheckpointManager, "record", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_graph(spark, transcripts_df, tmp_out, cfg)
    monkeypatch.undo()

    res = build_graph(spark, transcripts_df, tmp_out, cfg)  # retry
    res_clean = build_graph(spark, transcripts_df, tmp_out + "_clean", cfg)
    # row-exact: duplicated staged rows would inflate mention counts and
    # edge n_obs
    assert res["mentions"].count() == res_clean["mentions"].count()
    a = sorted(map(tuple, res["edges"].drop("part_key").collect()))
    b = sorted(map(tuple, res_clean["edges"].drop("part_key").collect()))
    assert a == b


def test_resume_from_legacy_flat_manifest(spark, transcripts_df, tmp_out):
    """A manifest whose commits carry no run_dir (staged rows flat under
    extracted/, a layout this reader does not support) is refused with
    a clear error instead of silently dropping those partitions, whose
    keys still count as complete for the resume filter."""
    import shutil

    import pytest

    from pysql2neo4j_spark.plans.pipeline import read_committed_ir

    cfg = PipelineConfig(n_buckets=8)
    keyed = with_part_key(transcripts_df, cfg.n_buckets)
    first_half = keyed.filter(F.col("part_key") < 4).drop("part_key")
    build_graph(spark, first_half, tmp_out, cfg)

    ck = CheckpointManager(tmp_out)
    legacy_rows = ck.manifest(spark).withColumn("run_dir", F.lit(None).cast("string"))
    legacy_rows = spark.createDataFrame(legacy_rows.collect(), schema=legacy_rows.schema)
    shutil.rmtree(ck.manifest_path)
    legacy_rows.write.parquet(ck.manifest_path)

    with pytest.raises(ValueError, match="no run_dir"):
        read_committed_ir(spark, tmp_out, cfg)
    with pytest.raises(ValueError, match="no run_dir"):
        build_graph(spark, transcripts_df, tmp_out, cfg)


def test_edges_carry_provenance_and_counts(spark, transcripts_df, tmp_out):
    res = build_graph(spark, transcripts_df, tmp_out, PipelineConfig())
    e = res["edges"]
    row = e.orderBy(F.desc("n_obs")).first()
    assert row.n_obs >= 1 and row.first_ts is not None
    assert 1 <= len(row.provenance) <= 20
    # uniqueness of canonical edges (A8 analogue)
    dups = e.groupBy("src_entity", "dst_entity", "pred").count().filter("count>1").count()
    assert dups == 0


def test_metrics_lineage_recorded(spark, transcripts_df, tmp_out):
    cfg = PipelineConfig(n_buckets=8)
    build_graph(spark, transcripts_df, tmp_out, cfg)
    m = CheckpointManager(tmp_out).manifest(spark)
    rows = m.collect()
    assert rows and all(r.stage == "extract" for r in rows)
    assert sum(r.n_rows for r in rows) == transcripts_df.count()
    assert all(r.input_fingerprint for r in rows)
    assert sum(r.n_triples for r in rows) > 0


def test_links_ir_table(spark, transcripts_df, tmp_out):
    res = build_graph(spark, transcripts_df, tmp_out, PipelineConfig())
    links = res["links"]
    assert links.columns == ["mention_id", "entity_key", "score", "rank"]
    n_mentions = res["mentions"].count()
    assert links.count() == n_mentions
    bad = links.filter("score <= 0 OR score > 1 OR rank <> 1").count()
    assert bad == 0


def test_pr_gate_holds_across_corpus_seeds(spark, tmp_out):
    """Property check: the gate is not tuned to seed 42 — regenerating
    the corpus under other seeds (different template draws, alias
    subsets, conversation shapes) must still round-trip through
    extraction -> linking -> CC -> materialization exactly.

    Both sides are canonicalized through the gazetteer FOR EVALUATION
    (the frozen oracle already does; the pipeline still never sees it):
    at small corpora an entity's gazetteer-min alias may simply never be
    observed, in which case the pipeline's min-OBSERVED-norm rep differs
    from the oracle's min-gazetteer-norm rep with both clusterings
    correct — e.g. seed 7 @60 convs observes 'marivosa' but never the
    typo alias 'maivosa' that the full-gazetteer min picks. Mapping
    reps -> gazetteer entity makes the property test about clustering +
    extraction, not about which alias happened to appear."""
    from pysql2neo4j_spark.corpus import generate_corpus
    from pysql2neo4j_spark.oracle_extractor import alias_to_canonical
    from pysql2neo4j_spark.schemas import TRANSCRIPT_SCHEMA

    a2c = alias_to_canonical()

    for seed in (7, 1234):
        pdf, _ = generate_corpus(n_convs=60, seed=seed)
        df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
        res = build_graph(spark, df, f"{tmp_out}_s{seed}", PipelineConfig(n_buckets=8))
        got = {
            (a2c[s], p_, a2c[o])
            for s, p_, o in map(tuple, _canon_triples(res).collect())
        }
        want = {
            (a2c[r.subj_rep], r.pred, a2c[r.obj_rep])
            for r in reference_canonical_triples(pdf).itertuples(index=False)
        }
        assert got == want, (seed, len(got - want), len(want - got))
        # the gazetteer-mapping must not paper over SPLIT entities: every
        # recovered entity maps to a distinct gazetteer entity
        reps = {r.entity_id for r in res["nodes"].select("entity_id").collect()}
        assert len(reps) == len({a2c[x] for x in reps}), seed


def test_verify_resume_integrity_detects_mutated_partition(
    spark, transcripts_df, tmp_out
):
    """The resume filter drops EVERY row of a committed partition, so
    input mutated after commit silently vanishes on resume; the audit
    check must catch exactly that and pass on untouched input."""
    import pytest

    from pysql2neo4j_spark.plans.checkpoint import (
        ResumeIntegrityError,
        verify_resume_integrity,
    )
    from pysql2neo4j_spark.plans.pipeline import STAGE_EXTRACT, extract_stage

    cfg = PipelineConfig(n_buckets=8)
    extract_stage(spark, transcripts_df, tmp_out, cfg)

    n = verify_resume_integrity(
        spark, transcripts_df, tmp_out, STAGE_EXTRACT, n_buckets=cfg.n_buckets
    )
    assert n > 0  # unchanged input: all committed partitions verify

    a_conv = transcripts_df.select("conv_id").first().conv_id
    mutated = transcripts_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == a_conv) & (F.col("turn_idx") == 0),
            F.concat(F.col("text"), F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    with pytest.raises(ResumeIntegrityError, match="no longer match"):
        verify_resume_integrity(
            spark, mutated, tmp_out, STAGE_EXTRACT, n_buckets=cfg.n_buckets
        )

    # rows ADDED to a committed partition are also caught (count drift)
    extra = transcripts_df.limit(1).withColumn("turn_idx", F.lit(10_000))
    with pytest.raises(ResumeIntegrityError, match="no longer match"):
        verify_resume_integrity(
            spark, transcripts_df.unionByName(extra), tmp_out,
            STAGE_EXTRACT, n_buckets=cfg.n_buckets,
        )


def test_verify_resume_integrity_multi_commit_partition(
    spark, transcripts_df, tmp_out
):
    """ADVICE r3 (medium): --stage append / streaming batches commit a
    partition MULTIPLE times, each manifest row carrying that batch's
    own (n_rows, fingerprint). The audit must aggregate per partition
    (sum rows, XOR fingerprints — exact over disjoint batches) instead
    of spuriously flagging every multi-commit partition."""
    import pytest

    from pysql2neo4j_spark.plans.checkpoint import (
        ResumeIntegrityError,
        verify_resume_integrity,
    )
    from pysql2neo4j_spark.plans.pipeline import STAGE_EXTRACT, extract_stage

    cfg = PipelineConfig(n_buckets=8)
    half = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(2))
    batch1 = transcripts_df.filter(half == 0)
    batch2 = transcripts_df.filter(half == 1)

    extract_stage(spark, batch1, tmp_out, cfg)
    # append semantics: same partitions get a SECOND manifest commit
    extract_stage(spark, batch2, tmp_out, cfg, resume=False)

    n = verify_resume_integrity(
        spark, transcripts_df, tmp_out, STAGE_EXTRACT, n_buckets=cfg.n_buckets
    )
    assert n > 0  # union of both batches verifies clean

    # mutation detection still works across the aggregated fingerprints
    a_conv = transcripts_df.select("conv_id").first().conv_id
    mutated = transcripts_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == a_conv) & (F.col("turn_idx") == 0),
            F.concat(F.col("text"), F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    with pytest.raises(ResumeIntegrityError, match="no longer match"):
        verify_resume_integrity(
            spark, mutated, tmp_out, STAGE_EXTRACT, n_buckets=cfg.n_buckets
        )


def test_run_concurrently_waits_for_all_then_raises_first():
    """The shared write helper: results come back in argument order, and
    a failure surfaces only after every other callable has finished, so
    no writer thread outlives the call."""
    import threading
    import time

    import pytest

    from pysql2neo4j_spark.plans.pipeline import run_concurrently

    assert run_concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]

    finished = threading.Event()

    def fail():
        raise RuntimeError("first")

    def slow():
        time.sleep(0.3)
        finished.set()

    def fail_later():
        time.sleep(0.1)
        raise ValueError("second")

    with pytest.raises(RuntimeError, match="first"):
        run_concurrently(fail, slow, fail_later)
    assert finished.is_set()
