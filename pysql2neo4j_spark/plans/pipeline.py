"""EP1 — the end-to-end transcript -> knowledge-graph plan
(SURVEY.md §3.2), resumable from per-partition checkpoints.

    transcripts
      -> part_key = pmod(xxhash64(conv_id))      [B18]
      -> extraction kernel (one Arrow crossing)  [B6/B7]
      -> staged mentions / triples IR (manifest-committed run dirs) [B18/B19]
      -> distinct forms -> blocking -> scoring   [B8-B12]
      -> hash-min connected components           [B14]
      -> canonical ids                           [B15]
      -> salted broadcast mention->entity join   [B11]
      -> nodes / edges bucketed writes           [B16/B17]

Only the extraction stage is checkpoint-keyed (it is the expensive,
embarrassingly-partitionable stage — the analogue of the reference's
per-table CSV export + periodic-commit import); the graph-global stages
(linking, CC, materialization) recompute from the checkpointed IR.
Batch extraction (``extract_stage``), ``--stage append`` and the
streaming sink all commit through ``extract_and_commit``.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.components import canonical_entities
from ..operators.extraction import (
    STAGED_SCHEMA,
    extract_all_flat,
    mentions_from_staged,
    triples_from_staged,
)
from ..operators.graph import build_edges, link_mentions
from ..operators.linking import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BLOCK,
    DEFAULT_ROWS,
    DEFAULT_THRESHOLD,
    link_candidates,
)
from ..sources.transcripts import write_bucketed
from .checkpoint import (
    CheckpointManager,
    input_partition_fingerprints,
    partition_metrics,
    with_part_key,
)

STAGE_EXTRACT = "extract"


@dataclass
class PipelineConfig:
    n_buckets: int = 32          # conv_id hash partitions == checkpoint grain
    n_entity_buckets: int = 64   # bucket(entity_id) for nodes/edges
    n_salts: int = 16            # salt factor for the hot-entity joins
    bands: int = DEFAULT_BANDS
    rows: int = DEFAULT_ROWS
    max_block: int = DEFAULT_MAX_BLOCK
    threshold: float = DEFAULT_THRESHOLD
    catalog: str = "parquet"     # "iceberg" when a runtime jar is present
    # secondary linking evidence: shared-context blend weight (0 = pure
    # string scoring — the calibrated default for the synthetic corpus;
    # see operators/linking.context_boosted_scores)
    context_weight: float = 0.0
    # CC runs over DISTINCT NORMS (vocabulary-sized, sublinear in corpus
    # size) — a small explicit partition count keeps each superstep job's
    # fixed cost low; components.py defaults to input-sized otherwise.
    cc_partitions: int = 4


def run_concurrently(*fns) -> list:
    """Run every callable on its own driver thread (guide §2.6: the
    per-job fixed costs of independent Spark actions overlap) and
    return their results in argument order. Waits for ALL of them
    before returning or raising, so no thread outlives the call — a
    leaked writer would race a retrying caller over the same output
    dir — then re-raises the first failure in argument order. Callers
    keep their ordering constraints by what they pass in one call."""
    from concurrent.futures import ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=max(len(fns), 1)) as pool:
        futs = [pool.submit(fn) for fn in fns]
        wait(futs)
    return [f.result() for f in futs]


def staged_extraction(turns: DataFrame, n_buckets: int) -> DataFrame:
    """The staged-IR plan: kernel rows keyed by part_key.

    No shuffle precedes the kernel: it is a pure function of each row's
    text, and resume correctness lives in the manifest, not in
    co-location. Only a scan too coarse to occupy the session's cores
    is spread (``operators.dedup._spread``); a parallel scan passes
    through with zero Exchanges."""
    from ..operators.dedup import _spread

    return with_part_key(extract_all_flat(_spread(turns)), n_buckets)


def extract_and_commit(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    cfg: PipelineConfig,
    stage: str,
    run_dir: str,
    mode: str,
) -> None:
    """Extract ``turns`` into ``<out_dir>/extracted/<run_dir>`` and
    commit that run dir for ``stage`` in the manifest — the one
    extract path of the batch pipeline, ``--stage append`` and the
    streaming sink.

    Atomicity (ADVICE r1): the staged rows land in their own run dir
    and become visible only through the manifest row, so a crash
    between the write and the commit leaves invisible orphan data and
    the retry re-extracts those partitions with no duplicates. ``mode``
    is the staged write's save mode: ``errorifexists`` for a fresh
    uuid dir, ``overwrite`` for a deterministic name a retry reuses.

    The input-side lineage scan (3 pruned columns, JVM-only) has no
    dependency on the staged write, so the two run concurrently; the
    manifest commit happens strictly after both."""
    t = with_part_key(turns, cfg.n_buckets)
    path = os.path.join(out_dir, "extracted", run_dir)
    # FLAT files, part_key as a column: a dynamic-partition
    # (partitionBy) write above a Python-kernel plan measured 10x the
    # flat write (50.7s vs 5.1s for the same rows — the planned-write
    # sort re-materializes the kernel output); the real
    # partition-pruned layout is the Iceberg path of the writer seam.
    _, rows = run_concurrently(
        lambda: staged_extraction(t, cfg.n_buckets).write.mode(mode).parquet(path),
        lambda: input_partition_fingerprints(
            t.select("part_key", "conv_id", "turn_idx", "text")
        ).localCheckpoint(eager=True),
    )
    staged_new = spark.read.schema(_staged_with_key()).parquet(path)
    CheckpointManager(out_dir).record(
        partition_metrics(t, staged_new.filter(F.col("row_type") == "t"), rows=rows),
        stage,
        run_dir=run_dir,
    )


def extract_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig,
    resume: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Checkpointed extraction: returns (mentions, triples) read back
    from the stage store (so downstream sees ALL partitions, including
    ones committed by a previous, partially-failed run). Each run
    commits a fresh ``run-<uuid>`` dir (``extract_and_commit``)."""
    ckpt = CheckpointManager(out_dir)
    t = with_part_key(transcripts, cfg.n_buckets)
    if resume and ckpt.exists():
        t = ckpt.filter_pending(spark, t, STAGE_EXTRACT)
        # column-pruned probe: short-circuits on the first pending row;
        # only a fully-resumed run pays a pruned scan here
        has_pending = not t.select("part_key").isEmpty()
    else:
        has_pending = True  # fresh run: no manifest, no probe job

    if has_pending:
        extract_and_commit(spark, t, out_dir, cfg, STAGE_EXTRACT,
                           run_dir=f"run-{uuid.uuid4().hex[:12]}", mode="errorifexists")
    return read_committed_ir(spark, out_dir, cfg)


def read_committed_ir(
    spark: SparkSession,
    out_dir: str,
    cfg: PipelineConfig,
    stage: str = STAGE_EXTRACT,
) -> tuple[DataFrame, DataFrame]:
    """(mentions, triples) over every manifest-committed staged run dir
    — the import-only entry (EP3 analogue): materialization can run
    from a previously exported stage store with no transcript input."""
    ckpt = CheckpointManager(out_dir)
    staged_root = os.path.join(out_dir, "extracted")
    paths = [os.path.join(staged_root, d) for d in ckpt.committed_run_dirs(spark, stage)]
    if not paths:  # nothing extracted yet (empty input)
        staged_all = spark.createDataFrame([], schema=_staged_with_key())
    else:
        staged_all = spark.read.schema(_staged_with_key()).parquet(*paths)
    # part_key is a pure function of conv_id — recompute, never join.
    mentions = with_part_key(mentions_from_staged(staged_all), cfg.n_buckets)
    triples = with_part_key(triples_from_staged(staged_all), cfg.n_buckets)
    return mentions, triples


def _staged_with_key() -> T.StructType:
    return T.StructType(
        STAGED_SCHEMA.fields + [T.StructField("part_key", T.IntegerType(), True)]
    )


def read_published(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the published graph under ``out_dir``, read
    with explicit schemas (an empty write leaves no footer to infer
    from; the pipeline never relies on inference anyway)."""
    from ..schemas import EDGES_SCHEMA, NODES_SCHEMA

    part_f = T.StructField("part_key", T.IntegerType(), True)
    nodes = spark.read.schema(T.StructType(NODES_SCHEMA.fields + [part_f])).parquet(
        os.path.join(out_dir, "nodes"))
    edges = spark.read.schema(T.StructType(EDGES_SCHEMA.fields + [part_f])).parquet(
        os.path.join(out_dir, "edges"))
    return nodes, edges


def precision_recall(
    predicted: DataFrame, reference: DataFrame, keys: list[str]
) -> tuple[float, float]:
    """B23 — set P/R via semi/anti joins (distinct on ``keys``)."""
    p = predicted.select(*keys).distinct()
    r = reference.select(*keys).distinct()
    tp = p.join(r, on=keys, how="left_semi").count()
    np_, nr = p.count(), r.count()
    precision = tp / np_ if np_ else 1.0
    recall = tp / nr if nr else 1.0
    return precision, recall


def materialize_graph(
    spark: SparkSession,
    mentions: DataFrame,
    triples: DataFrame,
    out_dir: str,
    cfg: PipelineConfig,
    timings: dict[str, float] | None = None,
) -> dict[str, DataFrame]:
    """The graph-global tail of the pipeline (linking -> CC -> canonical
    ids -> node/edge materialization), shared by the batch plan
    (``build_graph``) and the streaming bridge
    (``streaming.bridge.finalize_stream_graph``) — both feed it the same
    checkpointed mentions/triples IR."""
    timings = {} if timings is None else timings
    t0 = time.time()
    forms, form_edges, surf = link_candidates(
        mentions, bands=cfg.bands, rows=cfg.rows,
        max_block=cfg.max_block, threshold=cfg.threshold,
        context_weight=cfg.context_weight,
    )
    timings["link_prep"] = round(time.time() - t0, 3)
    # eager work in this phase: the (norm, surface) rollup + candidate
    # self-join + scoring (they materialize inside CC's first
    # checkpoint) and the CC superstep loop itself.
    t0 = time.time()
    form2entity = canonical_entities(forms, form_edges, n_partitions=cfg.cc_partitions)
    timings["cc"] = round(time.time() - t0, 3)

    # intermediate rollups persist()ed inside the builders; unpersisted
    # after the writes below so long-lived sessions don't accumulate
    caches: list = []
    linked = link_mentions(mentions, form2entity, n_salts=cfg.n_salts)
    # nodes derive from link_prep's checkpointed vocabulary rollup —
    # the same nodes_from_surface_stats shape the incremental path uses
    # (plans/incremental.py step 4): no second mentions scan.
    per_surface = surf.join(F.broadcast(form2entity), on="norm").select(
        "entity_id", "surface", "norm", "n"
    )
    from ..operators.graph import nodes_from_surface_stats

    nodes = nodes_from_surface_stats(per_surface)
    edges = build_edges(triples, form2entity, n_salts=cfg.n_salts,
                        cache_registry=caches)

    # links IR (FIXTURES.md §C): mention -> canonical entity with the
    # verification-style similarity between the mention's norm and the
    # canonical representative (rank 1 — assignment is exact by norm).
    from ..functions.text import adaptive_containment

    t0 = time.time()
    links = linked.select(
        "mention_id",
        F.col("entity_id").alias("entity_key"),
        F.round(adaptive_containment(F.col("norm"), F.col("entity_id")), 6).alias("score"),
        F.lit(1).alias("rank"),
    )
    timings["links_def"] = round(time.time() - t0, 3)

    # nodes and edges are INDEPENDENT tables into a fresh out_dir (no
    # publish-ordering constraint — that exists only in the delta
    # finalize, where state must land before the live dirs mutate), so
    # the two writes run concurrently: the vocabulary-sized nodes job
    # back-fills executors idled by the edge job's tail. The threaded
    # timer records each write's own wall span.
    def _timed_write(df, sub, key):
        t0 = time.time()
        write_bucketed(df, os.path.join(out_dir, sub), key,
                       n_buckets=cfg.n_entity_buckets, catalog=cfg.catalog)
        return round(time.time() - t0, 3)

    t0 = time.time()
    timings["write_nodes"], timings["write_edges"] = run_concurrently(
        lambda: _timed_write(nodes, "nodes", "entity_id"),
        lambda: _timed_write(edges, "edges", "src_entity"),
    )
    timings["write_wall"] = round(time.time() - t0, 3)
    for c in caches:
        c.unpersist(blocking=False)

    t0 = time.time()
    nodes_out, edges_out = read_published(spark, out_dir)
    timings["readback_defs"] = round(time.time() - t0, 3)
    return {
        "mentions": mentions,
        "triples": triples,
        "links": links,
        "form2entity": form2entity,
        # checkpointed (norm, surface, n) rollup — incremental finalize
        # persists it as versioned state without re-scanning the IR
        "surface_stats": surf,
        "nodes": nodes_out,
        "edges": edges_out,
        "timings": timings,
    }


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns the materialized tables plus a
    ``timings`` dict (wall seconds per eager phase — the feedback loop
    for the N->4N scaling decomposition in BENCH/BASELINE.md)."""
    cfg = cfg or PipelineConfig()
    timings: dict[str, float] = {}
    t0 = time.time()
    mentions, triples = extract_stage(spark, transcripts, out_dir, cfg, resume=resume)
    timings["extract"] = round(time.time() - t0, 3)
    return materialize_graph(spark, mentions, triples, out_dir, cfg, timings=timings)
