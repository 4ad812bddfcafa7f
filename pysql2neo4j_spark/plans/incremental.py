"""Incremental graph finalization (VERDICT r2 'Next round' #2).

The batch pipeline's graph-global tail (linking -> CC -> materialize)
recomputes from ALL committed IR on every call — at 10^12 turns a
daily finalize re-pays the whole linking/CC/aggregation cost for a
0.1% delta. This module makes finalize DELTA-SHAPED:

  state (persisted per finalize, under <out_dir>/state/v<NNN>/):
    form2entity    (norm, entity_id)        — vocabulary-sized
    surface_stats  (norm, surface, n)       — vocabulary-sized
    edges          EDGES_SCHEMA             — edge-table-sized

  delta finalize reads ONLY the IR run dirs committed since the last
  finalize, then:
    1. merges the delta (norm, surface) counts into surface_stats;
    2. generates candidate pairs ONLY for blocks containing a new form
       (operators/linking.delta_candidate_pairs) — block keys are
       per-form deterministic, so old x old pairs can never appear in
       a block for the first time;
    3. runs CC over the vocabulary with edges = prior MEMBERSHIP edges
       (norm -> prior entity_id: reconnects the prior components
       exactly) + the newly scored delta edges — new forms can join
       and even MERGE prior entities, never split them;
    4. rebuilds nodes from the merged surface_stats x new form2entity
       (vocabulary-sized — zero fact-data re-scan);
    5. aggregates ONLY the delta triples into delta edge rows, remaps
       prior edge rows whose endpoints changed entity, and re-merges
       just the touched keys; untouched prior edges pass through
       byte-identical.

  Exactness: nodes and edges equal a full rebuild row-for-row. n_obs
  is additive over the disjoint IR deltas; first_ts is a min; the
  provenance cap merges exactly (each source keeps its CAP smallest
  conv_ids, and any conv in the global CAP-smallest must be within
  some source's kept list — else that source holds CAP smaller ones).
  The one documented divergence: a block crossing max_block only
  after new forms arrive (see delta_candidate_pairs) — merges are
  monotone, components never split.

State commits are atomic: version directories are written first, then
_meta.json flips to the new version via rename; a crash mid-finalize
leaves the prior version live and the orphan vN is overwritten by the
retry.

Known cost (parquet-seam price): while the PUBLISHED edge table is
rewritten selectively (affected buckets only), the versioned edge
STATE is written in full each finalize — version isolation under the
no-Iceberg constraint requires a self-contained vN (a selectively-
overwritten state dir would race its own readers and break the
crash-rollback story above). Edge state is edge-count-sized, orders
of magnitude below the IR the delta path avoids re-scanning (the
measured crossover in BENCH/BASELINE.md includes this write); with an
Iceberg runtime the state becomes snapshots of the published table
itself and this copy disappears.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.components import canonical_entities
from ..operators.graph import PROVENANCE_CAP, build_edges, nodes_from_surface_stats
from ..operators.linking import delta_candidate_pairs, score_pairs, surface_stats
from ..schemas import EDGES_SCHEMA
from ..sources.transcripts import write_bucketed
from .checkpoint import CheckpointManager
from .pipeline import (
    PipelineConfig,
    materialize_graph,
    read_committed_ir,
    read_published,
    run_concurrently,
)

STATE_DIR = "state"

F2E_SCHEMA = "norm STRING, entity_id STRING"
SURFACE_SCHEMA = "norm STRING, surface STRING, n LONG"


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, STATE_DIR, "_meta.json")


def read_state_meta(out_dir: str) -> dict | None:
    try:
        with open(_meta_path(out_dir)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _commit_state_meta(out_dir: str, meta: dict) -> None:
    os.makedirs(os.path.join(out_dir, STATE_DIR), exist_ok=True)
    tmp = _meta_path(out_dir) + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _meta_path(out_dir))


def _vdir(out_dir: str, version: int, name: str) -> str:
    return os.path.join(out_dir, STATE_DIR, f"v{version:04d}", name)


def _bucket_of(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _publish_delta(
    spark: SparkSession,
    out_dir: str,
    nodes: DataFrame,
    untouched: DataFrame,
    merged: DataFrame,
    affected: DataFrame,
    cfg: PipelineConfig,
):
    """Publish a delta finalize: nodes rewrite fully (vocabulary-sized),
    edges rewrite ONLY the affected buckets via dynamic partition
    overwrite — every other bucket's files are left byte-identical
    (the parquet-seam analogue of an Iceberg overwrite-by-filter
    snapshot; tests assert untouched bucket files keep their mtimes).
    Reads come from the versioned STATE dirs, never from the publish
    dir being overwritten, so there is no read-under-write race."""
    import shutil as _shutil

    if cfg.catalog == "iceberg":
        # the Iceberg path would be overwrite-by-filter on the edge
        # table (a snapshot commit); this parquet-seam implementation
        # must not silently fall through to raw parquet under an
        # iceberg catalog request.
        raise RuntimeError(
            "incremental selective publish is implemented for the parquet "
            "seam; the iceberg path needs overwritePartitions on the edge "
            "table (no iceberg-spark-runtime jar in this environment)"
        )

    def publish_edges():
        edges_path = os.path.join(out_dir, "edges")
        n = cfg.n_entity_buckets
        affected_pks = sorted(r.part_key for r in affected.collect())  # <= n_buckets
        aff = F.broadcast(spark.createDataFrame([(int(p),) for p in affected_pks] or [(None,)],
                                                "part_key INT"))
        to_write = (
            merged.withColumn("part_key", _bucket_of("src_entity", n))
            .unionByName(untouched.withColumn("part_key", _bucket_of("src_entity", n)))
            .join(aff, on="part_key", how="left_semi")
            .select(*[f.name for f in EDGES_SCHEMA.fields], "part_key")
        )
        to_write = to_write.repartition(max(len(affected_pks), 1), "part_key")
        written_pks = set()
        if affected_pks:
            # fuse the written-bucket probe into the checkpoint job
            # (r7): collect_set(part_key) observed on the same pass
            # that materializes the checkpoint replaces the separate
            # distinct().collect() job — the delta publish is fixed-
            # job-count-bound at small delta sizes.
            obs = Observation()
            to_write = to_write.observe(
                obs, F.collect_set("part_key").alias("pks")
            ).localCheckpoint(eager=True)
            written_pks = set(obs.get["pks"] or [])
            (
                to_write.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_key")
                .parquet(edges_path)
            )
        # an affected bucket whose every row MOVED elsewhere has no rows in
        # to_write — dynamic overwrite leaves its old dir; drop it explicitly
        for pk in set(affected_pks) - written_pks:
            _shutil.rmtree(os.path.join(edges_path, f"part_key={pk}"), ignore_errors=True)

    # nodes (vocabulary-sized, its own directory) publish concurrently
    # with the edge-bucket rewrite: both are post-state publishes of
    # INDEPENDENT tables, so the overlap does not re-open the
    # state-before-publish atomicity hole (the caller flips meta only
    # after this returns, and run_concurrently lets no writer outlive
    # it — parquet overwrite is not safely interruptible).
    run_concurrently(
        lambda: write_bucketed(nodes, os.path.join(out_dir, "nodes"), "entity_id",
                               n_buckets=cfg.n_entity_buckets, catalog=cfg.catalog),
        publish_edges,
    )
    return read_published(spark, out_dir)


def _merge_edges(
    prior: DataFrame, delta: DataFrame, remap_changed: DataFrame, n_buckets: int,
    cache_registry: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(untouched, merged, affected_buckets): remap prior endpoints whose
    entity merged, re-aggregate ONLY prior rows that were remapped or
    whose key also appears in the delta; everything else passes through
    untouched. ``remap_changed`` is (old_entity, new_entity), changed
    rows only — entity-count-sized, broadcast.

    Touched-ness is decided by KEY, not per-row: a prior row remapped
    ONTO a key that another (unremapped, non-delta) prior row already
    holds must drag that second row into the re-aggregation too, or the
    output carries two rows for one (src,dst,pred) with split n_obs.
    So touched_keys = (post-remap keys of remapped rows) UNION (delta
    keys), and ALL post-remap prior rows split by membership in that
    set.

    ``affected_buckets`` is the distinct set of publish bucket keys any
    touched row occupies — its OLD src bucket (a remapped row must be
    REMOVED from where it used to live) and its NEW one — so the
    publisher can rewrite exactly those partition dirs and leave every
    other bucket's files byte-identical.

    With a ``cache_registry`` the annotated prior frame (``r``) and the
    ``merged`` rollup are lazily persisted (VERDICT r5 #6): the three
    outputs are consumed by THREE downstream actions (edge-state write,
    selective publish, affected-bucket collect), each of which would
    otherwise re-run the prior-edge scan + remap/touched joins and the
    delta aggregation from scratch — measured as the bulk of the delta
    finalize's fixed job cost at small scale. ``r`` is prior-edge-sized
    (MEMORY_AND_DISK — the same order as the edge state this function's
    caller writes anyway); ``merged`` is touched-key-sized."""
    keys = ["src_entity", "dst_entity", "pred"]
    rm = F.broadcast(remap_changed)
    r = (
        prior.join(rm.withColumnRenamed("old_entity", "src_entity")
                     .withColumnRenamed("new_entity", "__src_new"),
                   on="src_entity", how="left")
        .join(rm.withColumnRenamed("old_entity", "dst_entity")
                .withColumnRenamed("new_entity", "__dst_new"),
              on="dst_entity", how="left")
        .withColumn("__rm", F.col("__src_new").isNotNull() | F.col("__dst_new").isNotNull())
        .withColumn("__old_pk", _bucket_of("src_entity", n_buckets))
        .withColumn("src_entity", F.coalesce("__src_new", "src_entity"))
        .withColumn("dst_entity", F.coalesce("__dst_new", "dst_entity"))
        .drop("__src_new", "__dst_new")
    )
    if cache_registry is not None:
        delta = delta.persist()
        cache_registry.append(delta)
    # re-alias the key columns so touched_keys gets fresh attribute ids
    # (it derives from r — the join below would otherwise be a self-join
    # on shared attributes)
    remapped_keys = r.filter(F.col("__rm")).select(
        *[F.col(k).alias(k) for k in keys])
    touched_keys = (
        remapped_keys.unionByName(delta.select(*keys))
        .distinct()
        .withColumn("__tk", F.lit(True))
    )
    r = r.join(touched_keys, on=keys, how="left").withColumn(
        "__touched", F.coalesce(F.col("__tk"), F.lit(False))
    ).drop("__rm", "__tk")
    if cache_registry is not None:
        r = r.persist()
        cache_registry.append(r)
    untouched = r.filter(~F.col("__touched")).select(
        *keys, "n_obs", "first_ts", "provenance")
    touched = r.filter(F.col("__touched"))
    merged = (
        touched.select(*keys, "n_obs", "first_ts", "provenance")
        .unionByName(delta.select(*keys, "n_obs", "first_ts", "provenance"))
        .groupBy(*keys)
        .agg(
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.min("first_ts").alias("first_ts"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("provenance")))),
                1, PROVENANCE_CAP,
            ).alias("provenance"),
        )
    )
    if cache_registry is not None:
        merged = merged.persist()
        cache_registry.append(merged)
    affected = (
        touched.select(F.col("__old_pk").alias("part_key"))
        .unionByName(merged.select(_bucket_of("src_entity", n_buckets).alias("part_key")))
        .distinct()
    )
    return untouched, merged, affected


def finalize_graph(
    spark: SparkSession,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    stage: str = "extract_stream",
) -> dict:
    """Finalize the graph from committed IR: FULL on first call (no
    prior state), DELTA afterwards — reading only run dirs committed
    since the previous finalize. Returns the materialized tables plus
    ``metrics`` (mode, delta dir count, observed IR rows read)."""
    cfg = cfg or PipelineConfig()
    ckpt = CheckpointManager(out_dir)
    committed = ckpt.committed_run_dirs(spark, stage)
    meta = read_state_meta(out_dir)
    if meta and meta["stage"] != stage:
        raise ValueError(
            f"finalize state at {out_dir} was built from stage "
            f"'{meta['stage']}' but this call asked for '{stage}' — "
            "mixing IR stages in one state would silently double-count"
        )
    done = set(meta["finalized_run_dirs"]) if meta else set()
    delta_dirs = [d for d in committed if d not in done]
    version = (meta["version"] + 1) if meta else 0

    if meta is None:
        return _finalize_full(spark, out_dir, cfg, stage, committed, version)
    state_cw = meta.get("context_weight")
    if not delta_dirs:
        # nothing new: current state is the answer — but only if it was
        # built with the weight the caller is asking for (serving a
        # 0-weight state to a context-weight caller, or vice versa, is
        # the same silent divergence the delta guard refuses). A
        # pre-upgrade meta without the key is treated as the 0 default
        # here: serving is read-only, nothing is extended.
        if cfg.context_weight != (state_cw if state_cw is not None else 0.0):
            raise ValueError(
                f"state at {out_dir} was finalized with context_weight="
                f"{state_cw if state_cw is not None else '<unrecorded, assumed 0>'} "
                f"but this call asked for {cfg.context_weight} — rebuild "
                "with the desired weight (fresh out_dir)"
            )
        return _read_published(spark, out_dir, meta, mode="noop")
    # context-boosted scoring needs the co-mention neighborhoods of ALL
    # mentions; the delta path deliberately never re-reads prior IR, so
    # blending would silently diverge from the full build — refuse
    # rather than break the module's exactness claim. Covers BOTH
    # directions (cfg asks for context over a 0-weight state, or the
    # state embeds context evidence the delta can't reproduce). For
    # EXTENDING a state, an absent key means UNKNOWN, not zero: a
    # pre-upgrade state built with a non-zero weight must not be
    # silently laundered as context-free.
    if cfg.context_weight or state_cw is None or state_cw:
        raise ValueError(
            "incremental finalize does not support context_weight != 0 "
            f"(cfg={cfg.context_weight}, state recorded "
            f"{'<unrecorded — state predates the guard>' if state_cw is None else state_cw}): "
            "context evidence requires the full mention set, which the "
            "delta path never reads. Run a full rebuild (fresh out_dir) "
            "with context_weight=0 — or, for a pre-upgrade state KNOWN "
            "to have been built with the 0 default, add "
            "'\"context_weight\": 0.0' to state/_meta.json."
        )
    return _finalize_delta(spark, out_dir, cfg, meta, delta_dirs, version)


def _read_state(spark: SparkSession, out_dir: str, version: int):
    f2e = spark.read.schema(F2E_SCHEMA).parquet(_vdir(out_dir, version, "form2entity"))
    surf = spark.read.schema(SURFACE_SCHEMA).parquet(_vdir(out_dir, version, "surface_stats"))
    edges = spark.read.schema(EDGES_SCHEMA).parquet(_vdir(out_dir, version, "edges"))
    return f2e, surf, edges


def _read_published(spark, out_dir, meta, mode):
    nodes_out, edges_out = read_published(spark, out_dir)
    f2e, _, _ = _read_state(spark, out_dir, meta["version"])
    return {"nodes": nodes_out, "edges": edges_out, "form2entity": f2e,
            "metrics": {"mode": mode, "n_delta_run_dirs": 0, "ir_mention_rows_read": 0,
                        "ir_triple_rows_read": 0}}


def _finalize_full(spark, out_dir, cfg, stage, committed, version):
    obs_m = Observation()
    mentions, triples = read_committed_ir(spark, out_dir, cfg, stage=stage)
    mentions = mentions.observe(obs_m, F.count(F.lit(1)).alias("n"))
    res = materialize_graph(spark, mentions, triples, out_dir, cfg)

    # persist state: vocabulary-sized frames + the published edge table.
    # surface_stats comes from the materializer's checkpointed rollup
    # (r6): re-deriving it here via _surface_stats(mentions) was a
    # THIRD full-IR scan per full finalize. The three writes read
    # checkpointed state / published parquet — independent, so their
    # per-job fixed costs overlap via driver threads (as in the delta
    # path); the meta flip stays after all of them.
    run_concurrently(
        lambda: res["surface_stats"].write.mode("overwrite").parquet(
            _vdir(out_dir, version, "surface_stats")),
        lambda: res["form2entity"].write.mode("overwrite").parquet(
            _vdir(out_dir, version, "form2entity")),
        lambda: res["edges"].drop("part_key").write.mode("overwrite").parquet(
            _vdir(out_dir, version, "edges")),
    )
    _commit_state_meta(out_dir, {"version": version, "stage": stage,
                                 "context_weight": cfg.context_weight,
                                 "finalized_run_dirs": sorted(committed)})
    res["metrics"] = {"mode": "full", "n_delta_run_dirs": len(committed),
                      "ir_mention_rows_read": int(obs_m.get["n"] or 0),
                      "ir_triple_rows_read": None}
    return res


def _finalize_delta(spark, out_dir, cfg, meta, delta_dirs, version):
    import time as _time

    timings: dict[str, float] = {}
    _t0 = _time.time()
    stage = meta["stage"]
    f2e_prior, surf_prior, edges_prior = _read_state(spark, out_dir, meta["version"])

    # ---- delta IR only (the whole point: no full-IR re-read)
    from .pipeline import _staged_with_key
    from ..operators.extraction import mentions_from_staged, triples_from_staged

    staged_root = os.path.join(out_dir, "extracted")
    staged = spark.read.schema(_staged_with_key()).parquet(
        *[os.path.join(staged_root, d) for d in delta_dirs])
    obs_m, obs_t = Observation(), Observation()
    d_mentions = mentions_from_staged(staged).observe(obs_m, F.count(F.lit(1)).alias("n"))
    d_triples = triples_from_staged(staged).observe(obs_t, F.count(F.lit(1)).alias("n"))

    # ---- 1. merge surface stats (vocabulary-sized state)
    surf_new = (
        surf_prior.unionByName(surface_stats(d_mentions))
        .groupBy("norm", "surface")
        .agg(F.sum("n").cast("long").alias("n"))
        .localCheckpoint(eager=True)  # cut lineage: reused by nodes + forms
    )
    timings["surf_merge"] = round(_time.time() - _t0, 3)
    _t0 = _time.time()

    # ---- 2/3. delta linking + CC over membership + new edges
    forms_all = surf_new.groupBy("norm").agg(F.sum("n").alias("n_mentions"))
    new_norms = forms_all.join(f2e_prior.select("norm"), on="norm", how="left_anti")
    if new_norms.isEmpty():
        # no new vocabulary (the common steady-state batch): components
        # cannot change — new edges require a new form — so blocking,
        # scoring, and the CC superstep loop are all skipped. Only the
        # counts (nodes) and the delta edge rollups below still run.
        f2e_new = f2e_prior
    else:
        pairs = delta_candidate_pairs(
            forms_all, new_norms, bands=cfg.bands, rows=cfg.rows, max_block=cfg.max_block)
        new_edges = score_pairs(pairs, cfg.threshold).select("norm_a", "norm_b")
        membership = f2e_prior.filter(F.col("norm") != F.col("entity_id")).select(
            F.col("norm").alias("norm_a"), F.col("entity_id").alias("norm_b"))
        f2e_new = canonical_entities(
            forms_all, new_edges.unionByName(membership), n_partitions=cfg.cc_partitions
        ).localCheckpoint(eager=True)  # small; reused by nodes, edges, remap
    timings["delta_link_cc"] = round(_time.time() - _t0, 3)
    _t0 = _time.time()

    # ---- 4. nodes from merged vocab state (zero fact re-scan)
    per_surface = surf_new.join(F.broadcast(f2e_new), on="norm").select(
        "entity_id", "surface", "norm", "n")
    nodes = nodes_from_surface_stats(per_surface)

    # ---- 5. delta edge aggregation + touched-key merge
    caches: list = []
    delta_edges = build_edges(d_triples, f2e_new, n_salts=cfg.n_salts,
                              cache_registry=caches)
    remap_changed = (
        f2e_prior.select(F.col("entity_id").alias("old_entity")).distinct()
        .join(f2e_new.withColumnRenamed("norm", "old_entity")
                     .withColumnRenamed("entity_id", "new_entity"),
              on="old_entity")
        .filter(F.col("old_entity") != F.col("new_entity"))
    )
    untouched, merged, affected = _merge_edges(
        edges_prior, delta_edges, remap_changed, cfg.n_entity_buckets,
        cache_registry=caches,
    )
    edges = untouched.unionByName(merged)

    # Materialize the merge ONCE, sequentially, before any write: the
    # eager checkpoint of the (<= n_buckets)-row affected frame forces
    # the persisted delta/r/merged caches to fill in a single
    # deterministic pass — so the delta-triples Observation fires
    # exactly once over the full plan (a concurrent first touch from
    # two writer threads would split partitions between queries and
    # under-report ir_triple_rows_read), and the threaded writes below
    # read caches only.
    affected = affected.localCheckpoint(eager=True)
    timings["merge_materialize"] = round(_time.time() - _t0, 3)
    _t0 = _time.time()

    # ---- commit state vN, then publish, then flip meta. The three
    # state writes are mutually independent (their shared inputs are
    # checkpointed or persisted above), so they run from concurrent
    # driver threads and their per-job fixed costs overlap (VERDICT r5
    # #6: ~15 SEQUENTIAL jobs dominated the delta at small scale). The
    # PUBLISH stays strictly after the state writes complete — it
    # mutates the LIVE nodes/edges dirs, and overlapping it with the
    # state writes would let a state-write failure surface only after
    # the published tables were already rewritten (vN published rows
    # served against vN-1 state until a retry — a failure-atomicity
    # hole the sequential r5 order never had). The meta flip stays
    # after everything.
    run_concurrently(
        lambda: surf_new.write.mode("overwrite").parquet(
            _vdir(out_dir, version, "surface_stats")),
        lambda: f2e_new.write.mode("overwrite").parquet(
            _vdir(out_dir, version, "form2entity")),
        lambda: edges.write.mode("overwrite").parquet(
            _vdir(out_dir, version, "edges")),
    )
    timings["state_writes"] = round(_time.time() - _t0, 3)
    _t0 = _time.time()
    nodes_out, edges_out = _publish_delta(
        spark, out_dir, nodes, untouched, merged, affected, cfg
    )
    timings["publish"] = round(_time.time() - _t0, 3)
    _commit_state_meta(out_dir, {
        "version": version, "stage": stage, "context_weight": 0.0,
        "finalized_run_dirs": sorted(set(meta["finalized_run_dirs"]) | set(delta_dirs)),
    })
    for c in caches:
        c.unpersist(blocking=False)
    return {
        "mentions": d_mentions, "triples": d_triples,
        "form2entity": f2e_new, "nodes": nodes_out, "edges": edges_out,
        "metrics": {
            "mode": "incremental",
            "n_delta_run_dirs": len(delta_dirs),
            "ir_mention_rows_read": int(obs_m.get["n"] or 0),
            "ir_triple_rows_read": int(obs_t.get["n"] or 0),
            "timings": timings,
        },
    }
