"""B18/B19 — per-partition checkpoint manifest + lineage metrics.

Reference analogue: ``USING PERIODIC COMMIT k`` [recon: graphproc.py]
commits every k rows so a crashed import resumes mid-table. The Spark-
native generalization: stage outputs are written partitioned by
``part_key = pmod(xxhash64(conv_id), n_buckets)`` with per-task atomic
file commits, and a manifest table records each completed (stage,
partition_key) with row/triple counts and an order-independent input
fingerprint (XOR of row hashes). Resume = left-anti join of the input's
partition keys against the manifest — only unprocessed partitions run
[BASELINE.json:6,14].

The (n_rows, n_triples, fingerprint) triplet doubles as the mandated
per-partition lineage + triple-count metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHECKPOINT_SCHEMA
from ..sources.transcripts import bucket_of

MANIFEST_DIR = "_checkpoints"


def with_part_key(df: DataFrame, n_buckets: int, col: str = "conv_id") -> DataFrame:
    return df.withColumn("part_key", bucket_of(col, n_buckets))


class CheckpointManager:
    def __init__(self, root: str):
        self.root = root
        self.manifest_path = os.path.join(root, MANIFEST_DIR)

    def exists(self) -> bool:
        """True iff any manifest commit exists (cheap driver-side check
        — lets a fresh run skip the resume probes entirely)."""
        return os.path.exists(self.manifest_path)

    def manifest(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.manifest_path):
            return spark.createDataFrame([], schema=CHECKPOINT_SCHEMA)
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.manifest_path)

    def completed_keys(self, spark: SparkSession, stage: str) -> DataFrame:
        return (
            self.manifest(spark)
            .filter(F.col("stage") == stage)
            .select(F.col("partition_key").alias("part_key"))
            .distinct()
        )

    def filter_pending(self, spark: SparkSession, df: DataFrame, stage: str) -> DataFrame:
        """Resume filter: keep only rows of partitions not yet committed."""
        done = self.completed_keys(spark, stage)
        return df.join(F.broadcast(done), on="part_key", how="left_anti")

    def record(self, metrics: DataFrame, stage: str, run_dir: str | None = None) -> None:
        """Append manifest rows. ``metrics`` must have columns
        (part_key, n_rows, n_triples, input_fingerprint). ``run_dir``
        names the staged-data subdirectory these partitions were written
        to — committing it here is what makes that data visible."""
        out = metrics.select(
            F.lit(stage).alias("stage"),
            F.col("part_key").cast("int").alias("partition_key"),
            F.col("n_rows").cast("long"),
            F.col("n_triples").cast("long"),
            F.col("input_fingerprint").cast("string"),
            F.lit(run_dir).cast("string").alias("run_dir"),
            F.current_timestamp().cast("timestamp_ntz").alias("committed_at"),
        )
        out.write.mode("append").parquet(self.manifest_path)

    def committed_run_dirs(self, spark: SparkSession, stage: str) -> list[str]:
        """Distinct staged subdirectories committed for ``stage`` —
        the ONLY directories a reader may open (crash-orphaned data
        stays invisible). Manifest is partition-count-sized: collecting
        it is bounded. A commit with no run dir names staged data this
        reader cannot locate; serving the rest would silently drop those
        partitions (their keys still count as complete in
        ``filter_pending``), so it is refused."""
        if not self.exists():
            return []
        rows = (
            self.manifest(spark)
            .filter(F.col("stage") == stage)
            .select("run_dir")
            .distinct()
            .collect()
        )
        dirs = [r.run_dir for r in rows]
        if None in dirs:
            raise ValueError(
                f"manifest {self.manifest_path} has commits for stage '{stage}' "
                "with no run_dir: their staged data is in a layout this reader "
                "does not support — re-extract into a fresh out_dir"
            )
        return sorted(dirs)


def _hex_fp_to_long(col):
    """Parse ``F.hex(<long>)`` output (uppercase, no leading zeros,
    two's-complement for negatives) back to the signed long so
    fingerprints can be XOR-combined. Split into two 32-bit halves —
    ``conv`` + a single long cast of the full 16 digits would overflow
    under ANSI for values past Long.MAX; ``shiftleft`` wraps bitwise."""
    p = F.lpad(col, 16, "0")
    hi = F.conv(F.substring(p, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(p, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


class ResumeIntegrityError(RuntimeError):
    """A committed partition's CURRENT input no longer matches the
    fingerprint recorded at commit time — resuming would silently serve
    stale IR for rows added/changed after the commit (the resume filter
    drops every row of a committed partition, whatever its content)."""


def verify_resume_integrity(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    stage: str,
    n_buckets: int | None = None,
) -> int:
    """Recompute the order-independent input fingerprint of every
    COMMITTED partition from the current input and compare against the
    manifest. Returns the number of partitions checked; raises
    ``ResumeIntegrityError`` listing mismatched part_keys.

    Cost: one column-pruned scan of (conv_id, turn_idx, text) over the
    committed partitions — deliberately NOT run inside every resume
    (at 10^12 turns that is a full input pass); call it from audit
    tooling / --verify-resume when input immutability is in doubt."""
    if "part_key" not in turns.columns:
        if n_buckets is None:
            raise ValueError("pass n_buckets (the commit-time bucket count) "
                             "when turns lacks a part_key column")
        turns = with_part_key(turns, n_buckets)
    ckpt = CheckpointManager(out_dir)
    # a partition may carry MULTIPLE manifest commits (--stage append,
    # streaming batches): each batch records its own (n_rows, fp), so
    # compare against the per-partition AGGREGATE — sum of rows and XOR
    # of fingerprints, which is exact because the batches' row sets are
    # disjoint and the fingerprint is itself an XOR of row hashes.
    recorded = (
        ckpt.manifest(spark)
        .filter(F.col("stage") == stage)
        .groupBy(F.col("partition_key").alias("part_key"))
        .agg(
            F.sum("n_rows").cast("long").alias("rec_rows"),
            F.hex(F.bit_xor(_hex_fp_to_long(F.col("input_fingerprint")))).alias("rec_fp"),
        )
    )
    current = (
        turns.select("part_key", "conv_id", "turn_idx", "text")
        .join(F.broadcast(recorded.select("part_key")), on="part_key", how="left_semi")
        .groupBy("part_key")
        .agg(
            F.count("*").alias("cur_rows"),
            F.hex(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text"))).alias("cur_fp"),
        )
    )
    joined = recorded.join(current, on="part_key", how="left")
    bad = joined.filter(
        (F.col("cur_rows").isNull())
        | (F.col("cur_rows") != F.col("rec_rows"))
        | (F.col("cur_fp") != F.col("rec_fp"))
    ).collect()
    if bad:
        detail = ", ".join(
            f"part_key={r.part_key} (committed {r.rec_rows} rows fp={r.rec_fp}, "
            f"current {r.cur_rows} rows fp={r.cur_fp})"
            for r in sorted(bad, key=lambda r: r.part_key)[:10]
        )
        raise ResumeIntegrityError(
            f"{len(bad)} committed partition(s) of stage '{stage}' no longer "
            f"match their manifest fingerprints: {detail}" +
            (" …" if len(bad) > 10 else "") +
            " — the input changed after commit; re-extract those partitions "
            "(or ingest the new rows as an append batch) instead of resuming"
        )
    return recorded.count()


def input_partition_fingerprints(turns: DataFrame) -> DataFrame:
    """Input-side half of the lineage metrics: per-part_key row count +
    order-independent fingerprint (XOR of xxhash64 over the identity
    columns). Split out (r7) so the extract stage can run this scan
    from a driver thread CONCURRENTLY with the staged write — the two
    jobs share no dependency (this reads the source, the write runs
    the kernel), and sequencing them serialized a full column-pruned
    input pass behind the kernel pass."""
    return turns.groupBy("part_key").agg(
        F.count("*").alias("n_rows"),
        F.hex(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text"))).alias("input_fingerprint"),
    )


def partition_metrics(
    turns: DataFrame, triples: DataFrame, rows: DataFrame | None = None
) -> DataFrame:
    """Per-partition lineage: input row count, emitted-triple count, and
    an order-independent fingerprint of the input rows (XOR of
    xxhash64). ``turns`` and ``triples`` must both carry part_key.
    ``rows`` optionally supplies a pre-computed (possibly already
    materialized) ``input_partition_fingerprints(turns)`` frame."""
    if rows is None:
        rows = input_partition_fingerprints(turns)
    tcounts = triples.groupBy("part_key").agg(F.count("*").alias("n_triples"))
    return rows.join(tcounts, on="part_key", how="left").fillna({"n_triples": 0})
