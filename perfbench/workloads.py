"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts only after the previous one returned.

* ``build``  - one operation is a ``build_graph`` into a fresh out dir
  (no resume) over a parquet corpus from ``generate_corpus(n, seed)``;
  set-up runs one untimed build first, so the timed builds are warm.
* ``append`` - set-up ingests a base corpus through the streaming bridge
  and runs a full finalize; one operation is one delta of a fixed
  number of turns (1% of the base's): restart the stream query on the
  same checkpoint, process the new file, stop, then a delta
  ``finalize_stream_graph``.

Both workloads check their final graph against the frozen pandas
oracle after the timed section. The traced ``build`` run also probes
the bench.py headline keys of ``entry_queries`` over a seeded star
schema and checks each against its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from bench import HEADLINE
from pysql2neo4j_spark.corpus import generate_corpus
from pysql2neo4j_spark.entry_queries import QUERIES
from pysql2neo4j_spark.oracle_extractor import (
    alias_to_canonical,
    reference_canonical_triples,
    reference_mentions,
    reference_triples,
)
from pysql2neo4j_spark.plans import pipeline
from pysql2neo4j_spark.plans.pipeline import PipelineConfig

from perfbench.stargen import write_star

# conversations (about 10 turns each); delta_turns is the turns of one
# append delta, 1% of the full base's
SIZES = {
    "full": {"build": 2000, "base": 500, "delta_turns": 50, "star": 1.0},
    "smoke": {"build": 120, "base": 120, "delta_turns": 20, "star": 0.2},
}
MAX_OPS = 10
MIN_PRECISION_RECALL = 0.95


def write_parts(pdf: pd.DataFrame, path: str, parts: int, prefix: str = "part",
                schema: pa.Schema | None = None) -> None:
    """Write ``pdf`` in conversation/turn order as ``parts`` parquet files of
    contiguous rows (several input splits, as a real landing zone has).
    ``schema`` keeps a file's column types when a column is all null in
    it (a small delta may hold no tool turns)."""
    os.makedirs(path, exist_ok=True)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    step = -(-len(pdf) // parts)
    for i in range(parts):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        if len(chunk):
            chunk.to_parquet(os.path.join(path, f"{prefix}-{i:05d}.parquet"), index=False,
                             schema=schema)


def exact_deltas(turns: np.ndarray, start: int, want: int, n: int) -> list[list[int]]:
    """``n`` deltas of exactly ``want`` turns each, as lists of conversation
    indexes (``turns[i]`` is conversation i's turn count), taken in order
    from ``start``. A conversation that would leave a remainder no
    conversation can fill is skipped and never ingested: a delta's size
    then does not vary with the seed, and conversations do not overlap in
    time, so the stream's watermark drops none of the turns ingested."""
    shortest = int(turns.min())
    deltas, i = [], start
    for _ in range(n):
        delta, left = [], want
        while left:
            if turns[i] == left or turns[i] + shortest <= left:
                delta.append(i)
                left -= int(turns[i])
            i += 1
        deltas.append(delta)
    return deltas


def kg_checks(spark, nodes, edges, transcripts: pd.DataFrame) -> list[dict]:
    """The published graph against the frozen oracle on the same turns:
    canonical-triple P/R, summed edge observations, summed node mentions
    and the node count."""
    ref_mentions = reference_mentions(transcripts)
    ref_triples = reference_triples(transcripts)
    ref = set(reference_canonical_triples(transcripts).itertuples(index=False, name=None))
    a2c = alias_to_canonical()
    want_nodes = len({a2c[n] for n in ref_mentions["norm"]})

    # the graph is vocabulary-sized (about 6k edges): check it on the driver
    e = edges.select("src_entity", "pred", "dst_entity", "n_obs").toPandas()
    got = set(e[["src_entity", "pred", "dst_entity"]].itertuples(index=False, name=None))
    p = len(got & ref) / len(got) if got else 1.0
    r = len(got & ref) / len(ref) if ref else 1.0
    n_obs = int(e["n_obs"].sum())
    n_mentions, n_nodes = nodes.agg(F.sum("n_mentions"), F.count(F.lit(1))).collect()[0]
    n_mentions = n_mentions or 0
    return [
        {"check": "precision_recall", "ok": min(p, r) >= MIN_PRECISION_RECALL,
         "got": [p, r], "want": f">= {MIN_PRECISION_RECALL}"},
        {"check": "sum_n_obs", "ok": n_obs == len(ref_triples),
         "got": int(n_obs), "want": len(ref_triples)},
        {"check": "sum_n_mentions", "ok": n_mentions == len(ref_mentions),
         "got": int(n_mentions), "want": len(ref_mentions)},
        {"check": "nodes", "ok": n_nodes == want_nodes, "got": n_nodes, "want": want_nodes},
    ]


def query_checks(spark, star_dir: str) -> list[dict]:
    """Each headline key's result against its DuckDB oracle over the same
    tables: row count, columns, dtypes and an order-insensitive value
    hash, as ``tools/selfcheck.py`` compares them."""
    import __spark_entry__ as entry
    from tools.selfcheck import compare, duckdb_con

    con = duckdb_con(star_dir)
    oracles = entry.oracle_sql()
    out = []
    for key in HEADLINE:
        try:
            got = QUERIES[key](spark, star_dir).toPandas()
            problems = compare(key, got, con.execute(oracles[key]).fetchdf())
        except Exception as exc:  # noqa: BLE001 - a failed check is counted, not fatal
            got, problems = [], [f"{type(exc).__name__}: {exc}"]
        out.append({"check": f"entry_queries.{key}", "ok": not problems,
                    "got": len(got), "want": "; ".join(problems) or "DuckDB oracle"})
    con.close()
    return out


class Workload:
    """One workload over a live session. ``setup`` runs before the timed
    section; ``prepare`` (untimed) and ``op`` (timed, returns the turns
    it published) form the loop; ``probes`` runs only in traced runs;
    ``check`` runs last."""

    op_span = ""

    def __init__(self, spark, work_dir: str, seed: int, sizes: dict, tracer, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        # staged buckets sized to the host, as build_graph.py and bench.py
        # size them; every other setting is the program's default
        self.cfg = PipelineConfig(n_buckets=max(cores, 8))
        self.info: dict = {}
        self.n_ops = 0  # operations started
        self.star = ""  # star-schema dir of the operator probes, if they ran

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def op(self) -> int:
        raise NotImplementedError

    def probes(self) -> None:
        pass

    def check(self) -> list[dict]:
        raise NotImplementedError


class Build(Workload):
    op_span = "plans.pipeline.build_graph"

    def setup(self) -> None:
        from pysql2neo4j_spark.session import warm_python_workers
        from pysql2neo4j_spark.sources.transcripts import read_transcripts

        with self.tracer.span("session.warm_python_workers"):
            warm_python_workers(self.spark)
        self.pdf, _ = generate_corpus(self.sizes["build"], self.seed)
        self.src = os.path.join(self.work, "corpus")
        write_parts(self.pdf, self.src, self.cfg.n_buckets)
        # one untraced build before timing: it pulls the input into the
        # page cache and takes the cold JVM's JIT and codegen costs
        warmup = os.path.join(self.work, "graph-warmup")
        pipeline.build_graph(self.spark, read_transcripts(self.spark, self.src), warmup,
                             self.cfg, resume=False)
        shutil.rmtree(warmup, ignore_errors=True)
        self.info = {"convs": self.sizes["build"], "turns": len(self.pdf)}

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"graph-{i}")

    def prepare(self) -> None:
        # keep only the newest graph (the one checked after the loop)
        if self.n_ops:
            shutil.rmtree(self._out(self.n_ops - 1), ignore_errors=True)

    def op(self) -> int:
        from pysql2neo4j_spark.sources.transcripts import read_transcripts

        i, t = self.n_ops, self.tracer
        self.n_ops += 1
        with t.patched(pipeline, "extract_stage", "plans.pipeline.extract_stage"), \
                t.patched(pipeline, "materialize_graph", "plans.pipeline.materialize_graph"), \
                t.span(self.op_span):
            self.result = pipeline.build_graph(
                self.spark, read_transcripts(self.spark, self.src), self._out(i), self.cfg,
                resume=False)
        self.last_out = self._out(i)
        return len(self.pdf)

    def probes(self) -> None:
        self._kg_probes()
        self._query_probes()

    def _kg_probes(self) -> None:
        """Re-run the graph-global layers on the committed IR one at a
        time, each forced, so each gets its own span (inside
        ``materialize_graph`` they are lazy and overlap)."""
        from pysql2neo4j_spark.operators.components import canonical_entities
        from pysql2neo4j_spark.operators.graph import build_edges
        from pysql2neo4j_spark.operators.linking import link_candidates
        from pysql2neo4j_spark.sources.transcripts import write_bucketed

        cfg, t = self.cfg, self.tracer
        mentions, triples = pipeline.read_committed_ir(self.spark, self.last_out, cfg)
        extract = [sp for sp in t.spans if sp.name == "plans.pipeline.extract_stage"][-1]
        extract.counts.update(rows_m=mentions.count(), rows_t=triples.count())

        with t.span("operators.linking.link_candidates") as sp:
            forms, form_edges, _ = link_candidates(
                mentions, bands=cfg.bands, rows=cfg.rows, max_block=cfg.max_block,
                threshold=cfg.threshold, context_weight=cfg.context_weight)
            form_edges = form_edges.persist()
            sp.counts["rows_out"] = form_edges.count()
        with t.span("operators.components.canonical_entities") as sp:
            f2e = canonical_entities(forms, form_edges, n_partitions=cfg.cc_partitions).persist()
            sp.counts["rows_out"] = f2e.count()
        caches: list = []
        probe_dir = os.path.join(self.work, "probe-edges")
        with t.span("operators.graph.build_edges") as sp:
            edges = build_edges(triples, f2e, n_salts=cfg.n_salts, cache_registry=caches)
            write_bucketed(edges, probe_dir, "src_entity",
                           n_buckets=cfg.n_entity_buckets, catalog=cfg.catalog)
        sp.counts["rows_out"] = self.spark.read.parquet(probe_dir).count()
        for df in [form_edges, f2e, *caches]:
            df.unpersist()

    def _query_probes(self) -> None:
        """The operator battery: each headline key of ``entry_queries``
        over a star schema generated from the seed, one span each, forced
        through the noop sink. This never enters the KG pipeline."""
        self.star = os.path.join(self.work, "star")
        write_star(self.star, self.seed, self.sizes["star"])
        # the ann_ivf oracles train their centroids on these tables; the
        # centroid cache stays inside the run's directory
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.star
        os.environ["SPARK_GRAFT_IVF_CACHE"] = os.path.join(self.work, "ivf-cache")
        for key in HEADLINE:
            with self.tracer.span(f"entry_queries.{key}"):
                QUERIES[key](self.spark, self.star).write.format("noop").mode("overwrite").save()

    def check(self) -> list[dict]:
        checks = kg_checks(self.spark, self.result["nodes"], self.result["edges"], self.pdf)
        if self.star:
            checks += query_checks(self.spark, self.star)
        return checks


class Append(Workload):
    op_span = "append.delta"

    def setup(self) -> None:
        from pysql2neo4j_spark.streaming.bridge import finalize_stream_graph

        base, want = self.sizes["base"], self.sizes["delta_turns"]
        # deltas come from the tail of a larger corpus, whose first ``base``
        # conversations equal generate_corpus(base, seed) (prefix property);
        # a tail of one conversation per delta turn leaves ample room for
        # the skipped ones
        self.pdf, _ = generate_corpus(base + MAX_OPS * want, self.seed)
        self.convs = self.pdf["conv_id"].unique()
        self.schema = pa.Schema.from_pandas(self.pdf, preserve_index=False)
        turns = self.pdf.groupby("conv_id", sort=False).size().to_numpy()
        self.deltas = exact_deltas(turns, base, want, MAX_OPS)
        self.src = os.path.join(self.work, "landing")
        self.out = os.path.join(self.work, "graph")
        write_parts(self.pdf[self.pdf["conv_id"].isin(self.convs[:base])], self.src,
                    self.cfg.n_buckets, schema=self.schema)
        # no separate Python-worker warm-up: the base ingest starts them
        with self.tracer.span("streaming.bridge.stream_to_staged.base"):
            self._ingest()
        with self.tracer.span("plans.incremental.finalize_graph.full"):
            res = finalize_stream_graph(self.spark, self.out, self.cfg)
        if res["metrics"]["mode"] != "full":
            raise RuntimeError(f"first finalize ran as {res['metrics']['mode']!r}, not full")
        self.info = {"base_convs": base, "base_turns": int(turns[:base].sum()),
                     "delta_turns": want}

    def _published(self) -> pd.DataFrame:
        """The turns ingested so far: the base and every delta written."""
        convs = [*self.convs[:self.sizes["base"]],
                 *(self.convs[c] for d in self.deltas[:self.n_ops] for c in d)]
        return self.pdf[self.pdf["conv_id"].isin(convs)]

    def _ingest(self) -> int:
        """Run the stream query until the landing dir is drained, then stop
        it, so no micro-batch overlaps the finalize; returns the rows the
        query read."""
        from pysql2neo4j_spark.streaming.bridge import stream_to_staged
        from pysql2neo4j_spark.streaming.ingest import (
            read_transcript_stream,
            streaming_dedup_turns,
        )

        stream = streaming_dedup_turns(read_transcript_stream(self.spark, self.src))
        q = stream_to_staged(stream, self.out, self.cfg)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sum(p.numInputRows for p in q.recentProgress)

    def prepare(self) -> None:
        delta = self.pdf[self.pdf["conv_id"].isin(self.convs[self.deltas[self.n_ops]])]
        write_parts(delta, self.src, 1, prefix=f"delta-{self.n_ops:05d}", schema=self.schema)

    def op(self) -> int:
        from pysql2neo4j_spark.streaming.bridge import finalize_stream_graph

        t = self.tracer
        self.n_ops += 1
        with t.span(self.op_span):
            with t.span("streaming.bridge.stream_to_staged") as sp:
                sp.counts["rows_out"] = self._ingest()
            with t.span("plans.incremental.finalize_graph.delta") as sp:
                self.result = finalize_stream_graph(self.spark, self.out, self.cfg)
        m = self.result["metrics"]
        sp.counts["ir_rows_read"] = m["ir_mention_rows_read"] + m["ir_triple_rows_read"]
        if m["mode"] != "incremental":
            raise RuntimeError(f"delta finalize ran as {m['mode']!r}, not incremental")
        return self.sizes["delta_turns"]

    def check(self) -> list[dict]:
        return kg_checks(self.spark, self.result["nodes"], self.result["edges"],
                         self._published())


WORKLOADS = {"build": Build, "append": Append}
