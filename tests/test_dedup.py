"""Dedup family: all four text detectors agree on the fixtures' planted
near-dup pairs; embedding dedup finds planted vector dups."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from pysql2neo4j_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def truth_pairs(docs):
    """Ground truth: exact word-3gram Jaccard >= 0.8, brute force in
    python over the 500 fixture docs."""
    import itertools

    rows = docs.select("doc_id", "text").collect()

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    shs = {r.doc_id: sh(r.text) for r in rows}
    out = set()
    for a, b in itertools.combinations(sorted(shs), 2):
        A, B = shs[a], shs[b]
        inter = len(A & B)
        if inter / (len(A) + len(B) - inter) >= 0.8:
            out.add((a, b))
    return out


def test_ngram_jaccard_exact(docs, truth_pairs):
    got = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()}
    assert got == truth_pairs and len(truth_pairs) > 0


def test_minhash_lsh_perfect_recall_here(docs, truth_pairs):
    got = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert got == truth_pairs


def test_simhash_with_verification(docs, truth_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=64, verify_threshold=0.8).collect()
    }
    assert got == truth_pairs


def test_exact_dup_groups_planted(spark, docs):
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    groups = exact_dup_groups(aug, "doc_id", "text").collect()
    assert len(groups) == docs.filter(F.col("doc_id") % 50 == 0).count()
    for g in groups:
        assert g.n_copies == 2 and g.keeper_id == min(g.member_ids)


def test_embedding_dup_pairs_planted(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding", "label"
    )
    aug = emb.unionByName(planted)
    pairs = embedding_dup_pairs(aug, "vec_id", "embedding", threshold=0.999).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(i, i + 90000) for i in range(5)}


def test_spread_skips_shuffle_on_parallel_scan(spark, tmp_out):
    """VERDICT r2 #4: _spread must NOT repartition (an extra full-text
    Exchange at 100 TB) when the scan is already parallel; it only
    rescues few-task scans (single-row-group files)."""
    import os

    from pysql2neo4j_spark.operators.dedup import _spread

    par = spark.sparkContext.defaultParallelism
    df = spark.range(10000).withColumn("text", F.concat(F.lit("doc "), F.col("id")))

    wide = os.path.join(tmp_out, "wide.parquet")
    df.repartition(par).write.parquet(wide)
    scan = spark.read.parquet(wide)
    assert scan.rdd.getNumPartitions() >= par // 2
    spread = _spread(scan)
    assert spread is scan  # pass-through: no added Exchange
    assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()

    narrow = os.path.join(tmp_out, "narrow.parquet")
    df.coalesce(1).write.parquet(narrow)
    nscan = spark.read.parquet(narrow)
    assert nscan.rdd.getNumPartitions() < max(2, par // 2)
    assert _spread(nscan).rdd.getNumPartitions() == par


def test_spread_definition_runs_no_jobs(spark, tmp_path):
    """VERDICT r3 #9: building a dedup plan must not run Spark jobs at
    DataFrame-definition time (the old probe forced a DataFrame->RDD
    conversion per call). The partition probe is inputFiles() + local
    file sizes — pure driver-side metadata."""
    import os

    from pysql2neo4j_spark.operators.dedup import exact_dup_groups

    path = os.path.join(str(tmp_path), "docs")
    spark.range(100).selectExpr(
        "id", "repeat('x', cast(id % 7 as int)) as text"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)

    sc = spark.sparkContext
    sc.setJobGroup("spread_probe", "definition-time probe")
    try:
        plan = exact_dup_groups(df, "id", "text")  # definition only
        jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup("spread_probe")
        assert len(jobs) == 0, f"plan definition ran {len(jobs)} Spark job(s)"
    finally:
        sc.setJobGroup("", "")
    # the plan still executes correctly afterwards
    assert plan.count() >= 0


def test_duplicated_spans_null_doc_id(spark):
    """A null doc_id is no document: its spans count in n_total but not
    in n_docs, as count(DISTINCT doc_id) in the oracle has it."""
    from pysql2neo4j_spark.operators.dedup import duplicated_ngram_spans

    header = "subscribe to our newsletter for weekly updates"
    docs = [
        (1, f"{header} alpha bravo"),
        (2, f"{header} charlie delta"),
        (None, f"{header} echo foxtrot"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r.span: (r.n_docs, r.n_total)
           for r in duplicated_ngram_spans(df, "doc_id", "text", n=5, min_total=3).collect()}
    assert got[" ".join(header.split()[:5])] == (2, 3)


def test_boilerplate_span_detection(spark):
    """Planted boilerplate: a fixed header sentence prepended to several
    otherwise-unique documents must be flagged span-by-span, including
    a WITHIN-document repetition; unique body text must not be."""
    from pysql2neo4j_spark.operators.dedup import (
        duplicated_ngram_spans,
        flag_boilerplate_positions,
    )

    header = "subscribe to our newsletter for weekly updates"
    docs = [
        (1, f"{header} alpha bravo charlie delta echo foxtrot"),
        (2, f"{header} golf hotel india juliet kilo lima"),
        (3, f"{header} mike november oscar papa quebec romeo"),
        # within-doc repetition only (same doc twice)
        (4, f"{header} {header} sierra tango uniform"),
        (5, "victor whiskey xray yankee zulu one two three four five"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    spans = duplicated_ngram_spans(df, "doc_id", "text", n=5, min_total=3)
    got = {r.span: (r.n_docs, r.n_total) for r in spans.collect()}
    # every 5-gram inside the header occurs in docs 1-4 (5x total:
    # once each in 1-3, twice in 4 via the repetition straddle or not)
    hdr_tokens = header.split()
    first_hdr_span = " ".join(hdr_tokens[:5])
    assert first_hdr_span in got
    n_docs, n_total = got[first_hdr_span]
    assert n_docs == 4 and n_total >= 5
    # unique body text flagged nowhere
    assert not any("victor" in s or "alpha" in s for s in got)

    flags = flag_boilerplate_positions(df, "doc_id", "text", n=5, min_total=3)
    rows = flags.collect()
    flagged_docs = {r.doc_id for r in rows}
    assert flagged_docs == {1, 2, 3, 4}
    # doc 4 flags the header at BOTH occurrences (pos 0 and pos 7)
    d4 = sorted(r.pos for r in rows if r.doc_id == 4 and r.span == first_hdr_span)
    assert d4 == [0, 7]
    # positions index the normalized token stream
    assert all(r.pos >= 0 for r in rows)


def test_cluster_keeper_election_transitive_chain(spark):
    """A~B and B~C above threshold, A~C below: pairwise election keeps
    TWO documents (each pair's winner); cluster election must keep
    exactly one — the component-wide quality winner."""
    from pysql2neo4j_spark.operators.dedup import (
        cluster_keep_best,
        ngram_jaccard_pairs,
    )

    words = [f"w{i:02d}" for i in range(1, 15)]
    a = " ".join(words[0:10])                      # w01..w10
    b = " ".join(words[2:12])                      # w03..w12
    c = " ".join(words[4:13] + ["wfourteenlong"])  # w05..w13 + long tail
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "unrelated totally different text here")],
        "doc_id LONG, text STRING",
    )

    pairs = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs  # a chain

    rows = cluster_keep_best(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(rows) == 1  # one transitive cluster, singleton 9 excluded
    r = rows[0]
    assert r.cluster_id == 1
    assert sorted(r.member_ids) == [1, 2, 3]
    assert r.n_members == 3
    assert r.keeper_id == 3  # longest text wins across the WHOLE cluster


def test_decontamination_flags_leaked_spans(spark):
    """Planted leak: a training doc containing an eval doc's sentence
    verbatim is flagged with the right hit counts; clean docs are not."""
    from pysql2neo4j_spark.operators.dedup import ngram_decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id LONG, text STRING",
    )
    train_docs = spark.createDataFrame(
        [
            # contains the eval sentence verbatim -> every covering
            # 5-gram of the 10-token eval doc (6 spans) hits once
            (1, "intro words here the quick brown fox jumps over the lazy dog tonight outro"),
            (2, "completely unrelated training document with its own words"),
            # partial overlap: only 5 consecutive shared tokens -> 1 span
            (3, "prefix the quick brown fox jumps elsewhere entirely now"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: (r.n_hit_positions, r.n_hit_spans)
           for r in ngram_decontaminate(train_docs, eval_docs, "doc_id", "text").collect()}
    assert set(got) == {1, 3}
    assert got[1] == (6, 6)   # all 6 eval 5-grams leaked
    assert got[3] == (1, 1)   # exactly one shared 5-gram


def test_pii_redaction_planted(spark):
    """Planted PII: emails, phones, SSNs are replaced with typed
    placeholders and counted; clean text passes through byte-identical."""
    from pysql2neo4j_spark.functions.text import redact_pii

    docs = [
        (1, "contact me at jane.doe+spam@example.co.uk for details"),
        (2, "call 555-867-5309 or +1 (212) 555-0117 tomorrow"),
        (3, "ssn on file: 078-05-1120 thanks"),
        (4, "perfectly clean text with numbers like 12345 and v2.0"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in df.select("doc_id", *redact_pii("text")).collect()}

    assert rows[1].n_email == 1 and "<EMAIL>" in rows[1].redacted
    assert "example.co.uk" not in rows[1].redacted
    assert rows[2].n_phone == 2 and rows[2].redacted.count("<PHONE>") == 2
    assert rows[3].n_ssn == 1 and "<SSN>" in rows[3].redacted
    assert rows[4].redacted == docs[3][1]  # untouched
    assert rows[4].n_email == rows[4].n_phone == rows[4].n_ssn == 0


def test_cluster_keeper_lsh_path_matches_jaccard(spark):
    """The LSH candidate path (the 100 TB route) elects the same
    clusters and keepers as the inverted-index baseline."""
    from pysql2neo4j_spark.operators.dedup import cluster_keep_best

    words = [f"w{i:02d}" for i in range(1, 15)]
    docs = [
        (1, " ".join(words[0:10])),
        (2, " ".join(words[2:12])),
        (3, " ".join(words[4:13] + ["wfourteenlong"])),
        (9, "unrelated totally different text here"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    def rows(method):
        return sorted(
            (r.cluster_id, tuple(sorted(r.member_ids)), r.n_members, r.keeper_id)
            for r in cluster_keep_best(df, "doc_id", "text", n=3,
                                       threshold=0.5, method=method).collect()
        )

    assert rows("lsh") == rows("jaccard")


def test_minhash_lsh_degenerate_bucket_cap(spark):
    """VERDICT r4 #3: a degenerate corpus (hundreds of identical /
    empty texts sharing one band signature) must not go quadratic
    inside a hot bucket.  With the cap engaged the hot family yields
    zero candidates; with the default cap the same family is still
    found exactly; empty docs never produce pairs at all."""
    same = [(i, "alpha beta gamma delta epsilon zeta") for i in range(200)]
    empties = [(1000 + i, "   ") for i in range(50)]  # one "" shingle each
    pairish = [
        (2001, "one two three four five six seven eight"),
        (2002, "one two three four five six seven nine"),
    ]
    df = spark.createDataFrame(same + empties + pairish, "doc_id LONG, text STRING")

    # cap smaller than both degenerate families: their buckets are
    # dropped wholesale, but the small near-dup pair (bucket size 2)
    # survives — candidate work stays bounded
    capped = minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.5, max_bucket=30)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(2001, 2002)}

    # default cap: both identical families fully recovered (empty docs
    # are an identical family too — they share the "" shingle)
    full = minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert full.count() == 200 * 199 // 2 + 50 * 49 // 2 + 1
    # no cross-family pairs: empties never verify against real texts
    assert full.filter((F.col("id_a") < 1000) & (F.col("id_b") >= 1000)).count() == 0


def test_embedding_dup_ivf_route_bounded_hot_bucket(spark, monkeypatch):
    """VERDICT r5 #1 skew gate: a corpus whose vectors are ALL
    strictly positive lands entirely in ONE sign bucket — the sign
    path's candidate space would be all-pairs (n^2/2). Above
    ``large_corpus_threshold`` the operator must instead route through
    the IVF-cell join: planted scaled-copy dups are still found, and
    the largest home cell stays far below the corpus (bounded
    within-block pair work where sign bucketing degenerates)."""
    import numpy as np

    import pysql2neo4j_spark.operators.similarity as sim_mod

    rng = np.random.default_rng(7)
    n, dim, k = 2000, 8, 8
    centers = rng.uniform(0.5, 1.5, size=(k, dim))
    base = centers[rng.integers(0, k, size=n)] + rng.normal(0, 0.15, size=(n, dim))
    base = np.abs(base) + 0.01  # strictly positive: one sign bucket
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    planted_srcs = [5, 500, 1500]
    for j, src in enumerate(planted_srcs):
        rows.append((10_000 + j, [float(x) for x in base[src] * 1.0001]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    captured = {}
    orig = sim_mod.ivf_join_pairs

    def spy(corpus, centroids, **kwargs):
        captured["centroids"] = centroids
        return orig(corpus, centroids, **kwargs)

    monkeypatch.setattr(sim_mod, "ivf_join_pairs", spy)
    got = embedding_dup_pairs(
        df, "vec_id", "embedding", threshold=0.999,
        large_corpus_threshold=500, n_centroids=16, train_sample=1000,
    )
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert "centroids" in captured, "large corpus did not take the IVF route"
    assert {(s, 10_000 + j) for j, s in enumerate(planted_srcs)} <= pairs

    # blocking boundedness: every vector shares the single sign bucket
    # (block = 100% of corpus there), but IVF home cells split it
    from pysql2neo4j_spark.operators.similarity import ivf_cell_assignments

    sizes = [
        r.n
        for r in ivf_cell_assignments(
            df, captured["centroids"], id_col="vec_id", vec_col="embedding", n_probe=1
        )
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    total = n + len(planted_srcs)
    assert max(sizes) < 0.5 * total, f"degenerate IVF cell: {max(sizes)}/{total}"

    # small corpora keep the oracle-checkable sign path (no IVF call)
    captured.clear()
    small = df.limit(100)
    embedding_dup_pairs(small, "vec_id", "embedding", threshold=0.999).count()
    assert "centroids" not in captured


def test_cluster_keep_best_scales_cc_partitions(spark, monkeypatch):
    """VERDICT r5 #4: the CC parallelism for keeper election must not
    be pinned at 4 — a templated corpus whose dup graph outgrows the
    near-dup-bounded assumption would serialize every superstep
    shuffle. Above ``large_pairs_threshold`` the operator hands CC the
    session parallelism; below it (and on explicit override) the
    caller's value wins."""
    import pysql2neo4j_spark.operators.components as comp_mod
    from pysql2neo4j_spark.operators.dedup import cluster_keep_best

    captured = {}
    orig = comp_mod.connected_components

    def spy(*args, **kwargs):
        captured["n_partitions"] = kwargs.get("n_partitions")
        return orig(*args, **kwargs)

    monkeypatch.setattr(comp_mod, "connected_components", spy)
    docs = [(i, "alpha beta gamma delta epsilon") for i in range(30)]  # 435 pairs
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    # forced-large dup graph (435 pairs > threshold=100): scales past 4
    big = cluster_keep_best(
        df, "doc_id", "text", threshold=0.5, large_pairs_threshold=100
    )
    assert big.count() == 1 and big.first().n_members == 30
    assert captured["n_partitions"] > 4

    # default threshold: near-dup-bounded graph stays at the 4-partition floor
    cluster_keep_best(df, "doc_id", "text", threshold=0.5).count()
    assert captured["n_partitions"] == 4

    # explicit override always wins
    cluster_keep_best(df, "doc_id", "text", threshold=0.5, cc_partitions=7).count()
    assert captured["n_partitions"] == 7


def test_simhash_degenerate_chunk_cap(spark):
    """VERDICT r5 #2: the 8-bit chunk blocks are ~corpus/256 even when
    healthy, and a degenerate corpus (one identical family, plus empty
    docs that all simhash to 0) concentrates whole families into
    single chunk buckets — the chunk self-join must not go quadratic
    there. With the cap engaged both degenerate families drop out of
    candidate generation wholesale while the small near-dup pair
    (bucket size 2) survives; with the default cap the same families
    are still recovered exactly."""
    same = [(i, "alpha beta gamma delta epsilon zeta") for i in range(200)]
    empties = [(1000 + i, "   ") for i in range(50)]  # simhash 0, "" shingle
    pairish = [
        (2001, "one two three four five six seven eight"),
        (2002, "one two three four five six seven nine"),
    ]
    df = spark.createDataFrame(same + empties + pairish, "doc_id LONG, text STRING")

    capped = simhash_pairs(
        df, "doc_id", "text", max_hamming=64, verify_threshold=0.5, max_bucket=30
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(2001, 2002)}

    full = simhash_pairs(df, "doc_id", "text", max_hamming=64, verify_threshold=0.5)
    # hamming is permissive here, so verification (exact jaccard) is
    # the gate — identical families recovered fully, no cross-family
    assert full.count() == 200 * 199 // 2 + 50 * 49 // 2 + 1


def test_pii_redact_registry_true_positives(spark):
    """The registry key must evidence DETECTION, not just restraint
    (VERDICT r4 #6): every planted row (doc_id >= 200000) counts
    exactly one email/phone/SSN and carries all three placeholders;
    original rows stay untouched."""
    from pysql2neo4j_spark.entry_queries import QUERIES

    # Guard the plant-offset invariant (ADVICE r5): the planted ids are
    # original + 200000, so the planted/original split below silently
    # misclassifies rows on any fixture with doc_id >= 200000. Both
    # engines would still agree (the oracle plants identically) — only
    # THIS test's split would rot, so fail loudly here instead.
    max_orig = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    assert max_orig < 200000, (
        f"fixture doc_id up to {max_orig} collides with the +200000 PII "
        "plant offset; raise the offset in entry_queries._pii_oracle/"
        "text_pii_redact and this test together"
    )

    out = QUERIES["text_pii_redact"](spark, "/root/testdata/sf0.001").cache()
    planted = out.filter(F.col("doc_id") >= 200000)
    n_planted = planted.count()
    assert n_planted > 0
    assert (
        planted.filter(
            (F.col("n_email") == 1) & (F.col("n_phone") == 1) & (F.col("n_ssn") == 1)
            & F.col("redacted").contains("<EMAIL>")
            & F.col("redacted").contains("<PHONE>")
            & F.col("redacted").contains("<SSN>")
        ).count()
        == n_planted
    )
    orig = out.filter(F.col("doc_id") < 200000)
    assert orig.filter((F.col("n_email") != 0) | (F.col("n_phone") != 0) | (F.col("n_ssn") != 0)).count() == 0
    out.unpersist()


# ---------------------------------------------- declarative minhash spec
# The declarative (nested-lambda) minhash, kept here as the reference
# spec that operators/dedup.minhash_band_buckets must reproduce
# bucket-for-bucket. Production no longer uses it: Catalyst evaluates
# its lambdas interpreted.

MINHASH_K_DEFAULT = 48  # 12 bands x 4 rows


def minhash_signature(shingles: Column, k: int = MINHASH_K_DEFAULT) -> Column:
    """array<bigint> of k minhash values over an array<string> column.

    The hash family is ``xxhash64(shingle, i)`` for i in [0, k) — one
    64-bit hash per (shingle, index) pair. Built as a single nested
    ``transform`` over ``sequence(0, k-1)`` so the plan carries ONE
    expression tree; the naive ``F.array(*[... for i in range(k)])``
    duplicates the whole shingle scan k times in the physical plan and
    blows up codegen (measured: minutes vs. seconds on tiny inputs).
    Empty shingle sets hash the empty string so the signature is total."""
    safe = F.when(F.size(shingles) > 0, shingles).otherwise(F.array(F.lit("")))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(F.transform(safe, lambda s: F.xxhash64(s, i))),
    )


def band_keys(signature: Column, bands: int, rows: int) -> Column:
    """array<bigint> of LSH band keys: hash of each band's row slice,
    band index mixed in so buckets from different bands never collide.
    Single nested transform for the same codegen reason as above."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b,
            F.concat_ws(
                ",",
                F.transform(F.slice(signature, b * rows + 1, rows), lambda x: x.cast("string")),
            ),
        ),
    )


def _declarative_buckets(sh, bands: int, rows: int) -> list:
    return sorted(
        (r.id, r.bucket)
        for r in sh.select(
            "id", band_keys(minhash_signature(F.col("sh"), k=bands * rows), bands, rows).alias("bk")
        ).select("id", F.explode("bk").alias("bucket")).collect()
    )


def test_minhash_codegen_buckets_match_declarative(spark, docs):
    """r7 optimization gate: minhash_band_buckets (explode +
    codegen-hash + min-aggregate) is the package's one minhash
    construction, used by dedup's minhash_lsh_pairs and by linking's
    blocking_keys. It must stay hash-identical to the declarative spec
    above bucket-for-bucket, or the candidate sets (and with them the
    oracle-checked pair set's recall guarantee and the linking blocks)
    silently drift. Two inputs: the fixture docs' word-3-shingles, and
    the char-3-shingles of every gazetteer alias norm plus the empty
    and a one-character norm — char_shingles yields [""] / ["a"] for
    those, the inputs where the spec's empty-set branch and the
    explode could disagree."""
    from pysql2neo4j_spark.corpus import build_gazetteer, normalize_surface
    from pysql2neo4j_spark.functions.text import char_shingles
    from pysql2neo4j_spark.operators.dedup import _with_shingles, minhash_band_buckets
    from pysql2neo4j_spark.operators.linking import (
        DEFAULT_BANDS,
        DEFAULT_ROWS,
        blocking_keys,
    )

    bands, rows = 12, 2
    sh = _with_shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=True).filter(
        F.size("sh") > 0
    )
    # THE production construction (no hand-synced copy): drift in
    # minhash_band_buckets fails here against the declarative spec
    codegen = sorted(
        (r.id, r.bucket) for r in minhash_band_buckets(sh, bands, rows).collect()
    )
    assert codegen == _declarative_buckets(sh, bands, rows)
    assert len(codegen) == bands * sh.count()

    norms = sorted(
        {normalize_surface(a) for e in build_gazetteer() for a in e.aliases} | {"", "a"}
    )
    forms = spark.createDataFrame([(n,) for n in norms], "norm string")
    csh = forms.select(
        F.col("norm").alias("id"), char_shingles(F.col("norm")).alias("sh")
    ).localCheckpoint(eager=True)
    assert {tuple(r.sh) for r in csh.filter(F.col("id").isin("", "a")).collect()} == {
        ("",), ("a",)
    }
    spec = _declarative_buckets(csh, DEFAULT_BANDS, DEFAULT_ROWS)
    assert len(spec) == DEFAULT_BANDS * len(norms)
    assert sorted(
        (r.id, r.bucket)
        for r in minhash_band_buckets(csh, DEFAULT_BANDS, DEFAULT_ROWS).collect()
    ) == spec
    # linking's band blocks are the same buckets, re-prefixed
    band_blocks = sorted(
        (r.norm, r.block_key)
        for r in blocking_keys(forms)
        .filter(F.col("block_key").startswith("band:"))
        .collect()
    )
    assert band_blocks == sorted((n, f"band:{b}") for n, b in spec)


def test_oracle_scale_buckets_under_caps(spark):
    """ADVICE r6: the simhash chunk cap (and the LSH band cap) change
    results only when a bucket exceeds max_bucket, and the shared
    exact-Jaccard oracles do not model the caps. Guard the operating
    regime at the driver's correctness scale (sf0.01): every simhash
    chunk bucket and every minhash band bucket must stay far below the
    10k default — if a future fixture regenerates hotter buckets this
    fails BEFORE the driver sees an engine-vs-oracle divergence."""
    from pysql2neo4j_spark.functions.hashing import simhash64
    from pysql2neo4j_spark.functions.text import norm_text, tokens

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    chunks = d.select(
        simhash64(tokens(norm_text(F.col("text")))).alias("sim")
    ).select(
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(f"c{i}:"),
                    F.shiftrightunsigned(F.col("sim"), i * 8).bitwiseAND(F.lit(0xFF)).cast("string"),
                )
                for i in range(8)
            ])
        ).alias("chunk")
    )
    max_chunk = chunks.groupBy("chunk").count().agg(F.max("count")).first()[0]
    assert max_chunk <= 10_000, f"simhash chunk bucket {max_chunk} exceeds the cap regime"

    from pysql2neo4j_spark.operators.dedup import _with_shingles, minhash_band_buckets

    sh = _with_shingles(d, "doc_id", "text", 3).localCheckpoint(eager=True)
    max_band = (
        minhash_band_buckets(sh, 12, 2)
        .groupBy("bucket").count().agg(F.max("count")).first()[0]
    )
    assert max_band <= 10_000, f"minhash band bucket {max_band} exceeds the cap regime"
