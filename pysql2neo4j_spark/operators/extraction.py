"""B6/B7 — batched mention detection + (subj, pred, obj) triple
extraction via ONE vectorized Arrow crossing [BASELINE.json:6,15].

Design notes (scale):
  * a single ``mapInPandas`` kernel (``extract_all_flat``) emits mention
    rows ('m') and triple rows ('t') together under one union schema,
    so each Arrow batch crosses the JVM/Python boundary exactly once
    and the corpus is decoded and regex-scanned once;
  * inside the batch everything is vectorized pandas string ops
    (``str.split`` / ``str.extract`` / grouped cumsum) — no per-row or
    per-group Python [BASELINE.json:15];
  * the kernel is a pure function of each row's ``text``, so extraction
    is invariant under any partitioning / shuffle
    (tests/test_invariants.py);
  * offsets are computed arithmetically from the grammar (subject is
    sentence-initial; object offset = subj_len + len(phrase) + 2), not
    via re-scanning, keeping the batch O(rows x patterns).

``mentions_from_staged`` / ``triples_from_staged`` split the staged
rows into the mentions and triples IR tables; parquet column pruning
makes the per-table filters nearly free.

The grammar is ``corpus.PREDICATES`` — the same spec the frozen oracle
(oracle_extractor.py) implements row-at-a-time; the two share only the
grammar constants, never code (SURVEY.md §7.1).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from ..corpus import MENTION_ONLY_TEMPLATES, PREDICATES

_SENT_SPLIT = r"(?<=[.?])\s+"


def _normalize(s: pd.Series) -> pd.Series:
    return s.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()


def _sentences(pdf: pd.DataFrame) -> pd.DataFrame:
    """Explode turns into sentences with absolute char offsets —
    fully vectorized (split + explode + grouped cumsum)."""
    base = pdf.reset_index(drop=True)
    sents = base.assign(sent=base["text"].fillna("").str.split(_SENT_SPLIT)).explode("sent")
    sents = sents.dropna(subset=["sent"])
    slen1 = sents["sent"].str.len() + 1
    # offset of sentence k = sum(len+1) of sentences before it in the
    # turn = inclusive grouped cumsum minus the element itself — one
    # groupby instead of the cumsum + grouped-shift pair
    sents = sents.assign(soff=slen1.groupby(sents.index).cumsum() - slen1)
    # unique index: the explode duplicates the turn index per sentence,
    # and downstream label-based selection must not fan out
    return sents.reset_index(drop=True)


def _match_relations(sents: pd.DataFrame) -> tuple[pd.DataFrame, pd.Series]:
    """All relation matches + the claim mask, from ONE regex pass.

    Returns ``(rel, claimed)`` where ``rel`` has the columns of
    ``sents`` + subj/pred/obj/offsets and ``claimed`` marks (indexed
    like ``sents``) every sentence a relation pattern consumed — the
    mention-only templates must skip those (first-match-wins, as the
    frozen oracle). Returning the mask here removes the duplicated
    prefilter+regex pass the old ``_relation_claim_mask`` re-ran over
    the same sentences in the hot kernel.

    A plain-substring ``contains`` prefilter (SIMD memmem, no regex)
    gates each anchored extract: most sentences match no predicate, so
    the expensive capture regex runs on a small subset (~3x kernel
    speedup measured). The prefilter is a strict superset of the
    anchored pattern, so semantics are unchanged vs the frozen oracle.

    An ANY-PHRASE alternation gate runs before the per-predicate
    passes (VERDICT r5 #7, r6): one combined-alternation ``contains``
    marks the sentences containing any relation phrase, so the ten
    per-predicate memmem passes scan only that subset instead of the
    whole corpus ten times.  Measured (interleaved medians, 1 thread,
    200k turns): 0.97 s vs 1.16 s baseline — 17%.  The gate is again a
    strict superset of every per-predicate prefilter; output equality
    incl. the claim mask is asserted in tests.  (The same alternation
    as a combined EXTRACT stays off-limits: leftmost-in-string beats
    first-predicate there, changing first-match-wins semantics.)"""
    parts = []
    claimed = pd.Series(False, index=sents.index)
    sent_col = sents["sent"]
    any_pat = "|".join(
        _re.escape(f" {ph} ") for (_st, _ot, ph) in PREDICATES.values()
    )
    sub = sent_col[sent_col.str.contains(any_pat, regex=True)]
    for pred, (_st, _ot, phrase) in PREDICATES.items():
        cand_idx = sub.index[sub.str.contains(f" {phrase} ", regex=False)]
        cand_idx = cand_idx[~claimed.loc[cand_idx]]
        if not len(cand_idx):
            continue
        pat = r"^(.+?) " + _re.escape(phrase) + r" (.+?)[.?]$"
        ex = sent_col.loc[cand_idx].str.extract(pat)
        hit_idx = ex.index[ex[0].notna()]
        if len(hit_idx) == 0:
            continue
        claimed.loc[hit_idx] = True
        h = sents.loc[hit_idx].copy()
        h["subj_surface"] = ex.loc[hit_idx, 0]
        h["obj_surface"] = ex.loc[hit_idx, 1]
        h["pred"] = pred
        h["subj_start"] = h["soff"].astype("int64")
        h["obj_start"] = h["subj_start"] + h["subj_surface"].str.len() + len(phrase) + 2
        parts.append(h)
    if not parts:
        empty = sents.iloc[0:0].assign(
            subj_surface="", obj_surface="", pred="", subj_start=0, obj_start=0
        )
        return empty, claimed
    return pd.concat(parts, ignore_index=True), claimed


def _match_mention_only(sents: pd.DataFrame, claimed_rel: pd.Series) -> pd.DataFrame:
    """Mention-only template matches, first-match-wins after relations.

    Each template's anchored capture extract is gated by a vectorized
    ``startswith`` on its literal prefix (VERDICT r5 #7, r6): unlike
    the r3 CONTAINS prefilter that lost on hit rate, ``startswith`` is
    anchored exactly like the pattern's ``^``, so its hit rate equals
    the true match rate and the capture regex runs only on real
    candidates. Measured (interleaved medians, 1 thread, 200k turns):
    0.39 s vs 0.45 s baseline — 15%; output equality asserted in
    tests."""
    parts = []
    claimed = claimed_rel.copy()
    sent_col = sents["sent"]
    for tmpl in MENTION_ONLY_TEMPLATES:
        pre, suf = tmpl.split("{E}")
        cand = sent_col.str.startswith(pre) & ~claimed
        if not cand.any():
            continue
        pat = "^" + _re.escape(pre) + r"(.+?)" + _re.escape(suf) + "$"
        ex = sent_col[cand].str.extract(pat)
        hit_idx = ex.index[ex[0].notna()]
        if len(hit_idx) == 0:
            continue
        claimed.loc[hit_idx] = True
        h = sents.loc[hit_idx].copy()
        h["surface"] = ex.loc[hit_idx, 0]
        h["start"] = (h["soff"] + len(pre)).astype("int64")
        parts.append(h)
    if not parts:
        return sents.iloc[0:0].assign(surface="", start=0)
    return pd.concat(parts, ignore_index=True)


STAGED_SCHEMA = _T.StructType(
    [
        _T.StructField("row_type", _T.StringType(), False),
        _T.StructField("conv_id", _T.StringType(), True),
        _T.StructField("turn_idx", _T.IntegerType(), True),
        _T.StructField("role", _T.StringType(), True),
        _T.StructField("tool", _T.StringType(), True),
        _T.StructField("ts", _T.TimestampNTZType(), True),
        _T.StructField("surface", _T.StringType(), True),
        _T.StructField("norm", _T.StringType(), True),
        _T.StructField("start", _T.IntegerType(), True),
        _T.StructField("end", _T.IntegerType(), True),
        _T.StructField("subj_surface", _T.StringType(), True),
        _T.StructField("pred", _T.StringType(), True),
        _T.StructField("obj_surface", _T.StringType(), True),
        _T.StructField("subj_start", _T.IntegerType(), True),
        _T.StructField("obj_start", _T.IntegerType(), True),
    ]
)

_STAGED_COLS = [f.name for f in STAGED_SCHEMA.fields]


def extract_all_flat(turns: DataFrame) -> DataFrame:
    """One mapInPandas crossing emitting mention rows ('m') and triple
    rows ('t') together — the extraction kernel of every caller (see
    plans/pipeline.extract_and_commit).

    Projects to exactly the kernel's six input columns before the
    Python crossing (guide §4.1: Spark cannot see which columns an
    opaque mapInPandas touches, so it would ship them all): callers
    pass frames carrying part_key, and pruning it here keeps it out of
    Arrow."""
    turns = turns.select("conv_id", "turn_idx", "role", "tool", "ts", "text")

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sents = _sentences(pdf)
            rel, claimed = _match_relations(sents)
            frames = []
            if len(rel):
                t = rel[["conv_id", "turn_idx", "tool", "ts", "subj_surface", "pred",
                         "obj_surface", "subj_start", "obj_start"]].copy()
                t["row_type"] = "t"
                frames.append(t)
                for side, start_col in (("subj_surface", "subj_start"), ("obj_surface", "obj_start")):
                    m = rel[["conv_id", "turn_idx", "role"]].copy()
                    m["surface"] = rel[side]
                    m["start"] = rel[start_col]
                    m["row_type"] = "m"
                    frames.append(m)
            mo = _match_mention_only(sents, claimed)
            if len(mo):
                m = mo[["conv_id", "turn_idx", "role"]].copy()
                m["surface"] = mo["surface"]
                m["start"] = mo["start"]
                m["row_type"] = "m"
                frames.append(m)
            if not frames:
                continue
            out = pd.concat(frames, ignore_index=True)
            msel = out["row_type"] == "m"
            out.loc[msel, "norm"] = _normalize(out.loc[msel, "surface"])
            out.loc[msel, "end"] = out.loc[msel, "start"] + out.loc[msel, "surface"].str.len()
            for c in _STAGED_COLS:
                if c not in out:
                    out[c] = None
            for c in ("turn_idx", "start", "end", "subj_start", "obj_start"):
                out[c] = out[c].astype("Int32")
            yield out[_STAGED_COLS]

    return turns.mapInPandas(kernel, schema=STAGED_SCHEMA)


def mentions_from_staged(staged: DataFrame) -> DataFrame:
    """The mentions IR (FIXTURES.md §C) from the staged 'm' rows.

    mention_id is a deterministic pure function of (conv_id, turn_idx,
    start) — stable under any partitioning."""
    return staged.filter(F.col("row_type") == "m").select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "conv_id", "turn_idx", "start").alias("mention_id"),
        "surface",
        "norm",
        "start",
        "end",
        "role",
    )


def triples_from_staged(staged: DataFrame) -> DataFrame:
    """The surface-level triples IR from the staged 't' rows, with norms
    and qualifiers (tool, ts) — reference analogue: one FK *instance*
    per child row [recon: graphproc.py createRelations]."""
    return staged.filter(F.col("row_type") == "t").select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "conv_id", "turn_idx", "subj_start").alias("subj_mention"),
        "pred",
        F.concat_ws(":", "conv_id", "turn_idx", "obj_start").alias("obj_mention"),
        F.lower(F.trim(F.regexp_replace("subj_surface", r"\s+", " "))).alias("subj_norm"),
        F.lower(F.trim(F.regexp_replace("obj_surface", r"\s+", " "))).alias("obj_norm"),
        "ts",
        F.create_map(
            F.lit("tool"), F.coalesce(F.col("tool"), F.lit("")),
            F.lit("ts"), F.col("ts").cast("string"),
        ).alias("qualifiers"),
    )
