"""Extraction (B6/B7) vs the frozen oracle, through the one kernel."""

from __future__ import annotations

from pysql2neo4j_spark.corpus import normalize_surface
from pysql2neo4j_spark.operators.extraction import (
    extract_all_flat,
    mentions_from_staged,
    triples_from_staged,
)
from pysql2neo4j_spark.oracle_extractor import reference_mentions, reference_triples


def _mention_set(rows):
    return {(r.conv_id, r.turn_idx, r.surface, r.norm, r.start, r.end) for r in rows}


def _triple_key(conv_id, turn_idx, subj_start, pred, obj_start, subj_norm, obj_norm):
    return (conv_id, turn_idx, f"{conv_id}:{turn_idx}:{subj_start}", pred,
            f"{conv_id}:{turn_idx}:{obj_start}", subj_norm, obj_norm)


def test_flat_extractors_match_oracle(spark, corpus_pdf, transcripts_df):
    pdf, _ = corpus_pdf
    staged = extract_all_flat(transcripts_df)
    got_m = mentions_from_staged(staged).collect()
    ref_m = reference_mentions(pdf)
    assert _mention_set(got_m) == _mention_set(ref_m.itertuples())

    got_t = {
        (r.conv_id, r.turn_idx, r.subj_mention, r.pred, r.obj_mention, r.subj_norm, r.obj_norm)
        for r in triples_from_staged(staged).collect()
    }
    ref_t = {
        _triple_key(r.conv_id, r.turn_idx, r.subj_start, r.pred, r.obj_start,
                    normalize_surface(r.subj_surface), normalize_surface(r.obj_surface))
        for r in reference_triples(pdf).itertuples()
    }
    assert got_t == ref_t


def test_offsets_point_at_surfaces(spark, corpus_pdf, transcripts_df):
    pdf, _ = corpus_pdf
    texts = {(r.conv_id, r.turn_idx): r.text for r in pdf.itertuples()}
    for r in mentions_from_staged(extract_all_flat(transcripts_df)).collect():
        assert texts[(r.conv_id, r.turn_idx)][r.start : r.end] == r.surface


def test_zero_mention_turns_emit_nothing(spark):
    rows = [("c0", 0, "user", "Thanks for the context.", None, __import__("datetime").datetime(2025, 1, 1))]
    from pysql2neo4j_spark.schemas import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    assert extract_all_flat(df).count() == 0
