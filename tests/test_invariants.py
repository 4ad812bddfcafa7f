"""The per-row invariant [BASELINE.json:15]: per-turn text equality
under stable turn ordering, and shuffle/partitioning invariance of the
extracted triple set."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysql2neo4j_spark.operators.extraction import extract_all_flat, triples_from_staged
from pysql2neo4j_spark.operators.ordering import with_stable_order


def _ordered_turns(df):
    return [
        (r.conv_id, r.turn_ord, r.text)
        for r in with_stable_order(df).orderBy("conv_id", "turn_ord").collect()
    ]


def test_stable_ordering_invariant_under_shuffle(spark, transcripts_df):
    base = _ordered_turns(transcripts_df)
    shuffled = transcripts_df.orderBy(F.rand(seed=1))
    assert _ordered_turns(shuffled) == base
    repart = transcripts_df.repartition(17, F.xxhash64("conv_id"))
    assert _ordered_turns(repart) == base
    one = transcripts_df.coalesce(1)
    assert _ordered_turns(one) == base


def test_triple_set_invariant_under_partitioning(spark, transcripts_df):
    def tset(df):
        return {
            (r.conv_id, r.turn_idx, r.subj_mention, r.pred, r.obj_mention)
            for r in triples_from_staged(extract_all_flat(df)).collect()
        }

    base = tset(transcripts_df)
    assert len(base) > 100
    assert tset(transcripts_df.repartition(3)) == base
    assert tset(transcripts_df.repartition(64, F.xxhash64("conv_id"))) == base
    assert tset(transcripts_df.orderBy(F.rand(seed=2))) == base


def test_turn_ord_matches_turn_idx_on_clean_input(spark, transcripts_df):
    bad = (
        with_stable_order(transcripts_df)
        .filter(F.col("turn_ord") != F.col("turn_idx") + 1)
        .count()
    )
    assert bad == 0
