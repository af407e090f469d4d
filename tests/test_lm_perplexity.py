"""Self-trained trigram-LM perplexity (operators/textstats.py).

Hand-computed corpus: with docs "a b a b a" and "a b c",
trigram counts are c(a,b,a)=2, c(b,a,b)=1, c(a,b,c)=1 and prefix
counts c(a,b)=3, c(b,a)=1, so
  doc 1: lp = [ln(2/3), ln(1/1), ln(2/3)], avg = 2*ln(2/3)/3
  doc 2: lp = [ln(1/3)], perplexity = exp(-ln(1/3)) = 3.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clearcare_data_pipeline_spark.operators.textstats import (  # noqa: E402
    trigram_lm_perplexity,
    trigram_occurrences,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "x y")],
        ["doc_id", "text"],
    )


def test_trigram_occurrences_counts_and_short_doc_dropped(spark):
    occ = trigram_occurrences(_docs(spark)).collect()
    by_doc: dict[int, list] = {}
    for r in occ:
        by_doc.setdefault(r.doc_id, []).append((r.w1, r.w2, r.w3))
    assert sorted(by_doc[1]) == [("a", "b", "a"), ("a", "b", "a"), ("b", "a", "b")]
    assert by_doc[2] == [("a", "b", "c")]
    assert 3 not in by_doc  # 2 tokens -> no trigrams


def test_perplexity_matches_hand_computation(spark):
    rows = {r.doc_id: r for r in trigram_lm_perplexity(_docs(spark)).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_trigrams == 3
    assert rows[2].n_trigrams == 1
    expect1 = 2.0 * math.log(2.0 / 3.0) / 3.0
    assert abs(rows[1].avg_logprob - round(expect1, 6)) < 1e-9
    assert abs(rows[2].perplexity - 3.0) < 1e-6
    assert abs(rows[1].perplexity - round(math.exp(-expect1), 6)) < 1e-9


def _perplexity_and_plan(spark, monkeypatch):
    """trigram_lm_perplexity's rows by doc, and whether its scoring join
    broadcast the model (read from the plan score_trigram_counts built,
    before the result is checkpointed)."""
    from clearcare_data_pipeline_spark.operators import textstats

    plans = []
    real = textstats.score_trigram_counts

    def spy(doctri, model, **kw):
        out = real(doctri, model, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(textstats, "score_trigram_counts", spy)
    rows = {r.doc_id: r for r in trigram_lm_perplexity(_docs(spark)).collect()}
    (plan,) = plans
    return rows, "BroadcastHashJoin" in plan


def test_keyed_join_path_matches_broadcast_path(spark, monkeypatch):
    from clearcare_data_pipeline_spark.operators import textstats

    a, a_broadcast = _perplexity_and_plan(spark, monkeypatch)  # vocab << default cap
    # cap 0 drops the hint; with size-based broadcasting off too, the
    # model joins keyed
    monkeypatch.setattr(textstats, "BROADCAST_MODEL_ROW_CAP", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b, b_broadcast = _perplexity_and_plan(spark, monkeypatch)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert (a_broadcast, b_broadcast) == (True, False)
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k]


def test_broadcast_auto_switch(spark, monkeypatch):
    """broadcast_if_small broadcasts small models and routes large
    vocabularies to the keyed join (VERDICT r6 #5)."""
    from clearcare_data_pipeline_spark.operators import textstats

    doctri = textstats.doc_trigram_counts(_docs(spark))
    model = textstats.trigram_lm_model_from_counts(doctri)

    small = textstats.score_trigram_counts(doctri, textstats.broadcast_if_small(model))
    assert "Broadcast" in small._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(textstats, "BROADCAST_MODEL_ROW_CAP", 1)
    big = textstats.score_trigram_counts(doctri, textstats.broadcast_if_small(model))
    assert "BroadcastHashJoin" not in big._jdf.queryExecution().executedPlan().toString()
    key = lambda r: (r["doc_id"], r["n_trigrams"], r["avg_logprob"])
    assert sorted(map(key, small.collect())) == sorted(map(key, big.collect()))

