"""q_gate_post_takedown invariants + API parity (round 15, VERDICT r14
item 1): the graded row's planted flip/hold populations are
non-vacuous, admission is monotone under a takedown (precondition
first), and the graded TEXT formulation equals the real lifecycle API
(:func:`dedup.near_text_flags` with the ``takedowns`` thread)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from kafka_flink_exactlyonce_example_spark.functions import hashing
from kafka_flink_exactlyonce_example_spark.operators.dedup import (
    _MAX_BUCKET,
    _tg_base,
    near_text_flags,
    text_index_build,
)
from kafka_flink_exactlyonce_example_spark.operators.ingest import (
    _GPT_EXACT_DEL_BASE,
    _GPT_EXACT_SURV_BASE,
    _GPT_NEAR_DEL_BASE,
    _GPT_NEAR_SURV_BASE,
    _gpt_plants,
)


def _cap_precondition(spark):
    """Every graded claim below is exact only while no corpus band
    bucket straddles the cap — assert it FIRST so a fixture regen that
    breaks the precondition fails here, not in a confusing flag
    mismatch (the q_text_gen_fold discipline)."""
    base, bands_all, _ = _tg_base(spark, SMOKE_SF)
    corpus_ids = base.filter(F.col("g") >= 1).select("doc_id")
    max_bucket = (
        bands_all.join(corpus_ids, "doc_id", "leftsemi")
        .groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= _MAX_BUCKET, (
        f"cap precondition broken: max bucket {max_bucket} > {_MAX_BUCKET}"
    )
    return base


def test_gate_post_takedown_planted_flips_and_monotonicity(
    spark, registry_loaded
):
    base = _cap_precondition(spark)
    rows = {
        r["doc_id"]: r
        for r in registry_loaded.QUERIES["q_gate_post_takedown"](
            spark, SMOKE_SF
        ).collect()
    }

    def pop(b):
        return [rows[i] for i in sorted(rows) if b <= i < b + 1_000_000_000]

    near_del = pop(_GPT_NEAR_DEL_BASE)
    near_surv = pop(_GPT_NEAR_SURV_BASE)
    exact_del = pop(_GPT_EXACT_DEL_BASE)
    exact_surv = pop(_GPT_EXACT_SURV_BASE)
    assert [len(p) for p in (near_del, near_surv, exact_del, exact_surv)] == [
        4,
        4,
        4,
        4,
    ]
    # the headline flip: a near-copy of a SAME-window-deleted doc is
    # rejected by the un-threaded gate and admitted by the threaded one
    for r in near_del:
        assert r["f_text_v1"] == 1 and r["f_text_v2"] == 0
        assert r["admitted_v1"] == 0 and r["admitted_v2"] == 1
    # ...while a near-copy of a survivor keeps dying
    for r in near_surv:
        assert r["f_text_v1"] == 1 and r["f_text_v2"] == 1
        assert r["admitted_v1"] == 0 and r["admitted_v2"] == 0
    # the digest flip (an exact copy also near-text-matches its source,
    # so both flags flip in lockstep)
    for r in exact_del:
        assert r["f_exact_v1"] == 1 and r["f_exact_v2"] == 0
        assert r["f_text_v1"] == 1 and r["f_text_v2"] == 0
        assert r["admitted_v1"] == 0 and r["admitted_v2"] == 1
    for r in exact_surv:
        assert r["f_exact_v1"] == 1 and r["f_exact_v2"] == 1
        assert r["admitted_v1"] == 0 and r["admitted_v2"] == 0
    # a takedown can only ADMIT more (cap precondition asserted above)
    assert all(r["admitted_v1"] <= r["admitted_v2"] for r in rows.values())
    # natural batch docs are present alongside the 16 plants
    n_batch = base.filter(F.col("g") == 0).count()
    assert len(rows) == n_batch + 16


def test_gate_post_takedown_text_side_matches_api(spark, registry_loaded):
    """The graded row rides the shared per-(session, sf) signature
    pass; the REAL API (text_index_build over the corpus +
    near_text_flags(takedowns=wave)) must produce the same f_text_v2
    verdicts for the same probe batch — what keeps the graded
    formulation honest (test_graded_fold_matches_api's discipline)."""
    base = _cap_precondition(spark)
    corpus = base.filter(F.col("g") >= 1).select("doc_id", "lang", "text")
    wave = corpus.filter(hashing.is_del("doc_id")).select("doc_id")
    batch = (
        base.filter(F.col("g") == 0)
        .select("doc_id", "lang", "text")
        .unionByName(_gpt_plants(base))
    )
    bands, sets = text_index_build(corpus)
    got = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(
            batch, bands, sets, takedowns=wave
        ).collect()
    }
    want = {
        r["doc_id"]: r["f_text_v2"]
        for r in registry_loaded.QUERIES["q_gate_post_takedown"](
            spark, SMOKE_SF
        ).collect()
    }
    assert set(got) == set(want)
    assert got == want
    # non-vacuity: both outcomes occur
    assert any(got.values()) and not all(got.values())
