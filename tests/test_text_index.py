"""Frozen TEXT near-dup index lifecycle (round 13, VERDICT r12 item 3).

The embedding side of the ingest gate has had a build → route → admit →
fold lifecycle since round 11; the MinHash text side checked admitted
docs only against the FROZEN corpus edges, so a gen-2 near-duplicate of
a gen-1-admitted doc was invisible to f_near_text. These tests pin the
closure: the fold makes the planted NEAR-copy (not byte-copy — the
exact-digest check must NOT be what catches it) of an admitted doc
rejected by index v2 while index v1 would have admitted it, and the
frame-level check agrees with the graded batch gate's f_near_text
column at smoke scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from kafka_flink_exactlyonce_example_spark.functions import hashing

_SCHEMA = "doc_id bigint, lang string, text string"


def _mkdoc(i: int, words: list[str]) -> tuple[int, str, str]:
    return (i, "en", " ".join(words))


def _corpus_docs(spark):
    # six mutually-dissimilar 30-word docs (distinct word stems, so no
    # accidental 0.8-Jaccard pairs and no shared shingles)
    rows = [
        _mkdoc(i, [f"w{i}x{j}" for j in range(30)]) for i in range(1, 7)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_text_index_fold_lifecycle(spark):
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        near_text_flags,
        text_index_build,
        text_index_fold,
    )

    corpus = _corpus_docs(spark)
    bands1, sets1 = text_index_build(corpus)
    bands1, sets1 = bands1.localCheckpoint(), sets1.localCheckpoint()

    # generation 1: doc X is fresh content — v1 admits it
    x_words = [f"fresh{j}" for j in range(30)]
    X = spark.createDataFrame([_mkdoc(100, x_words)], _SCHEMA)
    f1 = near_text_flags(X, bands1, sets1).collect()
    assert f1 == [(100, 0)] or (
        f1[0]["doc_id"] == 100 and f1[0]["f_near_text"] == 0
    )

    # offline refresh: fold the ADMITTED doc's signatures + word set
    bands2, sets2 = text_index_fold(bands1, sets1, X)
    bands2, sets2 = bands2.localCheckpoint(), sets2.localCheckpoint()
    # append-only: v1 rows survive verbatim, plus X's 4 bands + 1 set
    assert bands2.count() == bands1.count() + 4
    assert sets2.count() == sets1.count() + 1
    assert bands2.join(bands1, bands1.columns, "left_semi").count() == (
        bands1.count()
    )

    # generation 2: Y is a NEAR-copy of X — one word replaced, so the
    # digests differ (the exact check cannot be what catches it) but
    # word-set Jaccard = 29/31 ≈ 0.935 ≥ 0.8
    y_words = list(x_words)
    y_words[13] = "mutated"
    Y = spark.createDataFrame([_mkdoc(200, y_words)], _SCHEMA)
    dig = (
        X.select(F.md5(F.lower(F.trim("text")).cast("binary")).alias("h"))
        .union(
            Y.select(
                F.md5(F.lower(F.trim("text")).cast("binary")).alias("h")
            )
        )
        .distinct()
        .count()
    )
    assert dig == 2, "plant must NOT be a byte-copy"

    # the counterfactual: index v1 (without the fold) ADMITS the plant
    v1 = near_text_flags(Y, bands1, sets1).collect()
    assert v1[0]["f_near_text"] == 0, "v1 should be blind to the plant"
    # the fold is live: index v2 REJECTS it through the near-text path
    v2 = near_text_flags(Y, bands2, sets2).collect()
    assert v2[0]["f_near_text"] == 1, (
        "gen-2 near-copy of the gen-1 admit was not caught by v2"
    )

    # and an unrelated fresh doc stays admitted under v2 (the fold
    # must not over-reject)
    Z = spark.createDataFrame(
        [_mkdoc(300, [f"other{j}" for j in range(30)])], _SCHEMA
    )
    assert near_text_flags(Z, bands2, sets2).collect()[0]["f_near_text"] == 0


def test_near_text_flags_matches_graded_gate(spark):
    """Frame/graded parity: near_text_flags over the 'inc:' split of
    the smoke corpus must reproduce q_ingest_gate's f_near_text column
    exactly (same banding, same cap, same-lang exact-Jaccard verify)."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        near_text_flags,
        text_index_build,
    )
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.sources import table

    registry.load_all()
    d = table(spark, SMOKE_SF, "documents")
    is_new = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("inc:"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    corpus = d.filter(~is_new).select("doc_id", "lang", "text")
    batch = d.filter(is_new).select("doc_id", "lang", "text")
    bands, sets = text_index_build(corpus)
    got = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(batch, bands, sets).collect()
    }
    want = {
        r["doc_id"]: r["f_near_text"]
        for r in registry.QUERIES["q_ingest_gate"](spark, SMOKE_SF).collect()
    }
    assert set(got) == set(want)
    assert got == want
    # non-vacuity: the smoke split exercises BOTH outcomes (measured:
    # 3 near-text flags among 44 batch docs)
    assert any(want.values()) and not all(want.values())


def test_text_index_parquet_round_trip(spark, tmp_path):
    """save_text_index → load_text_index is lossless: the relations
    survive verbatim (partitioned bands included) and the loaded
    generation reproduces the in-memory verdicts — the planted
    near-copy of a folded admit is still rejected, fresh content still
    admitted. The text twin of the frozen-embedding-index round-trip
    pinned in tests/test_ivf_cells.py."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        load_text_index,
        near_text_flags,
        save_text_index,
        text_index_build,
        text_index_fold,
        text_index_freeze,
    )

    corpus = _corpus_docs(spark)
    x_words = [f"fresh{j}" for j in range(30)]
    X = spark.createDataFrame([_mkdoc(100, x_words)], _SCHEMA)
    bands, sets = text_index_fold(*text_index_build(corpus), X)

    path = str(tmp_path / "txtidx_gen2")
    save_text_index(path, bands, sets)
    lbands, lsets = load_text_index(spark, path)

    # relations survive verbatim (row multisets + schema)
    assert sorted(map(tuple, lbands.collect())) == sorted(
        map(tuple, bands.collect())
    )
    assert lsets.count() == sets.count()
    assert (
        lsets.join(sets, ["doc_id", "lang", "n"], "left_semi").count()
        == sets.count()
    )

    # verdict parity on the loaded generation, capped view derived
    # once as the serving stream would
    frozen = text_index_freeze(lbands).localCheckpoint()
    y_words = list(x_words)
    y_words[13] = "mutated"
    probe = spark.createDataFrame(
        [_mkdoc(200, y_words), _mkdoc(300, [f"other{j}" for j in range(30)])],
        _SCHEMA,
    )
    got = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(
            probe, frozen, lsets, bands_capped=True
        ).collect()
    }
    assert got == {200: 1, 300: 0}


def test_dedup_tombstone_repoint_branch(spark, tmp_path, registry_loaded):
    """q_dedup_tombstone's RE-POINT branch on a toy corpus (the graded
    sf0.01 corpus is digest-unique, so the driver row only exercises
    the extinct branch): a group whose keeper (doc 1, 'del:'-tagged)
    is taken down re-points to the min surviving member; a deleted
    singleton (doc 6) goes extinct with NULL keep_after; a group
    whose keeper survives never appears."""
    QUERIES = registry_loaded.QUERIES

    # ids 1, 6, 7 are 'del:'-tagged (md5-derived, deterministic);
    # 0, 2, 3, 4, 5 are not
    rows = [
        (1, "en", "group a text"),   # keeper of group a — DELETED
        (2, "en", "group a text"),   # survivor -> new keeper
        (3, "en", "group a text"),
        (6, "en", "lonely text"),    # deleted singleton -> extinct
        (0, "en", "group b text"),   # keeper survives...
        (7, "en", "group b text"),   # ...a deleted non-keeper member
        (4, "en", "untouched text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    path = str(tmp_path / "docs")
    docs.write.parquet(f"{path}/documents.parquet")
    out = {r["keep_before"]: r
           for r in QUERIES["q_dedup_tombstone"](spark, path).collect()}
    assert set(out) == {1, 6}, "group b's surviving keeper must not appear"
    assert out[1]["keep_after"] == 2 and out[1]["n_before"] == 3
    assert out[1]["n_after"] == 2
    assert out[6]["keep_after"] is None and out[6]["n_after"] == 0

def test_graded_fold_matches_api(spark):
    """q_text_gen_fold (the driver-graded fold-lifecycle row) must
    reproduce the REAL lifecycle API's verdicts exactly: v1 =
    text_index_build(corpus), v2 = text_index_fold(v1, admitted), and
    near_text_flags of the probe batch (gen-2 docs + the 8 planted
    near-copies) against each generation. The graded row rides one
    shared signature pass for efficiency; this test is what makes that
    formulation honest."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _TEXT_GEN_PLANT,
        _TEXT_GEN_PLANT_BASE,
        near_text_flags,
        text_index_build,
        text_index_fold,
    )
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.sources import table

    registry.load_all()
    graded = {
        r["doc_id"]: (r["f_v1"], r["f_v2"])
        for r in registry.QUERIES["q_text_gen_fold"](spark, SMOKE_SF).collect()
    }

    d = table(spark, SMOKE_SF, "documents")
    base = d.select("doc_id", "lang", "text", hashing.inc_batch("doc_id").alias("g"))
    corpus = base.filter(F.col("g") >= 2).select("doc_id", "lang", "text")
    b1 = base.filter(F.col("g") == 0).select("doc_id", "lang", "text")
    b2 = base.filter(F.col("g") == 1).select("doc_id", "lang", "text")

    bands1, sets1 = text_index_build(corpus)
    bands1, sets1 = bands1.localCheckpoint(), sets1.localCheckpoint()
    f1 = near_text_flags(b1, bands1, sets1)
    admitted = b1.join(
        f1.filter(F.col("f_near_text") == 1).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    bands2, sets2 = text_index_fold(bands1, sets1, admitted)
    bands2, sets2 = bands2.localCheckpoint(), sets2.localCheckpoint()

    first_word = F.element_at(
        F.filter(F.split("text", " "), lambda w: w != ""), 1
    )
    planted = (
        admitted.orderBy("doc_id")
        .limit(_TEXT_GEN_PLANT)
        .select(
            (F.col("doc_id") + F.lit(_TEXT_GEN_PLANT_BASE)).alias("doc_id"),
            "lang",
            F.concat(
                F.col("text"), F.lit(" "), F.coalesce(first_word, F.lit("x"))
            ).alias("text"),
        )
    )
    probes = b2.unionByName(planted)
    v1 = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(probes, bands1, sets1).collect()
    }
    v2 = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(probes, bands2, sets2).collect()
    }
    want = {k: (v1[k], v2[k]) for k in v1}
    assert graded == want

    # the lifecycle invariants the graded row claims. Monotone flags
    # are a theorem ONLY while no band bucket crosses _MAX_BUCKET via
    # the fold (the per-generation cap re-derivation could then drop
    # a v1 bucket from v2) — assert that precondition first, so a
    # corpus change fails here with the right diagnosis rather than
    # as a baffling monotonicity break
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _MAX_BUCKET,
    )

    max_bucket = (
        bands2.groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= _MAX_BUCKET, (
        f"a fold-merged bucket crossed the cap ({max_bucket} > "
        f"{_MAX_BUCKET}) — the monotone-flags invariant below no "
        "longer holds by construction on this corpus"
    )
    assert all(a <= b for a, b in graded.values())
    plants = {
        k: v for k, v in graded.items() if k >= _TEXT_GEN_PLANT_BASE
    }
    assert len(plants) == _TEXT_GEN_PLANT
    assert all(v2f == 1 for _, v2f in plants.values())
    assert any(v1f == 0 for v1f, _ in plants.values())


# ---------------------------------------------------------------------------
# Round 14 (VERDICT r13 item 1): the TEXT index's delete path — the
# symmetry closure of the round-13 embedding-side tombstone work.
# ---------------------------------------------------------------------------


def test_text_index_compact_lifecycle(spark):
    """The round-13 recipe, delete direction: a near-copy of a
    TAKEN-DOWN doc is rejected by the v1 (pre-takedown) index —
    the bug the delete path fixes — and ADMITTED both post-compact
    (text_index_compact) and via the tombstone-aware probe
    (near_text_flags(takedowns=...), both bands_capped modes); a
    near-copy of a SURVIVING doc stays rejected under every
    formulation; and the compacted relations equal a cold build over
    the survivors row-for-row (the cold-equivalence the compact
    docstring claims)."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        near_text_flags,
        text_index_build,
        text_index_compact,
        text_index_freeze,
    )

    corpus = _corpus_docs(spark)  # docs 1..6, mutually dissimilar
    bands1, sets1 = text_index_build(corpus)
    bands1, sets1 = bands1.localCheckpoint(), sets1.localCheckpoint()
    takedowns = spark.createDataFrame([(1,)], "doc_id bigint")

    # near-copy of the taken-down doc 1 (one of 30 words replaced:
    # digest differs, Jaccard 29/31 >= 0.8) and of surviving doc 2
    def near_copy(pid: int, src: int):
        words = [f"w{src}x{j}" for j in range(30)]
        words[13] = "mutated"
        return _mkdoc(pid, words)

    probe = spark.createDataFrame(
        [near_copy(900, 1), near_copy(901, 2)], _SCHEMA
    )

    def flags(bands, sets, **kw):
        return {
            r["doc_id"]: r["f_near_text"]
            for r in near_text_flags(probe, bands, sets, **kw).collect()
        }

    # v1 full index: BOTH rejected — 900 because of a doc that no
    # longer exists (the bug)
    assert flags(bands1, sets1) == {900: 1, 901: 1}

    # post-compact: 900 admitted, 901 still rejected
    bands2, sets2 = text_index_compact(bands1, sets1, takedowns)
    assert flags(bands2, sets2) == {900: 0, 901: 1}

    # tombstone-aware probe, uncapped path: identical verdicts
    assert flags(bands1, sets1, takedowns=takedowns) == {900: 0, 901: 1}

    # tombstone-aware probe against the FROZEN capped view (the
    # streaming fast path)
    frozen = text_index_freeze(bands1).localCheckpoint()
    assert flags(
        frozen, sets1, bands_capped=True, takedowns=takedowns
    ) == {900: 0, 901: 1}

    # cold-equivalence: compact == cold build over the survivors
    cold_b, cold_s = text_index_build(
        corpus.filter(F.col("doc_id") != 1)
    )
    assert sorted(map(tuple, bands2.collect())) == sorted(
        map(tuple, cold_b.collect())
    )
    assert sorted(
        (r["doc_id"], r["lang"], r["n"], tuple(sorted(r["ws"])))
        for r in sets2.collect()
    ) == sorted(
        (r["doc_id"], r["lang"], r["n"], tuple(sorted(r["ws"])))
        for r in cold_s.collect()
    )


def test_near_text_probe_vs_compact_parity_on_graded_corpus(spark):
    """The two delete formulations — tombstone-aware probe of the
    frozen capped view vs probing the compacted index — agree exactly
    while no band bucket straddles _MAX_BUCKET (the documented cap
    boundary). Precondition asserted FIRST on the graded smoke corpus
    so a corpus regen fails with the right diagnosis."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _MAX_BUCKET,
        near_text_flags,
        text_index_build,
        text_index_compact,
        text_index_freeze,
    )
    from kafka_flink_exactlyonce_example_spark.sources import table

    d = table(spark, SMOKE_SF, "documents")
    base = d.select(
        "doc_id", "lang", "text",
        hashing.is_new("doc_id").alias("is_new"),
        hashing.is_del("doc_id").alias("is_del"),
    )
    corpus = base.filter(~F.col("is_new")).select("doc_id", "lang", "text")
    batch = base.filter(F.col("is_new")).select("doc_id", "lang", "text")
    takedowns = base.filter(
        ~F.col("is_new") & F.col("is_del")
    ).select("doc_id")

    bands, sets = text_index_build(corpus)
    bands, sets = bands.localCheckpoint(), sets.localCheckpoint()

    # cap precondition: every bucket of the FULL index under the cap
    # (then no bucket can straddle it in any survivor subset)
    max_bucket = (
        bands.groupBy("band_idx", "band_key").count().agg(F.max("count"))
    ).first()[0]
    assert max_bucket <= _MAX_BUCKET, (
        f"cap precondition broken (max bucket {max_bucket} > "
        f"{_MAX_BUCKET}): probe-vs-compact parity is no longer a "
        "theorem — re-examine q_text_tombstone's formulation"
    )

    frozen = text_index_freeze(bands).localCheckpoint()
    via_probe = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(
            batch, frozen, sets, bands_capped=True, takedowns=takedowns
        ).collect()
    }
    cb, cs = text_index_compact(bands, sets, takedowns)
    via_compact = {
        r["doc_id"]: r["f_near_text"]
        for r in near_text_flags(batch, cb, cs).collect()
    }
    assert via_probe == via_compact


def test_graded_text_tombstone_row_invariants(spark, registry_loaded):
    """q_text_tombstone's graded surface carries what its docstring
    claims, asserted on the smoke corpus: monotonicity f_surv <= f_all
    (under the cap precondition the sibling test pins), every planted
    probe flagged by the full index, every survivor-plant still
    flagged post-takedown (the hold), at least one deleted-doc plant
    admitted post-takedown (the flip), and both f_surv branches
    non-vacuous."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _TT_DEL_PLANT_BASE,
        _TT_SURV_PLANT_BASE,
    )

    rows = registry_loaded.QUERIES["q_text_tombstone"](
        spark, SMOKE_SF
    ).collect()
    assert all(r["f_surv"] <= r["f_all"] for r in rows), "monotonicity"
    dels = [
        r for r in rows
        if _TT_DEL_PLANT_BASE <= r["doc_id"] < _TT_SURV_PLANT_BASE
    ]
    survs = [r for r in rows if r["doc_id"] >= _TT_SURV_PLANT_BASE]
    assert len(dels) == 4 and len(survs) == 4
    assert all(r["f_all"] == 1 for r in dels + survs), "plants must hit v1"
    assert all(r["f_surv"] == 1 for r in survs), "survivor-plant hold"
    assert any(r["f_surv"] == 0 for r in dels), "deleted-plant flip"
    fs = {r["f_surv"] for r in rows}
    assert fs == {0, 1}, "both f_surv branches must be non-vacuous"


def test_repoint_manifest_executes_report_branches(spark, tmp_path, registry_loaded):
    """Round 14 (VERDICT r13 item 2): repoint_manifest CONSUMES the
    keeper-churn report — on the toy corpus whose branch structure
    test_dedup_tombstone_repoint_branch pins (re-pointed group,
    extinct group, keeper-survives group, untouched singleton), the
    post-wave manifest (a) re-points exactly the churned group, (b)
    drops the extinct group, (c) leaves every other keeper untouched,
    (d) never names a tombstoned doc, and (e) equals the cold
    keep-best recompute over survivors (the graded q_manifest_repoint
    claim, asserted here with every branch non-vacuous)."""
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        repoint_manifest,
    )
    QUERIES = registry_loaded.QUERIES

    # ids 1, 6, 7 are 'del:'-tagged; 0, 2, 3, 4, 5 are not
    rows = [
        (1, "en", "group a text"),   # keeper of group a — DELETED
        (2, "en", "group a text"),   # survivor -> new keeper
        (3, "en", "group a text"),
        (6, "en", "lonely text"),    # deleted singleton -> extinct
        (0, "en", "group b text"),   # keeper survives...
        (7, "en", "group b text"),   # ...a deleted non-keeper member
        (4, "en", "untouched text"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(f"{path}/documents.parquet")

    manifest = QUERIES["q_exact_dedup"](spark, path)
    report = QUERIES["q_dedup_tombstone"](spark, path)
    got = {
        r["text_hash"]: r["keep_doc_id"]
        for r in repoint_manifest(manifest, report).collect()
    }

    # cold recompute over survivors (the oracle's formulation)
    cold = {
        r["text_hash"]: r["keep_doc_id"]
        for r in docs.filter(~hashing.is_del("doc_id"))
        .groupBy(
            F.md5(F.lower(F.trim("text")).cast("binary")).alias("text_hash")
        )
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .collect()
    }
    assert got == cold
    # branch coverage: 3 groups survive (a re-pointed to 2, b kept at
    # 0, untouched kept at 4); the extinct singleton is gone
    assert sorted(got.values()) == [0, 2, 4]
    # the invariant: no tombstoned doc is ever named
    assert not {1, 6, 7} & set(got.values())
