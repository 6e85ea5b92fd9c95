"""The generation-roll orchestrator (round 14, VERDICT r13 item 3):
gate → digest/text/embedding folds (admits AND takedowns in one
window) → persist gen 2 → churn report → promote verdict GATING the
serving-pointer swap — with both verdict branches exercised and
streams restarting on whatever generation the pointer names."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from kafka_flink_exactlyonce_example_spark.functions import hashing

_SCHEMA = (
    "doc_id bigint, lang string, text string, "
    "label int, embedding array<float>"
)


def _doc(i, words, label, emb):
    return (i, "en", " ".join(words), label, emb)


def _toy_corpus(spark):
    # 8 mutually-dissimilar docs across 2 labels; embeddings spread so
    # every doc has a distinct, stable nearest neighbor
    rows = [
        _doc(
            i,
            [f"w{i}x{j}" for j in range(30)],
            i % 2,
            [1.0, 0.05 * i, 0.01 * ((i * i) % 7)],
        )
        for i in range(1, 9)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def _roll_window(spark):
    """The window: X fresh (admitted), N a near-copy of X (gen-1-blind
    on both the digest and text side -> ALSO admitted; its post-roll
    nearest neighbor becomes X, which is the churn the verdict
    thresholds), D a byte-copy of corpus doc 2 (rejected, f_exact).
    Takedown: corpus doc 1."""
    x_words = [f"fresh{j}" for j in range(30)]
    n_words = list(x_words)
    n_words[13] = "mutated"
    batch = spark.createDataFrame(
        [
            _doc(100, x_words, 0, [0.0, 1.0, 0.0]),
            _doc(101, n_words, 0, [0.0, 1.0, 0.02]),
            _doc(102, [f"w2x{j}" for j in range(30)], 0, [0.0, 0.0, 1.0]),
        ],
        _SCHEMA,
    )
    takedowns = spark.createDataFrame([(1,)], "doc_id bigint")
    return batch, takedowns


def test_generation_roll_verdict_gates_the_swap(spark, tmp_path):
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    lc.write_current(pointer, {"generation": gen1, "promote": 1})

    batch, takedowns = _roll_window(spark)

    # --- strict bar: the roll is BUILT but the swap is BLOCKED ------
    census_a = lc.corpus_generation_roll(
        spark, gen1, batch, takedowns,
        str(tmp_path / "gen2a"), pointer, max_churn=0.25,
    )
    assert census_a["n_batch"] == 3
    assert census_a["n_admitted"] == 2, "X and its near-copy are gen-1-blind"
    assert census_a["n_takedowns"] == 1
    assert census_a["n_postings_v1"] == 8
    assert census_a["n_postings_v2"] == 9  # 8 - 1 + 2
    assert census_a["n_probes"] == 3
    # N's post-roll neighbor is X (admitted together) and X's is N —
    # the fresh pair churns; the byte-copy D keeps its source
    assert census_a["n_changed"] == 2 and census_a["churn_frac"] == round(
        2 / 3, 6
    )
    assert census_a["promote"] is False
    assert census_a["serving"] == gen1
    assert lc.read_current(pointer)["generation"] == gen1, (
        "a failed verdict must not move serving"
    )
    # the artifact exists and is inspectable even though rejected
    assert os.path.isdir(str(tmp_path / "gen2a") + "/emb/postings")

    # --- lenient bar: same window, the swap happens -----------------
    census_b = lc.corpus_generation_roll(
        spark, gen1, batch, takedowns,
        str(tmp_path / "gen2b"), pointer, max_churn=0.70,
    )
    assert census_b["promote"] is True
    assert census_b["serving"] == str(tmp_path / "gen2b")
    assert lc.read_current(pointer)["generation"] == str(tmp_path / "gen2b")

    # --- generation-2 content invariants ----------------------------
    g2 = lc.load_generation(spark, str(tmp_path / "gen2b"))
    post_ids = {r["vec_id"] for r in g2["indexed"].select("vec_id").collect()}
    assert 1 not in post_ids, "tombstoned vector still in the postings"
    assert {100, 101} <= post_ids, "admitted vectors missing"
    assert 102 not in post_ids, "a rejected doc was indexed"
    dig_ids = {r["doc_id"] for r in g2["digests"].select("doc_id").collect()}
    assert 1 not in dig_ids and {100, 101} <= dig_ids
    set_ids = {r["doc_id"] for r in g2["sets"].select("doc_id").collect()}
    assert 1 not in set_ids and {100, 101} <= set_ids

    # --- streams restart on whatever the pointer names ---------------
    from kafka_flink_exactlyonce_example_spark.streaming.jobs import (
        ingest_gate_decisions,
    )

    probe_words = list([f"fresh{j}" for j in range(30)])
    probe_words[7] = "different"
    probe = spark.createDataFrame(
        [_doc(200, probe_words, 0, [0.3, 0.1, 0.9])], _SCHEMA
    ).select("doc_id", "lang", "text", "embedding")

    def gate_on(path):
        g = lc.load_generation(spark, path)
        return ingest_gate_decisions(
            probe, g["digests"].select("h").distinct(), g["cent"],
            g["seeds"], g["indexed"], 0.9,
            text_index=(g["bands"], g["sets"]),
        ).first()

    # under gen 1 the near-copy-of-X probe is blind-admitted; under
    # the promoted generation the folded text index rejects it
    assert gate_on(gen1)["admitted"] == 1
    now = gate_on(lc.read_current(pointer)["generation"])
    assert now["f_near_text"] == 1 and now["admitted"] == 0


def test_generation_carries_its_own_operating_table(spark, tmp_path):
    """VERDICT r13 item 5: a promoted generation ships with its OWN
    planner catalog. Gen 1 carries the shipped sf0.1 rows; the roll
    stamps gen 2 with rows DERIVED from the generation's corpus
    (tools/operating_table.py's derivation, run here at the smoke SF
    where the tiny corpus provably yields different rows), and
    ann_route's pick FOLLOWS the loaded table — at least one request
    resolves to a different operating point under the two catalogs."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import operating_table as ot

    from kafka_flink_exactlyonce_example_spark import lifecycle as lc
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _ANN_OPERATING_TABLE,
        ann_route,
    )

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    rows1, floor1 = lc.load_operating_table(gen1)
    assert rows1 == _ANN_OPERATING_TABLE

    derived = ot.derive(spark, SMOKE_SF)
    assert derived != _ANN_OPERATING_TABLE, (
        "the smoke corpus must derive different rows — if this ever "
        "matches, pick a different derivation corpus for the test"
    )
    batch, takedowns = _roll_window(spark)
    census = lc.corpus_generation_roll(
        spark, gen1, batch, takedowns,
        str(tmp_path / "gen2"), str(tmp_path / "CURRENT"),
        max_churn=1.0, catalog=derived, catalog_floor=0.5,
    )
    assert census["catalog_source"] == "derived"
    rows2, floor2 = lc.load_operating_table(str(tmp_path / "gen2"))
    assert rows2 == derived and floor2 == 0.5

    # the planner's pick follows the generation's table: scan a grid
    # of requests and require at least one divergent resolution
    grid = [
        (r / 100, b)
        for r in (20, 35, 50, 60, 80, 90, 95)
        for b in (100, 250, 400, 900, 1200, 2000)
    ]
    diverged = 0
    for target, budget in grid:
        def pick(table):
            try:
                return ann_route(target, budget, table=table)["index"], \
                    ann_route(target, budget, table=table)["param"]
            except ValueError:
                return ("refused", None)
        if pick(rows1) != pick(rows2):
            diverged += 1
    assert diverged > 0, "no request resolved differently — table inert"


def test_curate_post_takedown_invariants(spark, registry_loaded):
    """q_curate_post_takedown's docstring claims, asserted on the
    smoke corpus: no tombstoned doc is ever named as a keeper; a group
    whose members are all taken down is absent; and a group the wave
    did not touch keeps its pre-wave manifest row byte-for-byte
    (n_survivors == the pre-wave group_size — the incremental claim:
    only wave-touched groups can change)."""
    from kafka_flink_exactlyonce_example_spark.sources import table

    post = {
        r["doc_id"]: r
        for r in registry_loaded.QUERIES["q_curate_post_takedown"](
            spark, SMOKE_SF
        ).collect()
    }
    pre = {
        r["doc_id"]: r
        for r in registry_loaded.QUERIES["q_pipeline_curate"](
            spark, SMOKE_SF
        ).collect()
    }
    d = table(spark, SMOKE_SF, "documents")
    deleted = {
        r["doc_id"]
        for r in d.filter(hashing.is_del("doc_id")).select("doc_id").collect()
    }
    assert post, "post-wave manifest must not be empty"
    assert not deleted & set(post), "a tombstoned doc was named keeper"

    labels = {
        r["doc_id"]: r["group_id"]
        for r in registry_loaded.QUERIES["q_dup_groups"](
            spark, SMOKE_SF
        ).collect()
    }
    members: dict[int, set[int]] = {}
    for doc, g in labels.items():
        members.setdefault(g, set()).add(doc)
    extinct = {g for g, m in members.items() if m <= deleted}
    touched = {g for g, m in members.items() if m & deleted}
    for doc in post:
        assert labels[doc] not in extinct, "an extinct group survived"
    # untouched groups: identical keeper row, n_survivors == group_size
    untouched_pre = {
        doc: r
        for doc, r in pre.items()
        if labels[doc] not in touched
    }
    for doc, r in untouched_pre.items():
        assert doc in post, f"untouched keeper {doc} vanished"
        p = post[doc]
        assert (
            p["n_survivors"], p["n_tokens"], p["shard"], p["lang"], p["source"]
        ) == (
            r["n_dups_folded"], r["n_tokens"], r["shard"], r["lang"], r["source"]
        )
    # the wave is load-bearing on this corpus: at least one group
    # went extinct or re-pointed
    assert extinct or any(
        doc not in post for doc in pre if labels[doc] in touched
    ) or any(
        doc in post and post[doc]["n_survivors"] != pre[doc]["n_dups_folded"]
        for doc in pre
        if labels[doc] in touched
    )


def test_roll_admits_same_window_near_dup(spark, tmp_path):
    """Round 15 (VERDICT r14 item 1, the ORCHESTRATOR side): a batch
    doc that near-dups a doc being deleted in the SAME window is
    admitted by the roll's gate — before the thread it ghost-rejected
    for one full generation (the gate saw the un-compacted gen-1
    state). A near-copy of a SURVIVOR keeps dying in the same roll."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")

    w1 = [f"w1x{j}" for j in range(30)]
    w1[13] = "mutated"  # near-copy of corpus doc 1 (the takedown)
    w2 = [f"w2x{j}" for j in range(30)]
    w2[13] = "mutated"  # near-copy of corpus doc 2 (a survivor)
    batch = spark.createDataFrame(
        [
            _doc(300, w1, 0, [0.0, 1.0, 0.0]),
            _doc(301, w2, 0, [0.0, 1.0, 0.05]),
        ],
        _SCHEMA,
    )
    takedowns = spark.createDataFrame([(1,)], "doc_id bigint")
    census = lc.corpus_generation_roll(
        spark, gen1, batch, takedowns,
        str(tmp_path / "gen2"), pointer, max_churn=1.0,
    )
    assert census["n_admitted"] == 1, (
        "exactly the near-copy of the deleted doc must be admitted"
    )
    g2 = lc.load_generation(spark, str(tmp_path / "gen2"))
    post_ids = {r["vec_id"] for r in g2["indexed"].select("vec_id").collect()}
    assert 300 in post_ids, "same-window near-dup of the takedown rejected"
    assert 301 not in post_ids, "near-copy of a survivor admitted"
    assert 1 not in post_ids


def test_roll_chains_across_windows(spark, tmp_path):
    """Round 15 (VERDICT r14 item 2a): two consecutive rolls, window 2
    loading whatever the POINTER names. Content invariants after each
    hop: tombstoned ids of BOTH waves absent, all admits present, and
    the same-window thread still operates on a LOADED generation
    (window 2 admits a near-copy of a window-2-deleted doc)."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    lc.write_current(pointer, {"generation": gen1, "promote": 1})

    batch1, takedowns1 = _roll_window(spark)  # admits 100, 101; deletes 1
    census1 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], batch1, takedowns1,
        str(tmp_path / "gen2"), pointer, max_churn=1.0,
    )
    assert census1["promote"] is True
    assert lc.read_current(pointer)["generation"] == str(tmp_path / "gen2")

    # window 2: a fresh doc + a near-copy of corpus doc 2, which this
    # SAME window deletes — the thread must hold on the loaded gen 2
    w2 = [f"w2x{j}" for j in range(30)]
    w2[13] = "mutated"
    batch2 = spark.createDataFrame(
        [
            _doc(110, [f"other{j}" for j in range(30)], 1, [0.3, -0.2, 0.93]),
            _doc(111, w2, 0, [0.0, 0.8, 0.6]),
        ],
        _SCHEMA,
    )
    takedowns2 = spark.createDataFrame([(2,)], "doc_id bigint")
    census2 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], batch2, takedowns2,
        str(tmp_path / "gen3"), pointer, max_churn=1.0,
    )
    assert census2["n_admitted"] == 2, (
        "the fresh doc AND the near-copy of the same-window takedown"
    )
    assert census2["promote"] is True
    gen3 = lc.read_current(pointer)["generation"]
    assert gen3 == str(tmp_path / "gen3")

    g3 = lc.load_generation(spark, gen3)
    post_ids = {r["vec_id"] for r in g3["indexed"].select("vec_id").collect()}
    dig_ids = {r["doc_id"] for r in g3["digests"].select("doc_id").collect()}
    set_ids = {r["doc_id"] for r in g3["sets"].select("doc_id").collect()}
    for wave_id in (1, 2):
        assert wave_id not in post_ids, f"wave id {wave_id} in postings"
        assert wave_id not in dig_ids, f"wave id {wave_id} in digests"
        assert wave_id not in set_ids, f"wave id {wave_id} in text sets"
    for adm in (100, 101, 110, 111):
        assert adm in post_ids and adm in dig_ids and adm in set_ids


def test_roll_rejected_window_wave_merge_retry(spark, tmp_path):
    """Round 15 (VERDICT r14 item 2b, the documented WAVE-MERGE
    CONTRACT): window 1 is rejected by the strict bar (pointer stays
    on gen 1, its wave UNAPPLIED to serving); window 2 rolls from
    whatever the pointer names with the MERGED wave — batch = union of
    the unapplied and new batches, takedowns = union of the id-sets —
    and the composed roll promotes. Final content reflects BOTH
    windows exactly once."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    lc.write_current(pointer, {"generation": gen1, "promote": 1})

    batch1, takedowns1 = _roll_window(spark)  # churn 2/3 on this fixture
    census1 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], batch1, takedowns1,
        str(tmp_path / "gen2"), pointer, max_churn=0.25,
    )
    assert census1["promote"] is False
    assert lc.read_current(pointer)["generation"] == gen1

    # window 2's own wave: one fresh doc + one more takedown
    batch2 = spark.createDataFrame(
        [_doc(120, [f"late{j}" for j in range(30)], 1, [0.1, 0.2, 0.9])],
        _SCHEMA,
    )
    takedowns2 = spark.createDataFrame([(3,)], "doc_id bigint")
    # the merge: the docstring contract — union, distinct on doc_id
    merged_batch = batch1.unionByName(batch2).dropDuplicates(["doc_id"])
    merged_waves = takedowns1.unionByName(takedowns2)
    # every merged probe is new content far from the corpus, so the
    # composed window's churn is total by construction (each probe's
    # post-roll neighbor is another admit); the bar is not the
    # subject here — the MERGE composition is
    census2 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], merged_batch,
        merged_waves, str(tmp_path / "gen2r"), pointer, max_churn=1.0,
    )
    assert census2["n_takedowns"] == 2
    assert census2["promote"] is True
    gen = lc.read_current(pointer)["generation"]
    assert gen == str(tmp_path / "gen2r")

    g = lc.load_generation(spark, gen)
    post_ids = {r["vec_id"] for r in g["indexed"].select("vec_id").collect()}
    assert not ({1, 3} & post_ids), "both waves' ids must be gone"
    assert {100, 101, 120} <= post_ids, "both windows' admits present"
    assert 102 not in post_ids, "the byte-copy stays rejected"
    assert len(post_ids) == len(
        g["indexed"].select("vec_id").collect()
    ), "a replayed doc was indexed twice"


def test_delete_only_window_auto_probe_panel(spark, tmp_path):
    """Round 15 (VERDICT r14 item 3): a PURE-TAKEDOWN window is
    verdict-gated with zero hand-built probes. Geometry: label A holds
    p=[1,0,0] and q=[1,.3,0]; label B holds b1=[1,.1,0] (near p) and a
    far cluster at z≈[0,0,1]; label C holds one isolated doc. Deleting
    the isolated doc changes no survivor's answer → churn 0 → the
    strict bar PROMOTES. Deleting B's far cluster swings B's retrained
    centroid onto b1, so p re-routes to B (answer q→b1) and b1
    re-routes to its own emptied label (answer→NULL) → churn > bar →
    BLOCKED. auto_probe_panel=False restores the strict refusal."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    rows = [
        _doc(1, [f"pa{j}" for j in range(20)], 0, [1.0, 0.0, 0.0]),
        _doc(2, [f"qa{j}" for j in range(20)], 0, [1.0, 0.3, 0.0]),
        _doc(3, [f"ba{j}" for j in range(20)], 1, [1.0, 0.1, 0.0]),
        _doc(4, [f"bb{j}" for j in range(20)], 1, [0.0, 0.01, 1.0]),
        _doc(5, [f"bc{j}" for j in range(20)], 1, [0.0, 0.02, 1.0]),
        _doc(6, [f"bd{j}" for j in range(20)], 1, [0.0, 0.03, 1.0]),
        _doc(7, [f"be{j}" for j in range(20)], 1, [0.0, 0.04, 1.0]),
        _doc(8, [f"zz{j}" for j in range(20)], 2, [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, _SCHEMA)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    empty_batch = spark.createDataFrame([], _SCHEMA)

    # --- low churn: the isolated doc leaves → promote --------------
    census_low = lc.corpus_generation_roll(
        spark, gen1, empty_batch,
        spark.createDataFrame([(8,)], "doc_id bigint"),
        str(tmp_path / "gen2low"), pointer, max_churn=0.25,
    )
    assert census_low["n_batch"] == 0
    assert census_low["probe_panel"] == "auto_survivor"
    assert census_low["n_probes"] == 7, "panel = every survivor here"
    assert census_low["churn_frac"] == 0.0
    assert census_low["promote"] is True
    assert lc.read_current(pointer)["generation"] == str(
        tmp_path / "gen2low"
    )

    # --- high churn: B's far cluster leaves → blocked ---------------
    census_high = lc.corpus_generation_roll(
        spark, gen1, empty_batch,
        spark.createDataFrame([(4,), (5,), (6,), (7,)], "doc_id bigint"),
        str(tmp_path / "gen2high"), pointer, max_churn=0.25,
    )
    assert census_high["probe_panel"] == "auto_survivor"
    assert census_high["n_probes"] == 4
    assert census_high["n_changed"] >= 2, (
        "the centroid swing must churn p and b1"
    )
    assert census_high["promote"] is False
    # a blocked roll's pointer names the generation it rolled FROM
    # (gen1 here — this window is an alternative from the same base,
    # not a successor of gen2low)
    assert lc.read_current(pointer)["generation"] == gen1

    # --- the explicit-refusal flag still exists ---------------------
    census_off = lc.corpus_generation_roll(
        spark, gen1, empty_batch,
        spark.createDataFrame([(8,)], "doc_id bigint"),
        str(tmp_path / "gen2off"), pointer, max_churn=1.0,
        auto_probe_panel=False,
    )
    assert census_off["probe_panel"] == "batch"
    assert census_off["n_probes"] == 0
    assert census_off["promote"] is False


def test_roll_derived_catalog_from_generation_artifacts(spark, tmp_path):
    """Round 15 (VERDICT r14 item 4): catalog='derive' re-derives the
    planner rows from generation 2's OWN persisted artifacts, the
    census records catalog_source='derived', the stamped rows equal an
    independent :func:`derive_generation_table` run over the reloaded
    index, and the planner's pick FOLLOWS the derived table — every
    derived row resolves to itself at (its recall, its budget), which
    the shipped sf0.1 catalog cannot reproduce on this toy corpus."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _ANN_OPERATING_TABLE,
        ann_route,
        load_frozen_index,
    )

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    batch, takedowns = _roll_window(spark)
    census = lc.corpus_generation_roll(
        spark, gen1, batch, takedowns,
        str(tmp_path / "gen2"), str(tmp_path / "CURRENT"),
        max_churn=1.0, catalog="derive",
    )
    assert census["catalog_source"] == "derived"
    rows, _floor = lc.load_operating_table(str(tmp_path / "gen2"))
    again = lc.derive_generation_table(
        spark, *load_frozen_index(spark, str(tmp_path / "gen2") + "/emb")
    )
    assert rows == again, "stamped rows must equal the re-derivation"
    assert rows != _ANN_OPERATING_TABLE
    for kind, param, recall, cost in rows:
        pick = ann_route(recall, cost, table=rows)
        assert (pick["index"], pick["param"]) == (kind, param) or (
            pick["cand_per_probe"] <= cost and pick["recall"] >= recall
        ), "the pick must follow the generation's own table"


def test_derived_catalog_graded_row_matches_api(spark, registry_loaded):
    """q_derived_catalog re-expresses derive_generation_table as one
    lazy DataFrame program; this pins that the graded rows equal the
    REAL API run on the same frozen gen-1 frames (modulo the API's
    cheapest-first sort) — what keeps the graded arithmetic and the
    roll's catalog='derive' branch from ever diverging."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _inc_tagged,
        inc_index_build,
    )

    graded = sorted(
        tuple(r)
        for r in registry_loaded.QUERIES["q_derived_catalog"](
            spark, SMOKE_SF
        ).collect()
    )
    cent, seeds = inc_index_build(spark, SMOKE_SF)
    members = (
        _inc_tagged(spark, SMOKE_SF)
        .filter(~F.col("is_new"))
        .select("vec_id", "label", "embedding")
    )
    api = lc.derive_generation_table(
        spark, cent, seeds, _assign_to_seeds(members, seeds)
    )
    assert graded == sorted(api) and len(graded) == 4
    # non-degenerate: recall strictly increases with depth and the
    # scan cost with it
    by_depth = sorted(graded, key=lambda r: r[1])
    recalls = [r[2] for r in by_depth]
    costs = [r[3] for r in by_depth]
    assert recalls == sorted(recalls) and costs == sorted(costs)
    assert recalls[-1] > recalls[0]


def test_roll_delete_only_graded_row_invariants(spark, registry_loaded):
    """q_roll_delete_only's census consistency on the smoke fixtures:
    the wave partitions the corpus exactly, the panel is the
    md5-TakeOrdered survivor panel (the same recipe the roll's
    auto_probe_panel derives), and both verdict branches are live
    (strict blocks, lenient promotes — the measured ~1/3 panel churn
    of the id-uniform wave's centroid drift)."""
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _RECALL_PROBES,
        _inc_tagged,
        md5_panel,
    )

    row = registry_loaded.QUERIES["q_roll_delete_only"](
        spark, SMOKE_SF
    ).first()
    assert row["n_old"] == row["n_takedowns"] + row["n_survivors"]
    assert row["n_probes"] == min(_RECALL_PROBES, row["n_survivors"])
    assert 0 < row["n_changed"] < row["n_probes"]
    assert (row["promote_strict"], row["promote_lenient"]) == (0, 1), (
        "both verdict branches must be live on the graded fixtures"
    )
    surv = (
        _inc_tagged(spark, SMOKE_SF)
        .filter(~F.col("is_new"))
        .filter(~hashing.is_del("vec_id"))
        .select("vec_id", "embedding")
    )
    panel_ids = {r["vec_id"] for r in md5_panel(surv).collect()}
    assert len(panel_ids) == row["n_probes"]


def test_catalog_typo_rejected_before_persisting(spark, tmp_path):
    """ADVICE r15: any string other than the literal 'derive' is a
    typo — before the guard, save_operating_table iterated the string
    character-wise, persisted a corrupt operating_table.json into the
    gen-2 artifacts, and the roll crashed one step later in
    load_generation with an opaque tuple-unpack ValueError. The guard
    must fire BEFORE anything is persisted."""
    import pytest

    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    batch, takedowns = _roll_window(spark)
    gen2 = str(tmp_path / "gen2")
    with pytest.raises(ValueError, match="derive"):
        lc.corpus_generation_roll(
            spark, gen1, batch, takedowns, gen2,
            str(tmp_path / "CURRENT"), catalog="derived",
        )
    assert not os.path.isdir(gen2), "a rejected typo persisted artifacts"


def test_caller_member_probes_self_exclude(spark, tmp_path):
    """ADVICE r15: a CALLER-supplied panel of generation members (the
    pre-round-15 delete-only recipe) gets the same self-excluded v1
    path as the auto panel under probes_are_members=True — without the
    flag every member probe reports itself as nb_v1 and counts as
    churned (spurious ~100% churn, guaranteed refusal). Geometry: the
    test_delete_only_window_auto_probe_panel low-churn wave (deleting
    the isolated doc changes no survivor's answer)."""
    import pytest

    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    rows = [
        _doc(1, [f"pa{j}" for j in range(20)], 0, [1.0, 0.0, 0.0]),
        _doc(2, [f"qa{j}" for j in range(20)], 0, [1.0, 0.3, 0.0]),
        _doc(3, [f"ba{j}" for j in range(20)], 1, [1.0, 0.1, 0.0]),
        _doc(4, [f"bb{j}" for j in range(20)], 1, [0.0, 0.01, 1.0]),
        _doc(5, [f"bc{j}" for j in range(20)], 1, [0.0, 0.02, 1.0]),
        _doc(8, [f"zz{j}" for j in range(20)], 2, [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, _SCHEMA)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    empty_batch = spark.createDataFrame([], _SCHEMA)
    wave = spark.createDataFrame([(8,)], "doc_id bigint")
    member_panel = corpus.filter(F.col("doc_id") != 8).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )

    flagged = lc.corpus_generation_roll(
        spark, gen1, empty_batch, wave, str(tmp_path / "g2a"), pointer,
        max_churn=0.25, probes=member_panel, probes_are_members=True,
    )
    assert flagged["probe_panel"] == "caller_member"
    assert flagged["n_probes"] == 5
    assert flagged["churn_frac"] == 0.0 and flagged["promote"] is True

    # without the flag: the documented silent failure mode — every
    # member finds itself on the v1 side and reads as churned
    unflagged = lc.corpus_generation_roll(
        spark, gen1, empty_batch, wave, str(tmp_path / "g2b"), pointer,
        max_churn=0.25, probes=member_panel,
    )
    assert unflagged["probe_panel"] == "caller"
    # every probe that routes to its OWN posting cell self-reports as
    # nb_v1 and reads as churned; doc 3 ([1,.1,0], lake label 1) is
    # geometrically nearest label 0's centroid, cross-routes, never
    # sees itself, and keeps its answer — hence 4 of 5, still a
    # spurious wave (the true churn of this window is 0)
    assert unflagged["n_probes"] == 5 and unflagged["n_changed"] == 4
    assert unflagged["promote"] is False

    # the flag without a panel is a contradiction — loud, not ignored
    with pytest.raises(ValueError, match="probes_are_members"):
        lc.corpus_generation_roll(
            spark, gen1, empty_batch, wave, str(tmp_path / "g2c"),
            pointer, probes_are_members=True,
        )


def test_derive_drops_zero_candidate_depths(spark):
    """ADVICE r15: derive_generation_table and q_derived_catalog (and
    its oracle) must agree at the zero-candidate edge. On a 2-member /
    2-label generation, depth 1 routes each panel probe to its OWN
    label whose only member is itself (self-excluded) — zero
    candidates — so the API drops the depth-1 row exactly as the
    graded row's inner join does, instead of shipping a (recall 0.0,
    cost 0) row that would sort cheapest-first."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc
    from kafka_flink_exactlyonce_example_spark.operators.dedup import (
        _assign_to_seeds,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        frozen_index_frames,
    )

    vecs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0]),
            (2, 1, [0.0, 1.0, 0.0]),
        ],
        "vec_id bigint, label int, embedding array<float>",
    )
    cent, seeds = frozen_index_frames(vecs)
    seeds = seeds.localCheckpoint()
    rows = lc.derive_generation_table(
        spark, cent, seeds, _assign_to_seeds(vecs, seeds)
    )
    assert rows, "a 2-member generation still offers depth-2+ routes"
    assert all(r[1] >= 2 for r in rows), (
        f"zero-candidate depth 1 must be dropped, got {rows}"
    )
    assert all(r[3] > 0 for r in rows)

    # a 1-member generation has no self-excluded truth and so no
    # candidates at any depth: the inner joins leave the EMPTY table
    one = vecs.filter(F.col("vec_id") == 1)
    cent1, seeds1 = frozen_index_frames(one)
    seeds1 = seeds1.localCheckpoint()
    assert lc.derive_generation_table(
        spark, cent1, seeds1, _assign_to_seeds(one, seeds1)
    ) == ()


def test_derive_chains_across_generations(spark, tmp_path):
    """Round 16 (VERDICT r15 item 5 / 'what's missing' #5): a chained
    gen-1 → gen-2 → gen-3 roll with catalog='derive' at EACH hop —
    every generation re-derives the planner table from its OWN just-
    persisted artifacts, the stamped rows equal an independent
    derivation over the reloaded index at every hop, the planner
    provably follows the NEWEST table (each derived row resolves to
    itself under its own generation's table), and the two tables
    differ across hops when the corpus changed (the staleness the
    carried default would have hidden)."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        ann_route,
        load_frozen_index,
    )

    corpus = _toy_corpus(spark)
    gen1 = str(tmp_path / "gen1")
    lc.init_generation(spark, gen1, corpus)
    pointer = str(tmp_path / "CURRENT")
    lc.write_current(pointer, {"generation": gen1, "promote": 1})

    batch1, takedowns1 = _roll_window(spark)  # admits 100, 101; deletes 1
    census1 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], batch1, takedowns1,
        str(tmp_path / "gen2"), pointer, max_churn=1.0, catalog="derive",
    )
    assert census1["catalog_source"] == "derived"
    assert lc.read_current(pointer)["generation"] == str(tmp_path / "gen2")

    # window 2: new content + another takedown, rolled FROM the loaded
    # gen 2 (whatever the pointer names), deriving again
    batch2 = spark.createDataFrame(
        [
            _doc(110, [f"other{j}" for j in range(30)], 1, [0.3, -0.2, 0.93]),
            _doc(111, [f"more{j}" for j in range(30)], 0, [0.0, 0.8, 0.6]),
        ],
        _SCHEMA,
    )
    takedowns2 = spark.createDataFrame([(2,)], "doc_id bigint")
    census2 = lc.corpus_generation_roll(
        spark, lc.read_current(pointer)["generation"], batch2, takedowns2,
        str(tmp_path / "gen3"), pointer, max_churn=1.0, catalog="derive",
    )
    assert census2["catalog_source"] == "derived"
    assert lc.read_current(pointer)["generation"] == str(tmp_path / "gen3")

    # each hop's stamped table equals an independent re-derivation of
    # that generation's own reloaded artifacts, and the planner's pick
    # follows the generation it serves
    for gen in ("gen2", "gen3"):
        rows, _floor = lc.load_operating_table(str(tmp_path / gen))
        again = lc.derive_generation_table(
            spark, *load_frozen_index(spark, str(tmp_path / gen) + "/emb")
        )
        assert rows == again, f"{gen}: stamped rows must equal re-derivation"
        for kind, param, recall, cost in rows:
            pick = ann_route(recall, cost, table=rows)
            assert (pick["index"], pick["param"]) == (kind, param) or (
                pick["cand_per_probe"] <= cost and pick["recall"] >= recall
            ), f"{gen}: the pick must follow this generation's table"

    rows2, _ = lc.load_operating_table(str(tmp_path / "gen2"))
    rows3, _ = lc.load_operating_table(str(tmp_path / "gen3"))
    assert rows2 != rows3, (
        "the corpus changed between hops — identical tables would mean "
        "the chain re-derived from a stale generation"
    )


def test_derived_catalog2_graded_row_matches_api(spark, registry_loaded):
    """q_derived_catalog2 re-expresses the derivation AT THE ROLLED
    gen-2 state; this pins that the graded rows equal the REAL
    :func:`derive_generation_table` run on the same gen-2 frames
    (modulo the API's cheapest-first sort) — so the graded arithmetic
    and what a catalog='derive' roll actually stamps at the chained
    state can never diverge."""
    from kafka_flink_exactlyonce_example_spark import lifecycle as lc

    graded = sorted(
        tuple(r)
        for r in registry_loaded.QUERIES["q_derived_catalog2"](
            spark, SMOKE_SF
        ).collect()
    )
    x2, _p, _rankr, _truth = lc._dc2_frames(spark, SMOKE_SF)
    # rebuild the router the same way the frames builder did
    from kafka_flink_exactlyonce_example_spark.operators.ingest import (
        gate_flags_for,
    )
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import (
        _inc_tagged,
        frozen_centroids,
        frozen_route,
        inc_index_build,
        tombstone_filter,
    )

    flags = gate_flags_for(spark, SMOKE_SF, survivors_only=True)
    cent1, seeds1 = inc_index_build(spark, SMOKE_SF)
    tagged = _inc_tagged(spark, SMOKE_SF)
    old = tagged.filter(~F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    new = tagged.filter(F.col("is_new")).select(
        "vec_id", "label", "embedding"
    )
    tomb = old.filter(hashing.is_del("vec_id")).select("vec_id")
    adm = new.join(
        flags.filter(F.col("admitted") == 1)
        .select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    ).localCheckpoint()
    surv = tombstone_filter(old, tomb)
    merged = surv.unionByName(adm)
    api = lc.derive_generation_table(
        spark, frozen_centroids(merged), seeds1, x2
    )
    assert graded == sorted(api) and len(graded) == 4
    by_depth = sorted(graded, key=lambda r: r[1])
    recalls = [r[2] for r in by_depth]
    costs = [r[3] for r in by_depth]
    assert recalls == sorted(recalls) and costs == sorted(costs)
