"""Fixture preconditions of q_generation_roll's census (ADVICE r17
medium, ROADMAP item 5). Its v1 churn side reads the survivor-gated
gate verdict's ``neighbor_id`` instead of running ``frozen_top1``,
which keeps ``n_probes`` and ``n_changed`` exact only while

1. every 'inc:'-new ``vec_id`` is a ``doc_id`` (vec_id ⊆ doc_id), and
2. ``gate_flags_for(..., survivors_only=True)`` keeps exactly one row
   per batch doc (a NULL neighbor allowed).

A fixture that breaks either would shift the census while every other
key stays green, so both are asserted here, and each assert is shown to
fire on a doctored copy of the smoke fixture."""

from __future__ import annotations

import hashlib
import shutil
from collections import Counter

import duckdb
import pytest

from tests.conftest import ORACLE_SF, SMOKE_SF


def _check_gate_preconditions(spark, sf_dir: str) -> None:
    from kafka_flink_exactlyonce_example_spark.operators.dedup import _md5_mod_col
    from kafka_flink_exactlyonce_example_spark.operators.ingest import gate_flags_for
    from kafka_flink_exactlyonce_example_spark.operators.simsearch import _inc_tagged
    from kafka_flink_exactlyonce_example_spark.sources import table

    docs = table(spark, sf_dir, "documents")
    doc_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    new_vecs = {
        r.vec_id
        for r in _inc_tagged(spark, sf_dir).filter("is_new").select("vec_id").collect()
    }
    assert new_vecs, "the 'inc:' split selected no vectors"
    orphans = sorted(new_vecs - doc_ids)
    assert not orphans, f"'inc:'-new vec_ids that are not doc_ids: {orphans[:5]}"

    batch = {
        r.doc_id
        for r in docs.filter(_md5_mod_col("inc:", "doc_id", 10) == 0)
        .select("doc_id")
        .collect()
    }
    rows = Counter(
        r.doc_id
        for r in gate_flags_for(spark, sf_dir, survivors_only=True)
        .select("doc_id")
        .collect()
    )
    assert rows == Counter(batch), (
        "survivors_only gate frame must hold one row per batch doc: "
        f"missing {sorted(batch - set(rows))[:5]}, "
        f"repeated {sorted(d for d, n in rows.items() if n > 1)[:5]}"
    )


@pytest.mark.parametrize("sf_dir", [SMOKE_SF, ORACLE_SF])
def test_gate_preconditions_hold_on_fixtures(spark, sf_dir):
    _check_gate_preconditions(spark, sf_dir)


def _doctored_copy(tmp_path, table_name: str, sql: str) -> str:
    """Copy the smoke fixture to ``tmp_path`` and replace one table by
    ``sql`` over the original (read as ``t``)."""
    from kafka_flink_exactlyonce_example_spark.sources import TABLES

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for name in TABLES:
        shutil.copyfile(f"{SMOKE_SF}/{name}.parquet", sf_dir / f"{name}.parquet")
    path = sf_dir / f"{table_name}.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    con.close()
    return str(sf_dir)


def _is_inc_new(i: int) -> bool:
    """The 'inc:' split, as ``_md5_mod_col("inc:", id, 10) == 0``."""
    return int(hashlib.md5(f"inc:{i}".encode()).hexdigest()[:8], 16) % 10 == 0


def test_orphan_new_vector_fails_the_check(spark, tmp_path):
    orphan = next(i for i in range(10_000, 20_000) if _is_inc_new(i))
    sf_dir = _doctored_copy(
        tmp_path,
        "embeddings",
        f"SELECT * FROM t UNION ALL "
        f"SELECT {orphan} AS vec_id, embedding, label FROM t WHERE vec_id = 0",
    )
    with pytest.raises(AssertionError, match="not doc_ids"):
        _check_gate_preconditions(spark, sf_dir)


def test_repeated_batch_doc_fails_the_check(spark, tmp_path):
    batch_doc = next(i for i in range(500) if _is_inc_new(i))
    sf_dir = _doctored_copy(
        tmp_path,
        "documents",
        f"SELECT * FROM t UNION ALL SELECT * FROM t WHERE doc_id = {batch_doc}",
    )
    with pytest.raises(AssertionError, match="one row per batch doc"):
        _check_gate_preconditions(spark, sf_dir)
