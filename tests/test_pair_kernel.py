"""Focused tests for the r13 segment-vectorized pair kernels: the
grouped pair scorer (operators/similarity._grouped_pair_scores — the
banded near-dup and embedding-gate verify engine) and the
driver-side winner resolution in registry_winner_verdicts.

The broader bit-identity evidence lives in tools/arrowfold_equiv.py
(hex-compared against the SQL folds over the real corpora); these
tests pin the SEMANTIC contracts that the join forms enforced
structurally: pair orientation, side rules, zero-norm NULL-division
behavior, multi-batch segment carry, and registry-first-arrival
winner selection.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


def _vec(*xs):
    return [float(x) for x in xs]


def _scores(spark, rows, side=False, dim=2, n_groups_partitions=None):
    from nfl_data_pipeline_spark.operators.similarity import (
        _grouped_pair_scores,
    )

    schema = "g int, c_id long, c_vec array<double>, c_norm double" + (
        ", c_side int" if side else ""
    )
    df = spark.createDataFrame(rows, schema)
    out = _grouped_pair_scores(
        df, ["g"], dim, side_col="c_side" if side else None
    )
    return {
        (r["a_id"], r["b_id"]): r["cosine"] for r in out.collect()
    }


def test_unsided_pairs_once_lower_id_first(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n),
        (1, 30, _vec(1, 1), n),
        (1, 20, _vec(1, 1), n),
        (2, 7, _vec(1, 0), 1.0),  # singleton group: no pairs
    ]
    got = _scores(spark, rows)
    assert set(got) == {(10, 20), (10, 30), (20, 30)}
    for v in got.values():
        assert v == pytest.approx(1.0)


def test_sided_never_pairs_registry_rows(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n, 0),   # probe
        (1, 20, _vec(1, 1), n, 0),   # probe
        (1, 100, _vec(1, 1), n, 1),  # registry
        (1, 200, _vec(1, 1), n, 1),  # registry
    ]
    got = _scores(spark, rows, side=True)
    # probe-probe once (a<b), each probe x each registry — and NO
    # (100, 200) registry-registry pair
    assert set(got) == {(10, 20), (10, 100), (10, 200), (20, 100), (20, 200)}


def test_sided_replay_same_id_excluded(spark):
    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n, 0),
        (1, 10, _vec(1, 1), n, 1),  # the SAME doc already registered
        (1, 20, _vec(1, 1), n, 0),
    ]
    got = _scores(spark, rows, side=True)
    # (10, 10) excluded; (10, 20) probe-probe; (20, 10) probe-registry
    assert set(got) == {(10, 20), (20, 10)}


def test_zero_norm_pairs_dropped_like_sql_null_division(spark):
    rows = [
        (1, 10, _vec(0, 0), 0.0),
        (1, 20, _vec(1, 1), math.sqrt(2.0)),
    ]
    got = _scores(spark, rows)
    # SQL: dot/0.0 is NULL (not NaN/inf) and the threshold filter
    # drops it — the kernel must not emit the pair at all
    assert got == {}


def test_short_and_null_vectors_skipped(spark):
    rows = [
        (1, 10, _vec(1), 1.0),        # shorter than dim
        (1, 20, None, None),          # NULL vector
        (1, 30, _vec(1, 0), 1.0),
        (1, 40, _vec(0, 1), 1.0),
    ]
    got = _scores(spark, rows)
    assert set(got) == {(30, 40)}
    assert got[(30, 40)] == pytest.approx(0.0)


def test_segment_carry_across_arrow_batches(spark):
    # force tiny Arrow batches so one group spans several batches;
    # the carry must keep its pair set complete
    import numpy as np

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        m = 25
        rows = [(1, i, _vec(1, 1), math.sqrt(2.0)) for i in range(m)]
        got = _scores(spark, rows)
        assert len(got) == m * (m - 1) // 2
        assert all(a < b for a, b in got)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )


def test_winner_verdicts_driver_path_matches_contract(spark):
    from nfl_data_pipeline_spark.operators.dedup import (
        registry_winner_verdicts,
    )
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    base = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (9,)], "doc_id long"
    )
    # component {1, 2, 100(reg), 200(reg)} -> winner 100 (min REG, not
    # min node); component {3, 4} -> winner 3 (min node); 9 untouched
    edges = spark.createDataFrame(
        [(1, 2), (1, 100), (2, 200), (3, 4)], "doc_a long, doc_b long"
    )
    reg = spark.createDataFrame(
        [(100, 1), (200, 1)], "doc_id long, _reg int"
    )
    got = {
        r["doc_id"]: (r["dup_of"], r["keep"])
        for r in registry_winner_verdicts(
            spark, base, edges, reg
        ).collect()
    }
    assert got == {
        1: (100, 0),
        2: (100, 0),
        3: (3, 1),
        4: (3, 0),
        9: (9, 1),
    }


def test_winner_verdicts_no_registry(spark):
    from nfl_data_pipeline_spark.operators.dedup import (
        registry_winner_verdicts,
    )

    base = spark.createDataFrame([(5,), (6,), (7,)], "doc_id long")
    edges = spark.createDataFrame([(6, 7)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["dup_of"], r["keep"])
        for r in registry_winner_verdicts(
            spark, base, edges, None
        ).collect()
    }
    assert got == {5: (5, 1), 6: (6, 1), 7: (6, 0)}


def test_winner_verdicts_only_reg_1_nodes_win(spark, monkeypatch):
    """Registry membership is ``_reg == 1`` on both paths. A ``_reg =
    0`` node must not win its component, even as its min id, and the
    driver path and the forced distributed fallback give equal
    verdicts."""
    from nfl_data_pipeline_spark.operators import dedup

    base = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    # component {1, 0, 100}: 0 is _reg = 0, 100 is registered → 100;
    # component {3, 4, 60}: no registered node → min node 3, not 60
    edges = spark.createDataFrame(
        [(0, 1), (1, 100), (3, 4), (3, 60)], "doc_a long, doc_b long"
    )
    reg = spark.createDataFrame(
        [(0, 0), (100, 1), (60, 0)], "doc_id long, _reg int"
    )

    def verdicts():
        return {
            r["doc_id"]: (r["dup_of"], r["keep"])
            for r in dedup.registry_winner_verdicts(
                spark, base, edges, reg
            ).collect()
        }

    driver = verdicts()
    with monkeypatch.context() as m:
        m.setattr(dedup, "_union_find_rows", lambda *a, **k: None)
        fallback = verdicts()
    assert driver == {1: (100, 0), 2: (2, 1), 3: (3, 1), 4: (3, 0)}
    assert fallback == driver


def test_texthash_engine_dial_is_bit_identical(spark, monkeypatch):
    """SPARK_GRAFT_TEXTHASH_ENGINE=arrow must reproduce the SQL text
    hash pipeline exactly — sids element ORDER included (the gate
    registries and oracle hashes must not depend on the dial)."""
    from nfl_data_pipeline_spark.operators.dedup import (
        with_minhash_signature,
        with_shingle_ids,
    )
    from nfl_data_pipeline_spark.operators.hashing import (
        gate_minhash_perms,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta alpha beta gamma"),
            (2, "x y"),
            (3, None),
            (4, "répète répète répète répète"),
        ],
        "doc_id long, text string",
    )
    perms = gate_minhash_perms(8)

    def snap():
        sids = with_shingle_ids(docs).select("doc_id", "sids")
        sig = with_minhash_signature(sids, perms)
        return {
            r["doc_id"]: (
                list(r["sids"]),
                tuple(r[f"mh{i}"] for i in range(8)),
            )
            for r in sig.collect()
        }

    monkeypatch.delenv("SPARK_GRAFT_TEXTHASH_ENGINE", raising=False)
    sql_snap = snap()
    monkeypatch.setenv("SPARK_GRAFT_TEXTHASH_ENGINE", "arrow")
    arrow_snap = snap()
    assert sql_snap == arrow_snap
