"""Focused tests for the segment-vectorized kernels: the grouped
pair scorer (operators/similarity._grouped_pair_scores — the banded
near-dup, embedding-gate and semantic-dedup pair engine), the
driver-side winner resolution in dedup.gate_verdicts, and the
text-hash Arrow kernels (operators/arrowfold).

The semantic contracts the join forms enforced structurally are
pinned here: pair orientation, side rules, zero-norm NULL-division
behavior, multi-batch segment carry and registry-first-arrival winner
selection. The bit-identity evidence is here too: both sides of the
banded operator's kernel gate and the text-hash dial are compared
exactly over the smoke corpora plus NULL/empty/ragged edges, and
semantic dedup is compared against its join form.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from tests.conftest import SF_SMOKE

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


def test_sided_replay_same_id_is_a_membership_row(spark):
    from nfl_data_pipeline_spark.operators.similarity import (
        _grouped_pair_scores,
    )

    n = math.sqrt(2.0)
    rows = [
        (1, 10, _vec(1, 1), n, 0),
        (1, 10, _vec(1, 1), n, 1),  # the SAME doc already registered
        (1, 20, _vec(1, 1), n, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "g int, c_id long, c_vec array<double>, c_norm double, c_side int",
    )
    got = {
        (r["a_id"], r["b_id"], r["b_side"])
        for r in _grouped_pair_scores(df, ["g"], 2, side_col="c_side")
        .collect()
    }
    # (10, 10) probe meets its own registry row; (10, 20) probe-probe;
    # (20, 10) probe-registry
    assert got == {(10, 10, 1), (10, 20, 0), (20, 10, 1)}


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


def _winners(spark, base_ids, cands):
    from nfl_data_pipeline_spark.operators.dedup import gate_verdicts

    base = spark.createDataFrame([(i,) for i in base_ids], "doc_id long")
    frame = spark.createDataFrame(cands, "doc_a long, doc_b long, b_reg int")
    verdicts, _ = gate_verdicts(spark, base, frame)
    return {r["doc_id"]: (r["dup_of"], r["keep"]) for r in verdicts.collect()}


def test_winner_verdicts_driver_path_matches_contract(spark):
    # component {1, 2, 100(reg), 200(reg)} -> winner 100 (min REG, not
    # min node); component {3, 4} -> winner 3 (min node); 9 untouched
    got = _winners(
        spark,
        [1, 2, 3, 4, 9],
        [(1, 2, 0), (1, 100, 1), (2, 200, 1), (3, 4, 0)],
    )
    assert got == {
        1: (100, 0),
        2: (100, 0),
        3: (3, 1),
        4: (3, 0),
        9: (9, 1),
    }


def test_winner_verdicts_no_registry(spark):
    got = _winners(spark, [5, 6, 7], [(6, 7, 0)])
    assert got == {5: (5, 1), 6: (6, 1), 7: (6, 0)}


def test_winner_verdicts_only_reg_1_nodes_win(spark, monkeypatch):
    """Registry membership is ``b_reg == 1`` on both paths. A ``b_reg
    = 0`` node must not win its component, even as its min id, and the
    driver path and the forced distributed fallback give equal
    verdicts."""
    from nfl_data_pipeline_spark.operators import dedup

    # component {1, 0, 100}: 0 is b_reg = 0, 100 is registered → 100;
    # component {3, 4, 60}: no registered node → min node 3, not 60
    cands = [(1, 0, 0), (1, 100, 1), (3, 4, 0), (3, 60, 0)]
    driver = _winners(spark, [1, 2, 3, 4], cands)
    with monkeypatch.context() as m:
        m.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
        fallback = _winners(spark, [1, 2, 3, 4], cands)
    assert driver == {1: (100, 0), 2: (2, 1), 3: (3, 1), 4: (3, 0)}
    assert fallback == driver


def test_texthash_engine_dial_is_bit_identical(spark, monkeypatch):
    """SPARK_GRAFT_TEXTHASH_ENGINE=arrow must reproduce the SQL text
    hash pipeline exactly — sids element ORDER included (the gate
    registries and oracle hashes must not depend on the dial) — over
    the smoke documents corpus plus NULL, empty, unicode and
    whitespace texts, at n = 2, 3 and 5, and for empty and NULL sids."""
    from nfl_data_pipeline_spark.operators.dedup import (
        with_minhash_signature,
        with_shingle_ids,
    )
    from nfl_data_pipeline_spark.operators.hashing import (
        gate_minhash_perms,
    )

    edge = 10**9
    edge_docs = spark.createDataFrame(
        [
            (edge + 1, "alpha beta gamma delta alpha beta gamma"),
            (edge + 2, "x y"),
            (edge + 3, None),
            (edge + 4, "répète répète répète répète"),
            (edge + 5, ""),
            (edge + 6, "a  b  c  d "),
            (edge + 7, "héllo wörld ünïcode test é́ x"),
            (edge + 8, " leading and trailing "),
        ],
        "doc_id long, text string",
    )
    docs = (
        load(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .unionByName(edge_docs)
    )
    # rows whose sids are empty or NULL: every array_min is NULL
    edge_sids = spark.createDataFrame(
        [(edge + 20, []), (edge + 21, None)], "doc_id long, sids array<bigint>"
    )
    perms = gate_minhash_perms(32)

    def snap():
        out = {}
        for n in (2, 3, 5):
            sids = with_shingle_ids(docs, "text", n).select("doc_id", "sids")
            if n == 3:
                sig = with_minhash_signature(
                    sids.unionByName(edge_sids), perms
                )
                out["sig"] = {
                    r["doc_id"]: tuple(r[f"mh{i}"] for i in range(32))
                    for r in sig.collect()
                }
            out[n] = {r["doc_id"]: list(r["sids"]) for r in sids.collect()}
        return out

    monkeypatch.delenv("SPARK_GRAFT_TEXTHASH_ENGINE", raising=False)
    sql_snap = snap()
    monkeypatch.setenv("SPARK_GRAFT_TEXTHASH_ENGINE", "arrow")
    arrow_snap = snap()
    assert sql_snap == arrow_snap
    assert len(sql_snap[3]) == docs.count()
    assert sql_snap["sig"][edge + 20] == sql_snap["sig"][edge + 21] == (
        (None,) * 32
    )


def _with_edge_vectors(spark, emb, dim, base_id):
    """``emb`` plus four width-contract edges: a NULL vector, one a
    dimension short, one three dimensions long and an all-zero one."""
    return emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [
                (base_id, None),
                (base_id + 1, [0.5] * (dim - 1)),
                (base_id + 2, [0.5] * (dim + 3)),
                (base_id + 3, [0.0] * dim),
            ],
            "vec_id long, embedding array<float>",
        )
    )


def test_banded_pair_gate_sides_agree(spark, monkeypatch):
    """Both sides of embedding_near_dups_banded's pair-stage gate — the
    band self-join and the grouped kernel — give the same pairs with
    hex-equal cosines, width edges included: a NULL, short or all-zero
    vector is never paired, and a long one is scored on ``vec[:dim]``."""
    from nfl_data_pipeline_spark.operators import similarity

    emb = load(spark, SF_SMOKE, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    edge = 4 * 10**9
    df = _with_edge_vectors(spark, emb, dim, edge)

    def pairs(min_rows):
        monkeypatch.setattr(similarity, "PAIR_KERNEL_MIN_ROWS", min_rows)
        out = similarity.embedding_near_dups_banded(
            df, threshold=-2.0, band_bits=4, n_bands=2, dim=dim
        )
        return {
            (r["vec_a"], r["vec_b"]): r["cosine"].hex()
            for r in out.collect()
        }

    kernel = pairs(0)
    join = pairs(10**12)
    assert kernel == join
    assert len(join) > 1000
    ids = {i for pair in join for i in pair}
    assert edge + 2 in ids
    assert not ids & {edge, edge + 1, edge + 3}


def test_arrow_band_engine_follows_width_contract(spark):
    """The matmul band projector applies the SQL width rule: project
    ``vec[:dim]``; a NULL or short vector gets all-zero band values."""
    from nfl_data_pipeline_spark.operators.similarity import (
        hyperplane_band_struct,
    )

    emb = load(spark, SF_SMOKE, "embeddings").filter("vec_id < 40")
    dim = emb.select(F.size("embedding")).first()[0]
    edge = 5 * 10**9
    df = _with_edge_vectors(spark, emb, dim, edge)
    got = {
        engine: {
            r["c_id"]: list(r["_hbs"])
            for r in hyperplane_band_struct(
                df, "vec_id", "embedding", 8, 4, dim, engine=engine
            ).collect()
        }
        for engine in ("sql", "arrow")
    }
    assert got["arrow"] == got["sql"]
    for i in (edge, edge + 1, edge + 3):
        assert got["sql"][i] == [0, 0, 0, 0]
    with pytest.raises(ValueError, match="engine"):
        hyperplane_band_struct(
            df, "vec_id", "embedding", 8, 4, dim, engine="matmul"
        )


def _semantic_dedup_join_form(probed, threshold):
    """The pair/drop stage as a self-join on the cell id: pairs with a
    lower id first and at least one member in its primary cell (rn =
    1), cosine = fold dot over the norm product, the larger id
    dropped. Returns ``{vid: (cid, cluster_size, is_kept)}``."""
    from nfl_data_pipeline_spark.operators.hashing import sp_dot
    from nfl_data_pipeline_spark.operators.similarity import with_norm

    n = with_norm(probed, "vec")

    def leg(p):
        return n.select(
            F.col("vid").alias(f"{p}_vid"),
            F.col("vec").alias(f"{p}_vec"),
            F.col("norm").alias(f"{p}_norm"),
            F.col("rn").alias(f"{p}_rn"),
            "cid",
        )

    dropped = {
        r["b_vid"]
        for r in leg("a")
        .join(leg("b"), "cid")
        .filter(F.col("a_vid") < F.col("b_vid"))
        .filter((F.col("a_rn") == 1) | (F.col("b_rn") == 1))
        .filter(
            F.expr(sp_dot("a_vec", "b_vec"))
            / (F.col("a_norm") * F.col("b_norm"))
            >= threshold
        )
        .select("b_vid")
        .collect()
    }
    primary = probed.filter("rn = 1").select("vid", "cid").collect()
    sizes = {}
    for r in primary:
        sizes[r["cid"]] = sizes.get(r["cid"], 0) + 1
    return {
        r["vid"]: (r["cid"], sizes[r["cid"]], 0 if r["vid"] in dropped else 1)
        for r in primary
    }


@pytest.mark.parametrize("n_probe", [2, 3])
def test_semantic_dedup_probes_match_join_form(spark, n_probe):
    """semantic_dedup with probe cells equals the join-form reference
    built over the same probed assignment."""
    from nfl_data_pipeline_spark.operators.similarity import (
        _assign_nearest,
        fit_centroids,
        semantic_dedup,
    )

    k, threshold = 8, 0.4
    emb = load(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: (r["cluster_id"], r["cluster_size"], r["is_kept"])
        for r in semantic_dedup(
            emb, k=k, threshold=threshold, n_probe=n_probe
        ).collect()
    }
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    probed = _assign_nearest(v, fit_centroids(v, k), probes=n_probe)
    want = _semantic_dedup_join_form(probed, threshold)
    assert got == want
    assert sum(1 for _, _, kept in want.values() if not kept) > 0


def _semantic_dups(df, root):
    from nfl_data_pipeline_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(df, k=2).filter(F.col("is_kept") == 0)
    return {r["vec_id"] for r in out.collect()}


def _banded_dups(df, root):
    from nfl_data_pipeline_spark.operators.similarity import (
        embedding_near_dups_banded,
    )

    out = embedding_near_dups_banded(df, threshold=0.95)
    return {r["vec_b"] for r in out.collect()}


def _gate_dups(df, root):
    from nfl_data_pipeline_spark.streaming.embdedup import (
        EmbDedupState,
        process_embdedup_batch,
    )

    out = process_embdedup_batch(
        df.sparkSession, df, EmbDedupState(root), "b0", threshold=0.95
    )
    return {r["vec_id"] for r in out.filter(F.col("keep") == 0).collect()}


@pytest.mark.parametrize(
    "dups",
    [_semantic_dups, _banded_dups, _gate_dups],
    ids=["semantic_dedup", "banded", "embdedup"],
)
def test_semantic_dedup_input_contract(spark, tmp_path, dups):
    """Every embedding operator that infers the vector width checks it
    once at its boundary: mixed widths raise ValueError (a 2-wide
    first row must not score only ``vec[:2]``), and a NULL vector —
    first row included — is skipped, never a duplicate. Semantic
    dedup also rejects a non-integral id with TypeError naming the
    integral-id rule."""
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 5.0, 5.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="width"):
        dups(mixed, str(tmp_path / "mixed"))
    null_first = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [1.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    assert dups(null_first, str(tmp_path / "null_first")) == {3}
    if dups is _semantic_dups:
        named = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [1.0, 0.1]), ("c", [0.0, 1.0])],
            "vec_id string, embedding array<double>",
        )
        with pytest.raises(TypeError, match="integral"):
            _semantic_dups(named, None)
