"""Incremental frequent-items gate: the merged-MG guarantees must
hold across batches and arrival orders, replays must be no-ops, and
the report must bracket the exact counts."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from nfl_data_pipeline_spark.jobs.txlog import TxTable
from nfl_data_pipeline_spark.streaming.frequent import (
    read_frequent_state,
    update_frequent_state,
)

PHI_INV = 50  # heavy ⟺ count·50 ≥ N
CAP = 50


def _batches(seed: int, n_batches: int = 3):
    """Hot keys + churning tail, split into batches."""
    rng = random.Random(seed)
    keys = (
        ["hot_a"] * 400
        + ["hot_b"] * 150
        + ["warm"] * 60
        + [f"tail_{rng.randrange(2000)}" for _ in range(4390)]
    )
    rng.shuffle(keys)
    step = len(keys) // n_batches
    return [keys[i * step : (i + 1) * step] for i in range(n_batches)], keys[
        : step * n_batches
    ]


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def test_guarantees_across_batches(spark, tmp_path):
    batches, all_keys = _batches(1)
    t = TxTable(str(tmp_path / "hh_state"))
    for i, b in enumerate(batches):
        assert update_frequent_state(
            spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
        )
    report = {
        r["key"]: r
        for r in read_frequent_state(spark, t, phi_inv=PHI_INV).collect()
    }
    true = Counter(all_keys)
    n = len(all_keys)
    # no truly heavy key missing
    for k, c in true.items():
        if c * PHI_INV >= n:
            assert k in report, k
    # bounds bracket the truth for every reported key
    for k, r in report.items():
        assert r["count_lower"] <= true[k] <= r["count_upper"], k
    # the unambiguous hot keys are flagged certain
    assert report["hot_a"]["certain"] == 1
    # state stays bounded at the capacity
    assert t.read(spark).count() <= CAP


def test_replay_is_noop(spark, tmp_path):
    batches, _ = _batches(2)
    t = TxTable(str(tmp_path / "hh_replay"))
    assert update_frequent_state(
        spark, _df(spark, batches[0]), "k", t, "b0", capacity=CAP
    )
    before = sorted(tuple(r) for r in t.read(spark).collect())
    n_before = t.meta()["hh_n_total"]
    # same batch id again: detected, nothing changes
    assert not update_frequent_state(
        spark, _df(spark, batches[0]), "k", t, "b0", capacity=CAP
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    assert t.meta()["hh_n_total"] == n_before


def test_arrival_order_invariant_guarantees(spark, tmp_path):
    """Different batch orders may yield different sketches, but the
    no-miss + bracketing guarantees hold for every order."""
    batches, all_keys = _batches(3)
    true = Counter(all_keys)
    n = len(all_keys)
    for tag, order in (("fwd", batches), ("rev", batches[::-1])):
        t = TxTable(str(tmp_path / f"hh_{tag}"))
        for i, b in enumerate(order):
            update_frequent_state(
                spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
            )
        report = {
            r["key"]: r
            for r in read_frequent_state(
                spark, t, phi_inv=PHI_INV
            ).collect()
        }
        for k, c in true.items():
            if c * PHI_INV >= n:
                assert k in report, (tag, k)
        for k, r in report.items():
            assert r["count_lower"] <= true[k] <= r["count_upper"]


def _driver_reference_merge(batch_summaries, capacity):
    """The driver-side merge, kept as the oracle: fold each batch's
    (key, count) summary rows into a dict, then apply the
    mergeable-MG truncation."""
    counters: dict[str, int] = {}
    for rows in batch_summaries:
        for k, c in rows:
            counters[k] = counters.get(k, 0) + c
        if len(counters) > capacity:
            vals = sorted(counters.values(), reverse=True)
            sub = vals[capacity]
            counters = {
                k: v - sub for k, v in counters.items() if v > sub
            }
    return counters


def test_distributed_merge_equals_driver_merge(spark, tmp_path):
    """The executor-side rollup-sum + top-k truncation must produce
    exactly the state the driver dict merge produces from the same
    per-batch summaries — the batches' exact key counts, which is
    what the fold merges."""
    batches, _ = _batches(7)
    t = TxTable(str(tmp_path / "hh_eq"))
    for i, b in enumerate(batches):
        update_frequent_state(
            spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
        )
    want = _driver_reference_merge(
        [Counter(b).items() for b in batches], CAP
    )
    got = {
        r["key"]: int(r["mg_count"]) for r in t.read(spark).collect()
    }
    assert got == want


def _skewed(spark, n_parts):
    """20k rows, key = 20000 // (id + 1): one key holds half the rows,
    ~280 distinct keys; range partitions are contiguous, so each
    partition sees a different slice of the skew."""
    return spark.range(20_000, numPartitions=n_parts).selectExpr(
        "concat('k', CAST(20000 DIV (id + 1) AS STRING)) AS k"
    )


@pytest.mark.smoke
def test_state_invariant_to_input_partitioning(spark, tmp_path):
    """Exact batch counts make the folded state a function of the
    rows alone: 1 and 7 input partitions commit the same state."""
    states = []
    for n_parts in (1, 7):
        t = TxTable(str(tmp_path / f"hh_p{n_parts}"))
        for i in range(2):
            update_frequent_state(
                spark, _skewed(spark, n_parts), "k", t, f"b{i}",
                capacity=CAP,
            )
        rows = sorted(map(tuple, t.read(spark).collect()))
        states.append((rows, t.meta()["hh_n_total"]))
    assert states[0][0] and states[0][1] == 40_000
    assert states[0] == states[1]


@pytest.mark.smoke
def test_fold_plan_has_no_python_stage(spark, tmp_path, monkeypatch):
    """The fold is one native aggregate with one exchange: no plan it
    runs holds a Python-runner node, so a batch starts no Python
    worker."""
    DataFrame = type(spark.range(1))  # the session's concrete class
    plans = []
    real_collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    batches, _ = _batches(8)
    t = TxTable(str(tmp_path / "hh_plan"))
    for i, b in enumerate(batches[:2]):  # the 2nd merges stored state
        update_frequent_state(
            spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
        )
    assert len(plans) == 2
    for plan in plans:
        for node in (
            "MapInPandas",
            "PythonMapInArrow",
            "ArrowEvalPython",
            "BatchEvalPython",
        ):
            assert node not in plan, (node, plan)
        assert plan.count("Exchange") == 1, plan
    assert "Union" in plans[1]


def test_emptied_state_reports_empty_not_none(spark, tmp_path):
    """400 distinct keys at capacity 300 truncate to an EMPTY
    committed state: the report is empty, not None (None means
    nothing was ever committed). NULL keys are not items."""
    t = TxTable(str(tmp_path / "hh_empty"))
    keys = [f"k{i}" for i in range(400)] + [None] * 5
    assert update_frequent_state(
        spark, _df(spark, keys), "k", t, "b0", capacity=300
    )
    assert t.latest_version() == 0
    assert t.meta()["hh_n_total"] == 400
    report = read_frequent_state(spark, t, phi_inv=300)
    assert report is not None and report.collect() == []
    never = TxTable(str(tmp_path / "hh_never"))
    assert read_frequent_state(spark, never, phi_inv=300) is None


def test_large_capacity_path_keeps_exact_counts(spark, tmp_path):
    """Past capacity 20k the fold stays distributed (checkpoint +
    stage_files). With fewer distinct keys than the capacity nothing
    truncates: the state IS the exact counts and n_total the rows."""
    batches, all_keys = _batches(9)
    t = TxTable(str(tmp_path / "hh_large"))
    for i, b in enumerate(batches):
        assert update_frequent_state(
            spark, _df(spark, b), "k", t, f"b{i}", capacity=20_001
        )
    got = {
        r["key"]: int(r["mg_count"]) for r in t.read(spark).collect()
    }
    assert got == Counter(all_keys)
    assert t.meta()["hh_n_total"] == len(all_keys)


def test_phi_inv_above_capacity_rejected(spark, tmp_path):
    """Querying finer than the state was built (phi_inv > capacity)
    voids the no-miss guarantee — must raise, not silently miss."""
    batches, _ = _batches(5)
    t = TxTable(str(tmp_path / "hh_phi"))
    update_frequent_state(
        spark, _df(spark, batches[0]), "k", t, "b0", capacity=CAP
    )
    with pytest.raises(ValueError, match="phi_inv"):
        read_frequent_state(spark, t, phi_inv=CAP * 2)


def test_property_no_miss_and_bracketing_random_batches(spark, tmp_path):
    """Property check across randomized batch compositions (sizes,
    hot-key weights, tail churn, batch count): the merged-MG report
    never misses a φ-heavy key and always brackets true counts. Runs
    a handful of seeded scenarios in one session — a full hypothesis
    drive would spend minutes on Spark round-trips for the same
    coverage."""
    from collections import Counter

    for seed in range(20, 26):
        rng = random.Random(seed)
        n_batches = rng.randint(1, 4)
        keys = []
        for h in range(rng.randint(1, 4)):
            keys += [f"hot_{h}"] * rng.randint(50, 400)
        keys += [
            f"tail_{rng.randrange(rng.randint(100, 3000))}"
            for _ in range(rng.randint(500, 4000))
        ]
        rng.shuffle(keys)
        cuts = sorted(
            rng.sample(range(1, len(keys)), n_batches - 1)
        ) if n_batches > 1 else []
        batches, prev = [], 0
        for c in [*cuts, len(keys)]:
            batches.append(keys[prev:c])
            prev = c
        t = TxTable(str(tmp_path / f"hh_prop_{seed}"))
        for i, b in enumerate(batches):
            if b:
                update_frequent_state(
                    spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
                )
        true = Counter(keys)
        n = len(keys)
        report = {
            r["key"]: r
            for r in read_frequent_state(
                spark, t, phi_inv=PHI_INV
            ).collect()
        }
        for k, c in true.items():
            if c * PHI_INV >= n:
                assert k in report, (seed, k)
        for k, r in report.items():
            assert r["count_lower"] <= true[k] <= r["count_upper"], (
                seed,
                k,
            )
        assert t.read(spark).count() <= CAP


def test_capacity_mismatch_rejected(spark, tmp_path):
    batches, _ = _batches(4)
    t = TxTable(str(tmp_path / "hh_cap"))
    update_frequent_state(
        spark, _df(spark, batches[0]), "k", t, "b0", capacity=CAP
    )
    with pytest.raises(ValueError, match="capacity"):
        update_frequent_state(
            spark, _df(spark, batches[1]), "k", t, "b1", capacity=CAP * 2
        )


def test_ring_truncation_at_gate_cadence(spark, tmp_path):
    """Drive a gate past ``max_batch_ids``: once a batch id falls off
    the arrival-ordered ring, strict ``is_applied`` fails LOUDLY
    (TruncatedBatchHistory — applied-or-new is undecidable), while
    the gates' default treats the id as NEW and double-applies — the
    exact degradation the txlog docstring documents. The sizing
    guidance follows: the ring must exceed any real replay window,
    and the 10k default is ~a week of minutely batches."""
    from nfl_data_pipeline_spark.jobs.txlog import TruncatedBatchHistory

    t = TxTable(str(tmp_path / "ring"), max_batch_ids=3)
    batches, _ = _batches(3, n_batches=5)
    for i, b in enumerate(batches):
        assert update_frequent_state(
            spark, _df(spark, b), "k", t, f"b{i}", capacity=CAP
        )
    m = t.manifest()
    assert m.get("batch_ids_dropped", 0) > 0
    assert "b0" not in set(m["batch_ids"])
    assert "b4" in set(m["batch_ids"])

    # loud path: strict refuses to guess about the aged-out id...
    with pytest.raises(TruncatedBatchHistory, match="raise max_batch_ids"):
        t.is_applied("b0", strict=True)
    # ...but a GENUINELY new id after truncation must not brick the
    # writer under the default (the reason strict isn't the default)
    assert not t.is_applied("b_new")

    # the documented degradation is real, not theoretical: replaying
    # the aged-out batch through the gate double-applies (hot counts
    # inflate vs a control table whose ring retained every id)
    control = TxTable(str(tmp_path / "ring_ok"), max_batch_ids=100)
    for i, b in enumerate(batches):
        update_frequent_state(
            spark, _df(spark, b), "k", control, f"b{i}", capacity=CAP
        )
    assert update_frequent_state(  # truncated ring: re-applies
        spark, _df(spark, batches[0]), "k", t, "b0", capacity=CAP
    )
    assert not update_frequent_state(  # sized ring: replay is a no-op
        spark, _df(spark, batches[0]), "k", control, "b0", capacity=CAP
    )
    hot_t = {
        r["key"]: r["count_upper"]
        for r in read_frequent_state(spark, t, phi_inv=PHI_INV).collect()
    }
    hot_c = {
        r["key"]: r["count_upper"]
        for r in read_frequent_state(spark, control, phi_inv=PHI_INV).collect()
    }
    assert hot_t["hot_a"] > hot_c["hot_a"]
