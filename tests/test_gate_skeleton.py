"""The registry skeleton the four incremental dedup gates share
(operators/dedup.gate_verdicts / register_kept / maintain_gate_state,
jobs/forget.forget_docs), driven through each gate on tiny batches:
cross-batch copies lose to their first arrival, a re-sent registered
id stays a member, a replay reproduces verdicts and registry contents,
the driver path equals the forced distributed fallback, and no
registry scan feeds membership — each registry table is read by at
most one collect per batch, the candidate (or verify) collect."""

from __future__ import annotations

import contextlib
import os
import random
from urllib.parse import urlparse

import numpy as np
import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.multimodal import attach_media

N = 4  # originals per batch
BASE = 1000  # originals' ids; copies take ids below or above


def _text_gate(spark):
    from nfl_data_pipeline_spark.streaming.neardup import (
        NearDupState,
        process_neardup_batch,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(300)]
    content = [
        " ".join(rng.choice(vocab) for _ in range(20)) for _ in range(3 * N)
    ]

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def run(df, state, bid):
        return process_neardup_batch(spark, df, state, bid, 0.5)

    return NearDupState, run, frame, content, lambda c, _: c, "doc_id"


def _embedding_gate(spark):
    from nfl_data_pipeline_spark.streaming.embdedup import (
        EmbDedupState,
        process_embdedup_batch,
    )

    rng = random.Random(7)
    content = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(3 * N)]

    def copy(v, seed):
        r = random.Random(seed)
        return [x + r.gauss(0, 0.01) for x in v]

    def frame(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def run(df, state, bid):
        return process_embdedup_batch(spark, df, state, bid, threshold=0.95)

    return EmbDedupState, run, frame, content, copy, "vec_id"


def _media_frame(spark, mime):
    def frame(rows):
        return attach_media(
            spark.createDataFrame(rows, "doc_id long, payload binary"),
            "payload",
            mime=mime,
        )

    return frame


def _image_gate(spark):
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        ImageDedupState,
        process_image_batch,
    )
    from tests.mediasynth import ppm_bytes, rich_image

    imgs = [rich_image(100 + i) for i in range(3 * N)]

    def copy(i, seed):
        noise = np.random.default_rng(seed).normal(0, 3, imgs[i].shape)
        return ppm_bytes(np.clip(imgs[i] + noise, 0, 255))

    def run(df, state, bid):
        return process_image_batch(spark, df, state, bid, max_hamming=10)

    content = [ppm_bytes(im) for im in imgs]
    return (
        ImageDedupState,
        run,
        _media_frame(spark, "image/x-portable-pixmap"),
        content,
        lambda c, seed: copy(content.index(c), seed),
        "doc_id",
    )


def _audio_gate(spark):
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        AudioDedupState,
        process_audio_batch,
    )
    from tests.test_audio_fp import _clip, _wav

    clips = [_clip(300 + i) for i in range(3 * N)]

    def copy(i, seed):
        noise = np.random.default_rng(seed).normal(0, 0.02, clips[i].shape)
        return _wav(clips[i] + noise)

    def run(df, state, bid):
        return process_audio_batch(spark, df, state, bid, min_matches=8)

    content = [_wav(c) for c in clips]
    return (
        AudioDedupState,
        run,
        _media_frame(spark, "audio/wav"),
        content,
        lambda c, seed: copy(content.index(c), seed),
        "doc_id",
    )


GATES = {
    "neardup": _text_gate,
    "embdedup": _embedding_gate,
    "image": _image_gate,
    "audio": _audio_gate,
}


def _batches(content, copy):
    """b0: originals 0..N-1. b1: originals N..2N-1 plus copies of
    originals 0 and 1 (ids 2000, 2001). b2: originals 2N..3N-1, the
    RE-SENT registered original 2 under its own id, and a copy of it
    under the LOWER id 2 — the copy must lose to the registered id,
    not win as the component's min node."""
    orig = [(BASE + i, content[i]) for i in range(3 * N)]
    b0 = orig[:N]
    b1 = orig[N : 2 * N] + [
        (2000 + i, copy(content[i], 10 + i)) for i in (0, 1)
    ]
    b2 = orig[2 * N :] + [orig[2], (2, copy(content[2], 12))]
    return [b0, b1, b2]


def _registry(spark, state):
    out = {}
    for name, table, _ in state.registries:
        df = table.read(spark)
        cols = sorted(df.columns)
        out[name] = sorted(str(tuple(r)) for r in df.select(*cols).collect())
    return out


def _verdicts(df, id_col):
    return {r[id_col]: (r["keep"], r["dup_of"]) for r in df.collect()}


def _sequence(spark, gate, root, watch=contextlib.nullcontext):
    """The three batches (``watch`` wraps the third), then a replay of
    the second: its verdicts and the registries before and after."""
    make_state, run, frame, content, copy, id_col = gate
    state = make_state(str(root))
    batches = [
        frame(rows).localCheckpoint() for rows in _batches(content, copy)
    ]
    got = []
    for k, df in enumerate(batches):
        with watch() if k == 2 else contextlib.nullcontext():
            got.append(_verdicts(run(df, state, f"b{k}"), id_col))
    before = _registry(spark, state)
    replay = _verdicts(run(batches[1], state, "b1"), id_col)
    return state, got, replay, before, _registry(spark, state)


@pytest.mark.parametrize("gate_name", sorted(GATES))
def test_gate_skeleton(spark, tmp_path, monkeypatch, gate_name):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    from nfl_data_pipeline_spark.operators import dedup
    from nfl_data_pipeline_spark.streaming import neardup

    gate = GATES[gate_name](spark)
    reads = []
    collect = ClassicFrame.collect

    @contextlib.contextmanager
    def watch():
        def spy_collect(frame):
            reads.append({urlparse(f).path for f in frame.inputFiles()})
            return collect(frame)

        monkeypatch.setattr(ClassicFrame, "collect", spy_collect)
        try:
            yield
        finally:
            monkeypatch.setattr(ClassicFrame, "collect", collect)

    state, got, replay, before, after = _sequence(
        spark, gate, tmp_path / "driver", watch
    )
    b0, b1, b2 = got
    # cross-batch copies lose to their first arrival
    assert b1[2000] == (0, b0[BASE][1]) and b1[2001] == (0, b0[BASE + 1][1])
    # the re-sent registered id stays a member; its lower-id copy loses
    assert b0[BASE + 2] == (1, BASE + 2)
    assert b2[BASE + 2] == (1, BASE + 2)
    assert b2[2] == (0, BASE + 2)
    # a replay reproduces verdicts and leaves the registries unchanged
    assert replay == b1
    assert after == before
    # no registry scan feeds membership: each registry table is read by
    # at most one collect of the batch (the candidate or verify collect)
    for _, table, _ in state.registries:
        root = os.path.abspath(table.root)
        hits = [r for r in reads if any(f.startswith(root) for f in r)]
        assert len(hits) <= 1, (table.root, len(hits))

    with monkeypatch.context() as m:
        m.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
        m.setattr(neardup, "DRIVER_MAX_PAIRS", 0)
        _, f_got, f_replay, f_before, f_after = _sequence(
            spark, gate, tmp_path / "fallback"
        )
    assert f_got == got and f_replay == replay
    assert f_before == before and f_after == after


def test_forget_and_maintain_walk_every_registry(spark, tmp_path):
    """One purge and one compaction serve every gate state: each names
    its registry tables, and the near-dup tables keep their
    ``-sigs``/``-sids`` purge batch ids."""
    from nfl_data_pipeline_spark.jobs.forget import forget_docs
    from nfl_data_pipeline_spark.operators.dedup import maintain_gate_state

    make_state, run, frame, content, copy, id_col = _text_gate(spark)
    state = make_state(str(tmp_path / "s"))
    for k, rows in enumerate(_batches(content, copy)):
        run(frame(rows), state, f"b{k}")
    res = forget_docs(spark, state, [BASE], batch_id="f0")
    assert set(res) == {"signatures", "sids"}
    assert all(r["deleted_rows"] > 0 for r in res.values())
    assert state.sigs.is_applied("f0-sigs")
    assert state.sids.is_applied("f0-sids")
    again = forget_docs(spark, state, [BASE], batch_id="f0")
    assert all(r["replayed"] for r in again.values())
    for _, table, _ in state.registries:
        ids = table.read(spark).select(id_col).filter(F.col(id_col) == BASE)
        assert ids.count() == 0
    stats = maintain_gate_state(spark, state, min_files=1, grace_s=0.0)
    assert set(stats) == {"signatures", "sids"}
