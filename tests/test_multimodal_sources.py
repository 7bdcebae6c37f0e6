"""Multimodal plumbing + source-connector tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.multimodal import (
    attach_media,
    decode_media,
    extract_features,
    fake_feature,
)
from nfl_data_pipeline_spark.sources.readers import (
    fetch_over_plan,
    parse_json_column,
    read_csv,
    scrape_plan,
)
from tests.conftest import SF_SMOKE


def test_multimodal_feature_extraction(spark):
    docs = load(spark, SF_SMOKE, "documents").limit(50)
    media = attach_media(docs, "text", mime="text/plain")
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r["mime"] == "text/plain"
    assert r["n_bytes"] > 0
    assert len(r["content_hash"]) == 32
    assert len(r["feature"]) == 4
    # deterministic: same payload → same feature
    doc = docs.filter(F.col("doc_id") == r["doc_id"]).collect()[0]
    assert r["feature"] == fake_feature(doc["text"].encode())


def test_real_codec_is_clearly_stubbed():
    # the boundary moved in r10: PNG and baseline JPEG are native
    # codecs (operators/png.py, operators/jpeg.py), so the stub line
    # sits at video + compressed audio
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "video/mp4")
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "audio/mpeg")
    with pytest.raises(ValueError, match="signature"):
        decode_media(b"xx", "image/png")  # real codec, real error
    with pytest.raises(ValueError, match="SOI"):
        decode_media(b"xx", "image/jpeg")  # real codec, real error


def test_scrape_plan_and_fetch(spark):
    plan = scrape_plan(spark, [2020, 2021], [1, 2, 3])
    assert plan.count() == 6

    schema = T.StructType(
        [
            T.StructField("season", T.IntegerType()),
            T.StructField("week", T.IntegerType()),
            T.StructField("team", T.StringType()),
            T.StructField("grade", T.DoubleType()),
        ]
    )

    def fake_fetch(season: int, week: int) -> list[dict]:
        # deterministic fake: 2 rows per (season, week)
        return [
            {"season": season, "week": week, "team": t, "grade": float(season % 100 + week)}
            for t in ("SEA", "SF")
        ]

    out = fetch_over_plan(plan, fake_fetch, schema)
    assert out.count() == 12
    assert out.filter("team = 'SEA' AND season = 2020 AND week = 2").collect()[0][
        "grade"
    ] == pytest.approx(22.0)


def test_read_csv_schema_explicit(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,foo\n2,bar\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    df = read_csv(spark, str(p), schema)
    assert df.schema == schema
    assert df.count() == 2


def test_parse_json_column(spark):
    e = load(spark, SF_SMOKE, "events").limit(10)
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = parse_json_column(e, "props", schema).select(
        "event_id", F.col("parsed.k").alias("k")
    )
    rows = parsed.collect()
    assert all(r["k"] is not None for r in rows)


def test_pq_topk_recall_and_full_shortlist_exactness(spark):
    from nfl_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
        recall_at_k,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id < 20")
    exact = cosine_topk(q, emb, k=5)
    approx = pq_topk(emb, q, k=5, m=8, n_codes=16, shortlist=50)
    r = recall_at_k(approx, exact)
    # ADC shortlist of 10% of the corpus + exact rerank: recall must
    # beat the 10% random-subset floor by a wide margin
    assert r >= 0.5, f"recall@5 too low: {r}"
    # shortlist = whole corpus ⇒ the exact rerank sees every candidate
    # and must reproduce the brute-force result bit-for-bit
    full = pq_topk(emb, q, k=5, m=8, n_codes=16, shortlist=600)
    got = {
        (r["q_id"], r["rank"], r["c_id"]) for r in full.collect()
    }
    want = {
        (r["q_id"], r["rank"], r["c_id"]) for r in exact.collect()
    }
    assert got == want


def test_kmeans_ivf_recall(spark):
    from nfl_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        kmeans_ivf_topk,
        recall_at_k,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id < 20")
    exact = cosine_topk(q, emb, k=5)
    approx = kmeans_ivf_topk(emb, q, k=5, n_cells=8, n_probe=3)
    r = recall_at_k(approx, exact)
    # multi-probe over 3/8 cells on near-random vectors: recall well
    # above the 3/8 random-subset floor proves the quantizer works
    assert r >= 0.5, f"recall@5 too low: {r}"
    # probing ALL cells must reproduce the exact result
    full = kmeans_ivf_topk(emb, q, k=5, n_cells=8, n_probe=8)
    assert recall_at_k(full, exact) == 1.0


def test_opq_rotation_reduces_error_and_preserves_semantics(spark):
    """OPQ: the learned rotation's quantization error on the training
    sample is ≤ identity-rotation PQ's (alternating minimization is
    monotone), the rotation is orthonormal, and pq_topk under OPQ
    still reproduces the exact top-k when the shortlist covers the
    whole corpus (rotation preserves distances; rerank is exact)."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.similarity import (
        _encode_decode,
        _normalized_sample,
        cosine_topk,
        fit_opq,
        fit_pq_codebooks,
        pq_topk,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    R, books, errs = fit_opq(emb, m=8, n_codes=16, sample_size=512)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)

    sample = _normalized_sample(emb, "embedding", 512)
    pq_books = np.asarray(fit_pq_codebooks(emb, m=8, n_codes=16, sample_size=512))
    pq_err = float(((sample - _encode_decode(sample, pq_books)) ** 2).sum())
    opq_err = float(((sample @ R - _encode_decode(sample @ R, books)) ** 2).sum())
    assert opq_err <= pq_err * 1.001, (opq_err, pq_err)
    assert errs == sorted(errs, reverse=True)  # monotone improvement

    q = emb.filter("vec_id < 10")
    exact = cosine_topk(q, emb, k=5)
    full = pq_topk(
        emb, q, k=5, m=8, n_codes=16, shortlist=600, codebooks=books, rotation=R
    )
    got = {(r["q_id"], r["rank"], r["c_id"]) for r in full.collect()}
    want = {(r["q_id"], r["rank"], r["c_id"]) for r in exact.collect()}
    assert got == want


def test_frame_sample_fanout_and_determinism(spark):
    """One video row fans out to duration/step frame rows; frame
    bytes are deterministic payload slices; a doc with no duration
    still yields one frame."""
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.operators.multimodal import (
        attach_media,
        frame_sample,
        resize_meta,
    )

    docs = load(spark, SF_SMOKE, "documents").limit(8)
    media = attach_media(docs, "text", mime="video/fake").withColumn(
        "media_meta",
        F.struct(
            F.col("media_meta.mime").alias("mime"),
            F.col("media_meta.width").alias("width"),
            F.col("media_meta.height").alias("height"),
            (F.col("doc_id") % 3 * 2000).cast("int").alias("duration_ms"),
            F.col("media_meta.n_frames").alias("n_frames"),
        ),
    )
    frames = frame_sample(media, every_ms=1000)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, fr in by_doc.items():
        expect_n = max(1, (doc_id % 3) * 2000 // 1000)
        assert len(fr) == expect_n, (doc_id, len(fr))
        assert sorted(f["frame_ix"] for f in fr) == list(range(expect_n))
    # determinism: rerun hashes equal
    again = frame_sample(media, every_ms=1000).collect()
    assert {(r["doc_id"], r["frame_ix"], bytes(r["frame_bytes"])) for r in rows} == {
        (r["doc_id"], r["frame_ix"], bytes(r["frame_bytes"])) for r in again
    }
    # resize_meta rewrites dimensions JVM-side
    resized = resize_meta(media, 224, 224).select("media_meta.*").first()
    assert (resized["width"], resized["height"]) == (224, 224)


def test_orc_roundtrip_and_pushdown(spark, tmp_path_factory):
    """ORC sink/source parity: partitioned write, schema-identical
    read-back, predicate pushdown into the ORC scan."""
    from nfl_data_pipeline_spark.sources.readers import read_table, write_table

    out = str(tmp_path_factory.mktemp("orc")) + "/orders_orc"
    o = load(spark, SF_SMOKE, "orders")
    write_table(o, out, fmt="orc", partition_by=["o_orderstatus"])

    back = read_table(spark, out, fmt="orc")
    assert back.count() == o.count()
    got = dict(
        back.groupBy("o_orderstatus").count().collect()[0].asDict()
    )
    assert got["count"] > 0

    q = back.filter("o_totalprice > 100000").select("o_orderkey", "o_totalprice")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice," in plan
    want = o.filter("o_totalprice > 100000").count()
    assert q.count() == want


def test_sql_text_interface_over_views(spark):
    """register_all + spark.sql: the pure-SQL front door produces the
    same result as the DataFrame plan (same names DuckDB sees)."""
    from nfl_data_pipeline_spark.catalog import register_all

    register_all(spark, SF_SMOKE)
    got = {
        (r["o_orderstatus"], r["n"])
        for r in spark.sql(
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
        ).collect()
    }
    want = {
        (r["o_orderstatus"], r["n"])
        for r in load(spark, SF_SMOKE, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got


def _wav_bytes(freq: float = 440.0, ms: int = 2500, rate: int = 8000) -> bytes:
    """Deterministic 16-bit mono PCM sine WAV, pure stdlib."""
    import io
    import math
    import struct
    import wave

    n = rate * ms // 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h", int(20000 * math.sin(2 * math.pi * freq * i / rate))
                )
                for i in range(n)
            )
        )
    return buf.getvalue()


def _ppm_bytes(width: int = 4, height: int = 3) -> bytes:
    header = f"P6\n# fixture\n{width} {height}\n255\n".encode()
    raster = bytes(
        (x * 40 + y * 20 + c * 10) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )
    return header + raster


def test_wav_decode_end_to_end(spark):
    """decode_media is REAL for WAV: the NotImplementedError path is
    unreachable, and the Spark-side feature equals a local recompute."""
    import math

    from nfl_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        extract_features,
        signal_feature,
    )

    wav = _wav_bytes()
    samples, rate = decode_wav(wav)
    assert rate == 8000 and len(samples) == 8000 * 25 // 10
    # a full-scale sine has rms ~ amplitude/sqrt(2)
    rms = math.sqrt(sum(x * x for x in samples) / len(samples))
    assert rms == pytest.approx((20000 / 32768) / math.sqrt(2), rel=0.01)

    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    media = attach_media(df, "payload", mime="audio/wav")
    row = extract_features(media, use_real_codec=True).collect()[0]
    assert row["feature"] == pytest.approx(signal_feature(samples))


def test_ppm_decode_end_to_end(spark):
    from nfl_data_pipeline_spark.operators.multimodal import (
        decode_ppm,
        extract_features,
        signal_feature,
    )

    ppm = _ppm_bytes()
    pix, w, h = decode_ppm(ppm)
    assert (w, h) == (4, 3) and len(pix) == 4 * 3 * 3
    assert all(0.0 <= p <= 1.0 for p in pix)
    # comment line in the header is skipped; first pixel is (0,10,20)/255
    assert pix[:3] == pytest.approx([0.0, 10 / 255, 20 / 255])

    df = spark.createDataFrame([(7, ppm)], "doc_id long, payload binary")
    media = attach_media(df, "payload", mime="image/x-portable-pixmap")
    row = extract_features(media, use_real_codec=True).collect()[0]
    assert row["feature"] == pytest.approx(signal_feature(pix))


def test_wav_frame_sample_real_windows(spark):
    """Real frame sampling derives the fan-out from the CONTAINER's
    duration (2.5 s → 3 windows at 1 s), not the metadata struct, and
    every window is valid PCM of the expected byte length."""
    from nfl_data_pipeline_spark.operators.multimodal import frame_sample

    wav = _wav_bytes(ms=2500, rate=8000)
    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    media = attach_media(df, "payload", mime="audio/x-wav")
    frames = frame_sample(media, every_ms=1000, use_real_codec=True).collect()
    assert [f["frame_ms"] for f in sorted(frames, key=lambda f: f["frame_ix"])] == [
        0,
        1000,
        2000,
    ]
    by_ix = {f["frame_ix"]: f for f in frames}
    assert len(by_ix[0]["frame_bytes"]) == 8000 * 2  # 1 s of 16-bit mono
    assert len(by_ix[2]["frame_bytes"]) == 4000 * 2  # 0.5 s tail
    # windows are non-overlapping slices of the original PCM
    import io
    import wave as wave_mod

    with wave_mod.open(io.BytesIO(wav), "rb") as w:
        pcm = w.readframes(w.getnframes())
    assert bytes(by_ix[1]["frame_bytes"]) == pcm[16000:32000]


def test_compressed_codecs_still_clearly_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "video/mp4")
    # a truncated-but-real JPEG fails as malformed, not as stubbed
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")


def test_ppm_resize_real_payload(spark):
    """resize_media with the real codec rewrites BOTH the payload
    (nearest-neighbor resampled P6, verified pixel-exact against a
    numpy recompute) and the metadata struct; non-PPM payloads pass
    through byte-identical."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.multimodal import (
        decode_ppm,
        resize_media,
        resize_ppm,
    )

    ppm = _ppm_bytes()  # 4x3
    wav = _wav_bytes()
    df = spark.createDataFrame(
        [(1, ppm, "image/x-portable-pixmap"), (2, wav, "audio/wav")],
        "doc_id long, payload binary, mime string",
    )
    from nfl_data_pipeline_spark.operators.multimodal import attach_media

    media = attach_media(df, "payload", mime_col="mime")
    out = {
        r["doc_id"]: r
        for r in resize_media(media, 2, 2, use_real_codec=True).collect()
    }
    # metadata rewritten for both rows
    assert out[1]["media_meta"]["width"] == 2
    assert out[2]["media_meta"]["height"] == 2
    # PPM payload really resampled: 2x2 raster, nearest-neighbor exact
    pix, w, h = decode_ppm(bytes(out[1]["content"]))
    assert (w, h) == (2, 2)
    src, w0, h0 = decode_ppm(ppm)
    img = np.array(src).reshape(h0, w0, 3)
    ys = (np.arange(2) * h0) // 2
    xs = (np.arange(2) * w0) // 2
    want = img[ys][:, xs].ravel()
    assert pix == pytest.approx(list(want))
    # direct codec call agrees with the distributed path
    assert bytes(out[1]["content"]) == resize_ppm(ppm, 2, 2)
    # non-PPM payload untouched
    assert bytes(out[2]["content"]) == wav


def test_jsonl_quarantine_split(spark, tmp_path):
    """PERMISSIVE line-JSON ingestion: good rows come out typed with
    exactly the declared schema, malformed AND type-violating lines
    land in quarantine with their raw text — nothing fails, nothing
    silently nulls."""
    from pyspark.sql import types as T

    from nfl_data_pipeline_spark.sources.readers import (
        read_jsonl_with_quarantine,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "alpha"}',
                '{"doc_id": 2, "text": "beta"}',
                '{"doc_id": "not-a-number", "text": "gamma"}',
                "{broken json",
                '{"doc_id": 5, "text": "epsilon"}',
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = read_jsonl_with_quarantine(spark, str(p), schema)
    assert [f.name for f in good.schema.fields] == ["doc_id", "text"]
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 5]
    raws = [r["raw"] for r in bad.collect()]
    assert len(raws) == 2
    assert any("not-a-number" in r for r in raws)
    assert any("broken" in r for r in raws)
    assert all(r["source_file"].endswith("docs.jsonl") or "docs.jsonl" in r["source_file"] for r in bad.collect())


def test_cosine_topk_arrow_matches_sql_fold(spark):
    """engine='arrow' (einsum per Arrow batch) must retrieve the same
    neighbors as the SQL fold-dot baseline: per-rank id equality
    everywhere the cosines aren't ulp-tied, set equality always, and
    cosines within 1e-12."""
    from nfl_data_pipeline_spark.operators.similarity import cosine_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id < 10")
    sql_rows = {
        (r["q_id"], r["c_id"]): (r["rank"], r["cosine"])
        for r in cosine_topk(q, emb, k=5).collect()
    }
    ar_rows = {
        (r["q_id"], r["c_id"]): (r["rank"], r["cosine"])
        for r in cosine_topk(q, emb, k=5, engine="arrow").collect()
    }
    assert set(sql_rows) == set(ar_rows)  # retrieved-set equality
    for key, (rk, cos) in sql_rows.items():
        ark, arc = ar_rows[key]
        assert abs(cos - arc) < 1e-12, key
        # ranks may swap only across an ulp-tie; with 1e-12 agreement
        # and distinct fixture cosines they must match
        assert rk == ark, key


def test_cosine_topk_arrow_null_vectors_and_engine_guard(spark):
    """A NULL embedding must not crash the arrow scorer (its cosine
    nulls out exactly like the SQL fold's), and a typo'd engine name
    raises instead of silently running the slow path."""
    import pytest
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.operators.similarity import cosine_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 17, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    q = with_null.filter("vec_id < 3")
    got_ar = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk(q, with_null, k=5, engine="arrow").collect()
    }
    got_sql = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk(q, with_null, k=5).collect()
    }
    assert got_ar == got_sql
    assert not any(c == 17 for _, c in got_ar)  # null vec never ranks
    for bad in ("Arrow", "exact"):
        with pytest.raises(ValueError, match="engine"):
            cosine_topk(q, emb, k=5, engine=bad)


def test_cosine_topk_arrow_follows_width_contract(spark):
    """Mixed vector widths: the arrow engine scores ``vec[:dim]`` when
    ``dim`` is given and gives NULL (never a crash) for a vector
    shorter than ``dim``, or for unequal widths without ``dim`` —
    the same id-set and the same NULL cosines as the SQL engine."""
    from nfl_data_pipeline_spark.operators.similarity import cosine_topk

    emb = load(spark, SF_SMOKE, "embeddings")
    dim = emb.select(F.size("embedding")).first()[0]
    tail = F.array(*[F.lit(x).cast("float") for x in (0.5, -0.25, 0.125)])
    vid = F.col("vec_id")
    mixed = emb.withColumn(
        "embedding",
        F.when(vid.isin(1, 5), F.concat("embedding", tail))
        .when(vid == 7, F.slice("embedding", 1, dim - 1))
        .otherwise(F.col("embedding")),
    )
    q = mixed.filter("vec_id < 3")
    for d in (dim, None):
        got = {
            engine: {
                (r["q_id"], r["c_id"]): r["cosine"] is None
                for r in cosine_topk(
                    q, mixed, k=5, dim=d, engine=engine
                ).collect()
            }
            for engine in ("sql", "arrow")
        }
        assert got["arrow"] == got["sql"], d
    # without dim, query 1 shares its width with vector 5 only: one
    # scored neighbour, the rest of its top 5 are NULL cosines
    assert got["sql"][(1, 5)] is False
    assert sum(v for (qid, _), v in got["sql"].items() if qid == 1) == 4
