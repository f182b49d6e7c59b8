"""Multimodal plumbing tests: mapInPandas batch shapes, stubbed decode,
frame sampling plan."""

import pytest
from pyspark.sql import functions as F

from padua_spark.extensions.multimodal import (
    decode_image,
    extract_features,
    fake_decode,
    frame_sample_plan,
    text_as_media,
)


def test_decode_raises_without_decoder():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_extract_features_matches_local(spark):
    rows = [(1, "hello world"), (2, "abc"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    media = text_as_media(df, "doc_id", "text")
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    for i, txt in rows:
        b = txt.encode()
        assert out[i]["n_bytes"] == len(b)
        expected_hash = 0
        for x in b:
            expected_hash = (expected_hash * 131 + x) % 2147483647
        assert out[i]["byte_hash"] == expected_hash
        assert out[i]["feature"] == pytest.approx(fake_decode(b))


def test_feature_vector_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i} " * 5) for i in range(50)],
        ["doc_id", "text"],
    )
    media = text_as_media(df, "doc_id", "text")
    a = extract_features(media.repartition(1), n_features=4).collect()
    b = extract_features(media.repartition(7), n_features=4).collect()
    da = {r["media_id"]: r["feature"] for r in a}
    db = {r["media_id"]: r["feature"] for r in b}
    assert da == db
    assert all(len(v) == 4 for v in da.values())


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, 3500), (2, 900), (3, 0)], ["media_id", "duration_ms"]
    )
    out = frame_sample_plan(media, every_ms=1000).collect()
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert sorted(per[1]) == [0, 1000, 2000]
    assert per[2] == [0]
    assert per[3] == [0]


def test_resize_media_plumbing(spark):
    from padua_spark.extensions.multimodal import (
        extract_features,
        resize_media,
        text_as_media,
    )

    d = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "xy"), (3, None)], "doc_id long, text string"
    )
    media = text_as_media(d, "doc_id", "text")
    out = {r["media_id"]: r for r in resize_media(media, 2, 3).collect()}
    assert out[1]["content"] == b"abcdef"            # truncated to 6
    assert out[2]["content"] == b"xy\x00\x00\x00\x00"  # zero-padded
    assert out[3]["content"] is None
    assert out[1]["width"] == 2 and out[1]["height"] == 3
    # composes with feature extraction, still two mapInPandas stages
    feats = extract_features(resize_media(media, 2, 3))
    assert feats.count() == 3


def test_audio_chunk_plan_overlap_and_tail(spark):
    from padua_spark.extensions.multimodal import audio_chunk_plan

    media = spark.createDataFrame(
        [(1, 75_000), (2, 20_000), (3, 60_000), (4, 0)],
        ["media_id", "duration_ms"],
    )
    out = audio_chunk_plan(media, chunk_ms=30_000, hop_ms=15_000).collect()
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(
            (r["chunk_idx"], r["start_ms"], r["end_ms"])
        )
    # 75s: full chunks at 0,15,30,45 then the 60-75 tail
    assert sorted(per[1]) == [
        (0, 0, 30_000), (1, 15_000, 45_000), (2, 30_000, 60_000),
        (3, 45_000, 75_000),
    ]
    # shorter than one chunk: exactly one truncated chunk
    assert sorted(per[2]) == [(0, 0, 20_000)]
    # exact multiple: no empty tail chunk
    assert sorted(per[3]) == [
        (0, 0, 30_000), (1, 15_000, 45_000), (2, 30_000, 60_000),
    ]
    # zero duration: no chunks
    assert 4 not in per
    # coverage invariant: consecutive chunks overlap by chunk-hop
    for chunks in per.values():
        for (_, s1, e1), (_, s2, _) in zip(chunks, chunks[1:]):
            assert s2 == s1 + 15_000 and s2 < e1


def test_extract_audio_features_deterministic(spark):
    from padua_spark.extensions.multimodal import (
        extract_audio_features,
        text_as_media,
    )

    docs = spark.createDataFrame(
        [(1, "some audio-ish payload text"), (2, "x")],
        ["doc_id", "text"],
    )
    media = text_as_media(docs, "doc_id", "text")
    a = extract_audio_features(media, n_features=4).orderBy("media_id")
    b = extract_audio_features(media, n_features=4).orderBy("media_id")
    ra, rb = a.collect(), b.collect()
    assert ra == rb
    assert all(len(r["features"]) == 4 for r in ra)
    assert all(0.0 <= x < 1.0 for r in ra for x in r["features"])


def test_multimodal_pipeline_end_to_end(spark):
    """Compose the full media pipeline lazily: text-as-media adapter →
    resize (mapInPandas) → feature extraction (mapInPandas) with no
    shuffle between stages, plus chunk/frame plans driving the same
    ids. One pass, deterministic output."""
    from padua_spark.extensions.multimodal import (
        audio_chunk_plan,
        extract_audio_features,
        resize_media,
        text_as_media,
    )
    from padua_spark.plans import count_exchanges

    docs = spark.createDataFrame(
        [(i, "payload " * (i + 1)) for i in range(6)],
        "doc_id long, text string",
    )
    media = text_as_media(docs, "doc_id", "text")
    resized = resize_media(media, target_w=4, target_h=4)
    feats = extract_audio_features(resized, n_features=4)
    # the composed pipeline is shuffle-free: adapter + two mapInPandas
    assert count_exchanges(feats) == 0
    rows = feats.orderBy("media_id").collect()
    assert len(rows) == 6
    assert all(len(r["features"]) == 4 for r in rows)
    # resize truncated/padded every payload to 16 bytes, so feature
    # vectors of equal-prefix payloads agree on the first stripes
    again = feats.orderBy("media_id").collect()
    assert rows == again
    # chunk plan joins back to features by id without losing rows
    chunks = audio_chunk_plan(
        media.withColumn("duration_ms", F.length("content") * 100),
        chunk_ms=400, hop_ms=200,
    )
    joined = chunks.join(feats, on="media_id")
    assert joined.count() == chunks.count()


def test_image_header_profile_on_real_header_bytes(spark):
    """Parse REAL spec headers (hand-assembled per the PNG/GIF/JPEG
    specs, independent of synthesize_image_bytes) so the parser is
    checked against the formats, not just against its own fixture."""
    from padua_spark.extensions.multimodal import image_header_profile

    png_100x50 = bytes.fromhex(
        "89504E470D0A1A0A" "0000000D" "49484452"
        "00000064" "00000032" "08" "02" "000000" "907753DE"
    )
    # real-world 1x1 GIF89a prefix: flags 0x80 -> color resolution 1
    gif_1x1 = bytes.fromhex("474946383961" "0100" "0100" "80" "0000")
    gif_3x5 = bytes.fromhex("474946383961" "0300" "0500" "F7" "0000")
    # SOI + APP0(16) + DQT(4) + SOF0: 240x320 precision 8
    jpeg_320x240 = bytes.fromhex(
        "FFD8"
        "FFE0" "0010" "4A46494600010100000100010000"
        "FFDB" "0004" "AAAA"
        "FFC0" "0011" "08" "00F0" "0140" "03" "000000000000000000"
    )
    truncated_png = bytes.fromhex("89504E47")
    garbage = b"\x00\x01\x02\x03"
    df = spark.createDataFrame(
        [
            (1, png_100x50), (2, gif_1x1), (3, gif_3x5),
            (4, jpeg_320x240), (5, truncated_png), (6, garbage),
        ],
        "id long, content binary",
    )
    rows = {
        r["id"]: r
        for r in image_header_profile(df, "content").collect()
    }
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"],
            rows[1]["bit_depth"]) == ("png", 100, 50, 8)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"],
            rows[2]["bit_depth"]) == ("gif", 1, 1, 1)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"],
            rows[3]["bit_depth"]) == ("gif", 3, 5, 8)
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"],
            rows[4]["bit_depth"]) == ("jpeg", 320, 240, 8)
    # truncated: magic recognized, fields NULL (no crash, no garbage)
    assert rows[5]["format"] == "png" and rows[5]["width"] is None
    assert rows[6]["format"] == "unknown"
    assert rows[6]["width"] is None and rows[6]["bit_depth"] is None
    assert rows[6]["n_bytes"] == 4


def test_synthesize_image_bytes_round_trip_python_replica(spark):
    """Fixture -> parser round trip vs a pure-Python replica of the
    id arithmetic, across ids covering every format arm, both parity
    branches, all four JPEG APP0 lengths, all five COM lengths, and
    the %97 garbage rows."""
    from padua_spark.extensions.multimodal import (
        image_header_profile,
        synthesize_image_bytes,
    )

    ids = list(range(0, 300)) + [970, 1940, 123456, 999999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = image_header_profile(
        synthesize_image_bytes(df, "doc_id"), "content"
    )
    got = {r["doc_id"]: r for r in out.collect()}
    for i in ids:
        r = got[i]
        if i % 97 == 0:
            exp = ("unknown", None, None, None, 4)
        else:
            w, h = 16 + i % 1000, 16 + (i * 7) % 700
            if i % 3 == 0:
                exp = ("png", w, h, 8 if i % 2 == 0 else 16, 33)
            elif i % 3 == 1:
                exp = ("gif", w, h, 8 if i % 2 == 0 else 4, 13)
            else:
                exp = ("jpeg", w, h, 8 if i % 2 == 0 else 12,
                       45 + 2 * (i % 4) + (i % 5))
        assert (
            r["format"], r["width"], r["height"], r["bit_depth"],
            r["n_bytes"],
        ) == exp, f"id {i}"


def test_extract_features_leaves_session_conf_untouched(spark):
    """Building and sinking the feature stage sets no session conf
    (it used to pin spark.sql.execution.arrow.maxRecordsPerBatch
    session-wide)."""
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], ["doc_id", "text"]
    )
    before = dict(spark.conf.getAll)
    media = text_as_media(df, "doc_id", "text")
    extract_features(media, n_features=4).collect()
    assert dict(spark.conf.getAll) == before
