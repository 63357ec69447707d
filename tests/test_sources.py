"""Envelope unwrapping (O4), binary media ingestion and frame sampling."""

from __future__ import annotations

from kgspark import extract, sources


def test_envelope_unwrap_and_dispatch(spark):
    rows = [
        ("d1", "en", "s0", 0, "envelope",
         '{"kind": "text", "text": "table key", "media_ref": ""}', "", 0),
        ("d1", "en", "s0", 1, "envelope",
         '{"kind": "media", "text": "", "media_ref": "media://vec/7"}', "", 9),
        ("d1", "en", "s0", 2, "text", "order part", "", 20),
        ("d1", "en", "s0", 3, "envelope", "NOT JSON {", "", 30),
    ]
    flat = spark.createDataFrame(
        rows,
        "doc_id string, lang string, source string, span_pos int, "
        "kind string, text string, media_ref string, offset int",
    )
    un = sources.unwrap_envelopes(flat)
    kinds = {r["span_pos"]: r["kind"] for r in un.collect()}
    assert kinds == {0: "text", 1: "media", 2: "text", 3: "envelope_invalid"}
    # unwrapped text spans flow through the mention kernel
    m = extract.mentions_df(un)
    assert {r["mention_text"] for r in m.collect()} == {"table key", "order part"}
    # invalid envelope lands in quarantine
    q = extract.quarantine_spans(un)
    assert [r["span_pos"] for r in q.collect()] == [3]


def test_binary_media_ingestion(spark, tmp_path):
    """spark.read.format('binaryFile') → opaque-bytes kernel: the
    multimodal plumbing (schema, Arrow batching, magic sniffing,
    fingerprints) on real binary files."""
    import os

    mdir = tmp_path / "media"
    mdir.mkdir()
    payloads = {
        "a.png": b"\x89PNG\r\n" + b"\x01" * 100,
        "b.jpg": b"\xff\xd8\xff\xe0" + b"\x02" * 50,
        "c.bin": b"FAKE" + bytes(range(200)),
    }
    for name, data in payloads.items():
        (mdir / name).write_bytes(data)

    from kgspark.processors.media import BINARY_FEATURES_DDL, binary_media_kernel

    bf = spark.read.format("binaryFile").load(str(mdir))
    feats = bf.select("path", "content").mapInPandas(
        binary_media_kernel, schema=BINARY_FEATURES_DDL
    )
    rows = {os.path.basename(r["path"]): r for r in feats.collect()}
    assert rows["a.png"]["magic"] == "png"
    assert rows["b.jpg"]["magic"] == "jpeg"
    assert rows["c.bin"]["magic"] == "fake"
    assert rows["c.bin"]["length"] == 204
    # deterministic: second run byte-identical
    again = {os.path.basename(r["path"]): r for r in feats.collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {k: tuple(v) for k, v in again.items()}


def test_frame_sampling_expands_rows(spark, tmp_path):
    """Frame-sample kernel: row EXPANSION (one row per sampled frame),
    deterministic frame fingerprints, columnar ragged math."""
    import os

    mdir = tmp_path / "video"
    mdir.mkdir()
    (mdir / "long.bin").write_bytes(b"FAKE" + b"\x07" * (50 * 1024))  # ~50 frames
    (mdir / "tiny.bin").write_bytes(b"FAKE12")                        # 1 frame

    from kgspark.processors.media import (
        FRAME_SAMPLES_DDL,
        make_frame_sample_kernel,
    )

    bf = spark.read.format("binaryFile").load(str(mdir))
    frames = bf.select("path", "content").mapInPandas(
        make_frame_sample_kernel(every_n=10, max_frames=32),
        schema=FRAME_SAMPLES_DDL,
    )
    rows = frames.collect()
    by = {}
    for r in rows:
        by.setdefault(os.path.basename(r["path"]), []).append(r)
    # 50 frames sampled every 10 → idx 0,10,20,30,40
    assert sorted(r["frame_idx"] for r in by["long.bin"]) == [0, 10, 20, 30, 40]
    assert [r["frame_idx"] for r in by["tiny.bin"]] == [0]
    # ts at fake 25 fps
    assert {r["frame_idx"]: r["ts_ms"] for r in by["long.bin"]}[20] == 800
    # per-frame fingerprints distinct and deterministic across runs
    fps1 = sorted(r["frame_fp"] for r in by["long.bin"])
    assert len(set(fps1)) == 5
    again = sorted(
        r["frame_fp"] for r in frames.collect()
        if os.path.basename(r["path"]) == "long.bin"
    )
    assert again == fps1


def test_resize_plan_geometry(spark, tmp_path):
    """Resize-plan kernel: aspect-preserving bounding-box downscale,
    never upscales, output dims consistent with the reported scale."""
    mdir = tmp_path / "imgs"
    mdir.mkdir()
    (mdir / "a.png").write_bytes(b"\x89PNG\r\n" + b"\x01" * 500)
    (mdir / "b.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x02" * 100)

    from kgspark.processors.media import RESIZE_PLAN_DDL, make_resize_plan_kernel

    bf = spark.read.format("binaryFile").load(str(mdir))
    plans = bf.select("path", "content").mapInPandas(
        make_resize_plan_kernel(max_w=224, max_h=224), schema=RESIZE_PLAN_DDL
    )
    for r in plans.collect():
        assert 1 <= r["out_w"] <= 224 and 1 <= r["out_h"] <= 224
        assert r["scale_e6"] <= 1_000_000  # never upscale
        # out dims = floor(src * scale) (>=1), aspect preserved via one scale
        s = r["scale_e6"] / 1e6
        assert abs(r["out_w"] - max(int(r["width"] * s), 1)) <= 1
        assert abs(r["out_h"] - max(int(r["height"] * s), 1)) <= 1
