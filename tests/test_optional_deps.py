"""Probe tests for the optional heavy-dependency paths.

The engine's default CI path uses the FAKEIMG codec and the
hash-projection embedder; the cv2/torch/real-codec branches exist in
sources/images.py and sources/media.py but cannot run in an environment
without those libraries. These tests make that gap VISIBLE: when the
dependency is present they exercise the real branch, and when it is
absent they record an explicit pytest skip instead of silently never
running (VERDICT r1 §Next-round #5/#9).
"""

from __future__ import annotations

import importlib.util

import numpy as np
import pytest

HAS_CV2 = importlib.util.find_spec("cv2") is not None
HAS_TORCH = importlib.util.find_spec("torch") is not None
HAS_SOUNDFILE = importlib.util.find_spec("soundfile") is not None


@pytest.mark.skipif(not HAS_CV2, reason="cv2 not installed: real JPEG/PNG "
                    "decode branch unexercised (FAKEIMG codec covers the "
                    "operator plumbing; real bytes -> NULL -> F3 drop)")
def test_cv2_real_jpeg_decode_roundtrip(spark):
    import cv2

    from oracle_vector_search_spark.sources.images import decode_images

    arr = np.random.RandomState(7).randint(0, 255, (32, 48, 3), np.uint8)
    ok, buf = cv2.imencode(".jpg", arr)
    assert ok
    df = spark.createDataFrame(
        [("a.jpg", "a", bytes(buf.tobytes()))],
        "path string, stem string, content binary",
    )
    row = decode_images(df).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (48, 32, 3)
    decoded = np.frombuffer(row["pixels"], np.uint8).reshape(32, 48, 3)
    # JPEG is lossy: assert closeness, not equality
    assert float(np.abs(decoded.astype(int) - arr.astype(int)).mean()) < 16


@pytest.mark.skipif(not HAS_TORCH, reason="torch not installed: ResNet-18 "
                    "embed branch (reference build_faiss_db.py:109-134) "
                    "unexercised; hash-projection embedder is the CI path")
def test_torch_embed_branch_runs(spark):
    # Build the input the way the pipeline does (decode -> parse ->
    # denorm -> crop) so it carries the box columns embed_crops selects
    # and headerless raw crop bytes shaped by them — a hand-rolled
    # (stem, crop) frame no longer satisfies the contract (ADVICE r9).
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.operators.ingest import (
        denormalize_boxes,
        parse_yolo_labels,
    )
    from oracle_vector_search_spark.sources.images import (
        crop_boxes,
        decode_images,
        embed_crops,
        encode_fake_image,
    )

    arr = np.random.RandomState(3).randint(0, 255, (224, 224, 3), np.uint8)
    images = spark.createDataFrame(
        [("a", "d/a.jpg", encode_fake_image(arr))],
        "stem string, path string, content binary",
    )
    labels = spark.createDataFrame(
        [("a", 1, "0 0.5 0.5 0.5 0.5")],
        "stem string, box_idx long, value string",
    )
    decoded = decode_images(images)
    parsed = parse_yolo_labels(labels, passthrough=["box_idx"])
    boxes = denormalize_boxes(
        parsed.join(decoded.select("stem", "width", "height"), "stem")
    ).select("stem", "box_idx", "class_id", "x1", "y1", "x2", "y2")
    crops = crop_boxes(
        boxes.join(decoded, "stem").filter(F.col("pixels").isNotNull())
    ).filter(F.col("crop").isNotNull())
    out = embed_crops(crops, tier="torch").collect()
    assert len(out) == 1
    emb = out[0]["embedding"]
    assert emb is not None and len(emb) == 512  # native ResNet-18 dims


def test_torch_branch_raises_informatively_when_absent(spark):
    if HAS_TORCH:
        pytest.skip("torch installed: the absent-dep guard cannot fire")
    from oracle_vector_search_spark.sources.images import embed_crops

    df = spark.createDataFrame(
        [("a", 1, 0, b"\x00")],
        "stem string, box_idx long, class_id int, crop binary",
    )
    with pytest.raises(NotImplementedError, match="hash-projection"):
        embed_crops(df, tier="torch")


@pytest.mark.skipif(not HAS_SOUNDFILE, reason="soundfile not installed: "
                    "real wav decode branch unexercised; FAKEAUD1 codec "
                    "covers the operator plumbing")
def test_real_wav_decode(spark):
    import io as _io

    import soundfile as sf

    from oracle_vector_search_spark.sources.media import audio_features

    buf = _io.BytesIO()
    sf.write(buf, np.zeros(1600, dtype=np.int16), 16000, format="WAV",
             subtype="PCM_16")
    df = spark.createDataFrame(
        [(1, bytes(buf.getvalue()))], "id long, content binary"
    )
    rows = audio_features(df).collect()
    assert rows and rows[0]["sample_rate"] == 16000
    assert rows[0]["n_samples"] == 1600


try:
    HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # parent 'google' namespace absent entirely
    HAS_PROTOBUF = False


@pytest.mark.skipif(
    not HAS_PROTOBUF,
    reason="google.protobuf not installed: transformWithStateInPandas "
    "(v2 arbitrary-state API) needs the state-server protocol",
)
def test_transform_with_state_matches_batch(spark, sf_dir):
    """v2 stateful (ValueState + MapState) over a fully-drained bounded
    stream must equal the batch aggregation — the same contract its v1
    twin stateful_user_counts is oracle-checked on."""
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.streaming.ops import (
        transform_with_state_user_type_stats,
    )

    got = {
        r["user_id"]: (r["n_events"], r["n_types"], r["sum_value_cents"])
        for r in transform_with_state_user_type_stats(
            spark, sf_dir
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["n_types"], r["sum_value_cents"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_guard_raises_when_absent(spark, sf_dir):
    if HAS_PROTOBUF:
        pytest.skip("protobuf installed: the absent-dep guard cannot fire")
    from oracle_vector_search_spark.streaming.ops import (
        transform_with_state_user_type_stats,
    )

    with pytest.raises(ImportError, match="protobuf"):
        transform_with_state_user_type_stats(spark, sf_dir)
