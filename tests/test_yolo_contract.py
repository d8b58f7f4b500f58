"""Detect tier dispatch contract: the gated ultralytics path, proven
UNGATED via a numpy-backed fake (VERDICT r11 #4, mirroring the
fake-torch pattern in tests/test_torch_golden.py).

The YOLO tier (sources/images.py:detect_boxes_yolo) is the reference's
actual detector path (app.py:40,113-125) but ultralytics is absent
from the CI container AND the reference's `best.pt` weights are absent
from its own snapshot (.MISSING_LARGE_BLOBS), so exact parity is
unreachable by anyone. What IS checkable, and checked here without the
dependency, is the dispatch seam the deterministic numpy proposer
shares:

* boxes/conf/cls wiring out of the ultralytics result object
  (``result.boxes.xyxy/.conf/.cls``) into the UDTF row shape;
* conf-DESC ranking so ``box_idx == 0`` IS the reference's
  ``result.boxes.conf.argmax()`` top-1 pick (app.py:120-122);
* the F5 no-detection guard (zero boxes → zero rows, app.py:117-118)
  and NULL-pixel propagation (F3: undecodable frames skip, no raise);
* int-truncate + frame-clip of coords (``map(int, best_box.xyxy[0])``)
  and the F4 degenerate-box drop;
* per-executor model caching keyed by weights path;
* the import gate: without ultralytics the tier raises
  NotImplementedError naming the supported deterministic tier.
"""

from __future__ import annotations

import sys
import types
from functools import partial

import numpy as np
import pytest


# ------------------------------------------------- numpy-backed fake
class FakeBoxes:
    """Mimics ultralytics' result.boxes: len(), .xyxy, .conf, .cls."""

    def __init__(self, xyxy, conf, cls):
        self.xyxy = np.asarray(xyxy, dtype=np.float64).reshape(-1, 4)
        self.conf = np.asarray(conf, dtype=np.float64)
        self.cls = np.asarray(cls, dtype=np.float64)

    def __len__(self):
        return self.xyxy.shape[0]


class FakeResult:
    def __init__(self, boxes):
        self.boxes = boxes


class FakeYOLO:
    """Deterministic detector: emits boxes derived from the image
    shape/content so the test can predict the wiring exactly. Records
    every construction and every forward call."""

    constructed: list[str] = []

    def __init__(self, weights):
        FakeYOLO.constructed.append(weights)
        self.calls: list[tuple] = []

    def __call__(self, arr, verbose=True):
        assert verbose is False, "tier must pass verbose=False (app.py:113)"
        self.calls.append(arr.shape)
        h, w = arr.shape[0], arr.shape[1]
        if arr.max() == 0:  # flat black frame → no detections (F5)
            return [FakeResult(FakeBoxes(
                np.empty((0, 4)), np.empty(0), np.empty(0)
            ))]
        # three boxes, deliberately NOT conf-sorted; the third spills
        # past the frame and the fourth is degenerate after int-trunc
        return [FakeResult(FakeBoxes(
            xyxy=[
                [1.9, 2.9, 10.2, 12.7],     # conf .50 → rank 1
                [4.0, 4.0, 20.0, 20.0],     # conf .90 → rank 0 (top-1)
                [-5.0, -3.0, w + 9.0, h + 4.0],  # conf .20 → clipped, rank 2
                [6.3, 7.9, 6.9, 30.0],      # conf .95 → degenerate, drops
            ],
            conf=[0.5, 0.9, 0.2, 0.95],
            cls=[2.0, 1.0, 0.0, 3.0],
        ))]


@pytest.fixture
def fake_ultralytics(monkeypatch):
    from oracle_vector_search_spark.sources import images

    FakeYOLO.constructed = []
    mod = types.ModuleType("ultralytics")
    mod.YOLO = FakeYOLO
    monkeypatch.setitem(sys.modules, "ultralytics", mod)
    monkeypatch.setattr(images, "_YOLO_CACHE", {}, raising=True)
    yield mod


def _frame(h=32, w=24, c=3, fill=128):
    return np.full((h, w, c), fill, dtype=np.uint8)


def test_boxes_conf_cls_wiring_and_top1(fake_ultralytics):
    from oracle_vector_search_spark.sources.images import (
        _yolo_boxes_one, _yolo_model,
    )

    model = _yolo_model("best.pt")
    out = _yolo_boxes_one(model, _frame())

    # degenerate box (6.3→6 == 6.9→6) dropped; three survive
    assert len(out) == 3
    # rank 0 IS conf.argmax() among emitted boxes — the reference's
    # top-1 (app.py:120-122) — with int-truncated coords
    assert out[0] == {
        "x1": 4, "y1": 4, "x2": 20, "y2": 20,
        "area": 256, "conf": 0.9, "cls": 1,
    }
    # conf strictly descending down the ranks; cls rides along
    assert [b["conf"] for b in out] == [0.9, 0.5, 0.2]
    assert [b["cls"] for b in out] == [1, 2, 0]
    # the spilling box clips to the 24×32 frame
    assert (out[2]["x1"], out[2]["y1"], out[2]["x2"], out[2]["y2"]) == (
        0, 0, 24, 32
    )
    assert out[2]["area"] == 24 * 32


def test_no_detection_and_null_pixel_propagation(fake_ultralytics):
    """Through the detect tiers' row kernel, as the Spark stage of
    ``detect_boxes_yolo`` runs it, one image row at a time."""
    from oracle_vector_search_spark.sources.images import (
        _detect_rows, _yolo_model, _yolo_propose,
    )

    model = _yolo_model("best.pt")
    propose = partial(_yolo_propose, "best.pt")
    flat = _frame(fill=0)  # fake returns zero boxes → F5
    live = _frame()
    rows = [
        r
        for stem, px in [
            ("dead", flat.tobytes()), ("null", None), ("live", live.tobytes())
        ]
        for r in _detect_rows(propose, stem, px, 24, 32, 3)
    ]

    # NULL pixels never reach the model (F3); flat frame yields zero
    # rows (F5); only the live frame detects
    assert model.calls == [(32, 24, 3), (32, 24, 3)]
    assert {r[0] for r in rows} == {"live"}
    assert [r[1] for r in rows] == [0, 1, 2]
    assert rows[0] == ("live", 0, 4, 4, 20, 20, 256, 0.9, 1)


def test_model_cached_per_weights(fake_ultralytics):
    from oracle_vector_search_spark.sources.images import _yolo_model

    a = _yolo_model("best.pt")
    b = _yolo_model("best.pt")
    c = _yolo_model("other.pt")
    assert a is b and a is not c
    assert FakeYOLO.constructed == ["best.pt", "other.pt"]


def test_spark_stage_schema_matches_numpy_tier(fake_ultralytics, spark, sf_dir):
    """The gated tier must be a drop-in at the seam: same input
    columns, same output schema as detect_boxes_numpy. Plan-built only
    (mapInPandas closures run in worker processes where the in-process
    fake doesn't exist)."""
    from oracle_vector_search_spark.sources.images import (
        detect_boxes_numpy, detect_boxes_yolo,
    )

    decoded = spark.createDataFrame(
        [("s0", _frame().tobytes(), 24, 32, 3)],
        "stem string, pixels binary, width int, height int, channels int",
    )
    yolo_df = detect_boxes_yolo(decoded)
    numpy_df = detect_boxes_numpy(decoded)
    assert yolo_df.schema == numpy_df.schema


def test_import_gate_names_supported_tier(monkeypatch):
    from oracle_vector_search_spark.sources.images import detect_boxes_yolo

    monkeypatch.setitem(sys.modules, "ultralytics", None)  # forces ImportError
    with pytest.raises(NotImplementedError, match="detect_boxes_numpy"):
        detect_boxes_yolo(object())
