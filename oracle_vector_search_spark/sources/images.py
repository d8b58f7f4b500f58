"""Multimodal image pipeline (SURVEY.md §7 M6) — the reference's pixel
path (S1/S2, T1-T9) as Spark binary columns + Arrow pandas UDFs.

Design (multimodal-columns pattern): an image is an opaque BINARY
column plus typed metadata (width, height, channels). Decode,
preprocess, crop, detect and the other per-image steps are row
kernels run through ``operators.rowmap.map_rows`` (one image in, zero
or more rows out); only embedding runs per Arrow batch, so a model
forward covers many crops. The DataFrame plan stays declarative
around both.

Heavy deps are OPTIONAL: cv2/torch are imported lazily; without them
- decoding falls back to the engine's deterministic FAKEIMG codec
  (real JPEG/PNG bytes → NULL, exercising the reference's F3 drop
  rule, build_faiss_db.py:172-173);
- embedding falls back to the hash-projection embedder
  (functions.embed) — same shape, fully deterministic;
- detection falls back to a deterministic single-box stub (T9's
  UDTF shape: one row in → N boxes out via explode).

Reference parity citations: scan build_faiss_db.py:70,162-164;
decode :171; gamma LUT :38,53-55,75-76; blur :78-79; CLAHE app.py:
60-66; crop :187/app.py:128; embed :109-134/app.py:42-47; detect
app.py:113-125.
"""

from __future__ import annotations

import hashlib
import struct
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.operators.rowmap import map_rows

FAKE_MAGIC = b"FAKEIMG1"

IMAGE_SCHEMA = (
    "path string, stem string, width int, height int, channels int, "
    "pixels binary"
)


# --------------------------------------------------------------- S1: scan
def scan_images(spark: SparkSession, directory: str) -> DataFrame:
    """Directory scan via the binaryFile source with the reference's
    extension filter (F1) applied as a pushed glob + case-insensitive
    rlike. Returns (path, stem, length, content)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.*")
        .load(directory)
    )
    return (
        df.filter(F.lower("path").rlike(r"\.(jpg|jpeg|png|fake)$"))
        .select(
            "path",
            F.regexp_extract(F.col("path"), r"([^/]+)\.[^.]+$", 1).alias(
                "stem"
            ),
            "length",
            "content",
        )
    )


# ------------------------------------------------- FAKEIMG test codec
def encode_fake_image(arr: np.ndarray) -> bytes:
    """Serialize an HxWx3 uint8 array as FAKEIMG bytes (deterministic,
    dependency-free stand-in for JPEG in tests)."""
    h, w, c = arr.shape
    return FAKE_MAGIC + struct.pack("<III", w, h, c) + arr.tobytes()


def _decode_one(b: bytes | None):
    if b is None:
        return None
    if b.startswith(FAKE_MAGIC):
        if len(b) < 20:  # truncated header — F3, never raise
            return None
        w, h, c = struct.unpack("<III", b[8:20])
        expect = w * h * c
        body = b[20:]
        if expect == 0 or len(body) != expect:
            return None
        return np.frombuffer(body, dtype=np.uint8).reshape(h, w, c)
    try:  # fastest real decoder, if present
        import cv2

        arr = cv2.imdecode(np.frombuffer(b, np.uint8), cv2.IMREAD_COLOR)
        return arr  # None on failure — F3
    except ImportError:
        pass
    if b[:2] == b"\xff\xd8":  # baseline JPEG: dependency-free tier
        from oracle_vector_search_spark.functions.jpeg_numpy import (
            decode_baseline_jpeg,
        )

        rgb = decode_baseline_jpeg(b)
        if rgb is None:
            return None  # malformed — F3
        # BGR to match the cv2 tier (reference build_faiss_db.py:171
        # reads with cv2.imread, so downstream byte order is BGR)
        return rgb[:, :, ::-1].copy()
    if b[:8] == b"\x89PNG\r\n\x1a\n":  # PNG: dependency-free tier (r8)
        from oracle_vector_search_spark.functions.png_numpy import (
            decode_png,
        )

        px = decode_png(b)
        if px is None:
            return None  # malformed — F3
        c = px.shape[2]
        if c == 1:
            rgb = np.repeat(px, 3, axis=2)
        elif c == 2:  # gray+alpha → gray channel, alpha dropped
            rgb = np.repeat(px[:, :, :1], 3, axis=2)
        elif c == 4:  # RGBA → RGB, alpha dropped (cv2 IMREAD_COLOR rule)
            rgb = px[:, :, :3]
        else:
            rgb = px
        return rgb[:, :, ::-1].copy()  # BGR like the cv2 tier
    return None  # no decoder for this format → F3 drop


def _image_array(px, w, h, c) -> np.ndarray:
    """Headerless ``pixels`` bytes → the (h, w, c) uint8 array."""
    return np.frombuffer(bytes(px), np.uint8).reshape(int(h), int(w), int(c))


def decode_images(df: DataFrame) -> DataFrame:
    """S2: content BINARY → (width, height, channels, pixels BINARY).
    Undecodable rows yield NULL pixels; callers filter (F3)."""

    def decode(path, stem, content):
        arr = _decode_one(None if content is None else bytes(content))
        if arr is None:
            return [(path, stem, None, None, None, None)]
        h, w, c = arr.shape
        return [(path, stem, w, h, c, arr.tobytes())]

    return map_rows(df, decode, IMAGE_SCHEMA, ["path", "stem", "content"])


# ----------------------------------------- JPEG header metadata (no deps)
def jpeg_sof_dims(b: bytes | None) -> tuple[int | None, int | None]:
    """(width, height) from a JPEG's SOF frame header — a marker-segment
    walk over the raw bytes, NO decoder dependency. Returns (None, None)
    for non-JPEG / truncated input (F3 discipline: never raise).

    This is the real-metadata tier the engine uses when cv2 is absent:
    dimensions live in the SOFn segment (baseline/progressive 0xC0-0xCF
    minus the huffman/arithmetic pseudo-markers), so typed image
    metadata is extractable from REAL bytes at scan cost, not decode
    cost — at 100 TB that difference is the whole job."""
    if not b or len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return (None, None)
    i, n = 2, len(b)
    while i + 3 < n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers carry no length
            continue
        seg = (b[i + 2] << 8) | b[i + 3]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return (None, None)
            h = (b[i + 5] << 8) | b[i + 6]
            w = (b[i + 7] << 8) | b[i + 8]
            return (w, h)
        i += 2 + seg
    return (None, None)


def image_dimensions(df: DataFrame, content_col: str = "content") -> DataFrame:
    """+ (width INT, height INT) parsed from real JPEG bytes via the
    SOF header walk — Arrow-batched pandas UDF, unparseable → NULLs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<width:int,height:int>")
    def dims_udf(content: pd.Series) -> pd.DataFrame:
        vals = [
            jpeg_sof_dims(bytes(b) if b is not None else None)
            for b in content
        ]
        return pd.DataFrame(vals, columns=["width", "height"])

    d = df.withColumn("__dims", dims_udf(F.col(content_col)))
    return d.select(
        "*", F.col("__dims.width").alias("width"),
        F.col("__dims.height").alias("height"),
    ).drop("__dims")


# --------------------------------------------------- pixel transforms
_GAMMA = 1.5  # the reference's gamma (build_faiss_db.py:38)


def _gamma_lut(gamma: float) -> np.ndarray:
    """The reference's 256-entry LUT ((i/255)^(1/γ))·255 —
    build_faiss_db.py:53-55."""
    inv = 1.0 / gamma
    return np.clip(
        ((np.arange(256) / 255.0) ** inv) * 255.0, 0, 255
    ).astype(np.uint8)


def _blur3(arr: np.ndarray) -> np.ndarray:
    """3×3 Gaussian blur, kernel [1,2,1]⊗[1,2,1]/16, edge-replicated —
    the numpy twin of cv2.GaussianBlur(img,(3,3),0)."""
    k = np.array([1.0, 2.0, 1.0]) / 4.0
    p = np.pad(arr.astype(np.float32), ((1, 1), (1, 1), (0, 0)), "edge")
    v = p[:-2] * k[0] + p[1:-1] * k[1] + p[2:] * k[2]
    h = v[:, :-2] * k[0] + v[:, 1:-1] * k[1] + v[:, 2:] * k[2]
    return np.clip(np.rint(h), 0, 255).astype(np.uint8)


def _equalize_numpy(arr: np.ndarray) -> np.ndarray:
    """T3, dependency-free tier: TRUE CLAHE (clip 4.0, 8×8 tiles) on
    the cv2-fixed-point gray plane, pure numpy — the bit-exact twin of
    the reference QUERY path's apply_clahe_to_image (app.py:60-66).
    Replaces the r≤8 global-equalize stand-in (VERDICT r8 #3); the
    kernel lives in functions/clahe_numpy.py and
    `reference_crops_clahe_chain_profile` pins it to frozen goldens
    from an independent scalar implementation."""
    from oracle_vector_search_spark.functions.clahe_numpy import clahe_bgr

    return clahe_bgr(arr, clip_limit=4.0, tiles=(8, 8))


def _equalize(arr: np.ndarray) -> np.ndarray:
    """T3: cv2 CLAHE when present (the literal reference op,
    app.py:60-66), else the bit-identical pure-numpy twin — the two
    tiers agree exactly (cv2-gated test in tests/test_clahe.py)."""
    try:
        import cv2

        gray = cv2.cvtColor(arr, cv2.COLOR_BGR2GRAY)
        clahe = cv2.createCLAHE(clipLimit=4.0, tileGridSize=(8, 8))
        eq = clahe.apply(gray)
        return cv2.cvtColor(eq, cv2.COLOR_GRAY2BGR)
    except ImportError:
        return _equalize_numpy(arr)


def _preprocess_one(arr: np.ndarray, mode: str, lut: np.ndarray) -> np.ndarray:
    """The per-image kernel of :func:`preprocess_images`, shared with
    the fused build pass (:func:`embed_labelled_crops`) so build-side
    and query-side preprocessing cannot drift."""
    if mode == "gamma_blur":
        return _blur3(lut[arr])
    if mode == "clahe":
        return _equalize(arr)
    return arr


def preprocess_images(
    df: DataFrame, mode: str = "gamma_blur", gamma: float = _GAMMA
) -> DataFrame:
    """T1-T3 as ONE parameterized operator applied identically on build
    and query paths — fixing the reference's build/query preprocessing
    mismatch by construction (SURVEY.md §1.4.2). mode ∈ {gamma_blur,
    clahe, none}."""
    lut = _gamma_lut(gamma)
    px, w, h, c = (
        df.columns.index(n) for n in ("pixels", "width", "height", "channels")
    )

    def preprocess(*row):
        if row[px] is None:
            return [row]
        arr = _image_array(row[px], row[w], row[h], row[c])
        out = list(row)
        out[px] = _preprocess_one(arr, mode, lut).tobytes()
        return [tuple(out)]

    return map_rows(df, preprocess, df.schema)


def _crop_one(arr: np.ndarray, x1, y1, x2, y2) -> bytes | None:
    """The crop kernel of :func:`crop_boxes` and the fused build pass:
    headerless bytes of ``arr[y1:y2, x1:x2]``, None when empty."""
    crop = arr[int(y1): int(y2), int(x1): int(x2)]
    return crop.tobytes() if crop.size else None


def crop_boxes(df: DataFrame) -> DataFrame:
    """T6: numpy slice crop pixels[y1:y2, x1:x2] per row (the box columns
    come from operators.ingest.denormalize_boxes)."""

    def crop(stem, box_idx, class_id, x1, y1, x2, y2, px, w, h, c):
        if px is not None:
            px = _crop_one(_image_array(px, w, h, c), x1, y1, x2, y2)
        return [(stem, box_idx, class_id, x1, y1, x2, y2, px)]

    return map_rows(
        df,
        crop,
        "stem string, box_idx long, class_id int, x1 int, y1 int, "
        "x2 int, y2 int, crop binary",
        [
            "stem", "box_idx", "class_id", "x1", "y1", "x2", "y2",
            "pixels", "width", "height", "channels",
        ],
    )


def embed_labelled_crops(
    images: DataFrame,
    labels: DataFrame,
    mode: str = "gamma_blur",
    dims: int = 8,
) -> DataFrame:
    """The offline build's pixel path as ONE grouped Python pass — the
    reference's per-image loop (build_faiss_db.py:167-205): images
    (stem, content) cogrouped on ``stem`` with parsed labels (stem,
    box_idx, class_id, x_c, y_c, w, h). Per stem, each image is decoded
    once and preprocessed (:func:`_preprocess_one`, the kernel of
    :func:`preprocess_images`); every label box is denormalized against
    THAT image's width and height
    (``operators.ingest.denormalize_boxes_numpy``) and cropped
    (:func:`_crop_one`, the kernel of :func:`crop_boxes`); the stem's
    crops are hash-embedded in one call. Undecodable images, stems on
    one side only and boxes clipped to nothing yield no rows (F2-F4).
    Returns (stem, box_idx, class_id, embedding).

    Against the stage chain decode → preprocess → join → crop → embed
    this is one Python operator instead of six, and the pixels are
    decoded once instead of once per join that reads them: only the
    encoded bytes and the label rows shuffle."""
    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.operators.ingest import (
        denormalize_boxes_numpy,
    )

    lut = _gamma_lut(_GAMMA)
    cols = ["stem", "box_idx", "class_id", "embedding"]

    def per_stem(imgs: pd.DataFrame, labs: pd.DataFrame) -> pd.DataFrame:
        rows = []
        if len(labs):
            box_idx = labs["box_idx"].to_numpy()
            class_id = labs["class_id"].to_numpy()
            for stem, content in zip(imgs["stem"], imgs["content"]):
                arr = _decode_one(
                    bytes(content) if content is not None else None
                )
                if arr is None:
                    continue
                arr = _preprocess_one(arr, mode, lut)
                keep, boxes = denormalize_boxes_numpy(
                    labs["x_c"], labs["y_c"], labs["w"], labs["h"],
                    arr.shape[1], arr.shape[0],
                )
                for b, c, box in zip(box_idx[keep], class_id[keep], boxes):
                    crop = _crop_one(arr, *box)
                    if crop is not None:
                        rows.append((stem, int(b), int(c), crop))
        if not rows:
            return pd.DataFrame([], columns=cols)
        emb = hash_projection_embed_batch([r[3] for r in rows], dims)
        return pd.DataFrame(
            [(s, b, c, e) for (s, b, c, _), e in zip(rows, emb)],
            columns=cols,
        )

    return (
        images.select("stem", "content")
        .groupBy("stem")
        .cogroup(
            labels.select(
                "stem", "box_idx", "class_id", "x_c", "y_c", "w", "h"
            ).groupBy("stem")
        )
        .applyInPandas(
            per_stem,
            schema="stem string, box_idx long, class_id int, "
            "embedding array<double>",
        )
    )


# ------------------------------------------------------------ T8: embed
_RESNET_CACHE: dict[str, object] = {}  # per-executor-process model cache


def _resnet18_extractor():
    """Reference parity: ResNet-18, fc=Identity, eval mode
    (build_faiss_db.py:110-116), loaded once per executor process."""
    if "model" not in _RESNET_CACHE:
        import torch
        from torchvision import models

        m = models.resnet18(weights=models.ResNet18_Weights.DEFAULT)
        m.fc = torch.nn.Identity()
        m.eval()
        _RESNET_CACHE["model"] = m
    return _RESNET_CACHE["model"]


def _torch_embed_batch(arrays: list) -> list:
    """ResNet-18 features for one Arrow batch of DECODED crop arrays
    ((h, w, c) uint8 or None). Crops are grouped by pixel shape and
    each same-shape group runs as ONE stacked NCHW forward pass (the
    reference loops batch-size-1 per crop, build_faiss_db.py:126-134;
    variable shapes only cost one pass per distinct shape, not per
    row). None rows embed as None (F3 rule). Native 512-d output.

    (r9 fix, found by exercising this path through the convnet twin:
    this function used to take raw crop BLOBS and `_decode_one` them —
    but crop_boxes emits headerless raw bytes, so every crop decoded
    to None and the torch tier embedded nothing. Array reconstruction
    now happens once in embed_crops for both model tiers.)"""
    import torch
    from torchvision.transforms import functional as TF

    model = _resnet18_extractor()
    out: list = [None] * len(arrays)
    groups: dict[tuple, list[int]] = {}
    for i, a in enumerate(arrays):
        if a is not None and a.size:
            groups.setdefault(a.shape, []).append(i)
    for idxs in groups.values():
        stacked = np.stack([arrays[i] for i in idxs])
        t = torch.from_numpy(stacked).permute(0, 3, 1, 2).float() / 255.0
        # ImageNet preprocess (build_faiss_db.py:118-124), batched
        t = TF.resize(t, 256, antialias=True)
        t = TF.center_crop(t, 224)
        t = TF.normalize(
            t, mean=[0.485, 0.456, 0.406], std=[0.229, 0.224, 0.225]
        )
        with torch.no_grad():
            feats = model(t)
        for row, i in zip(feats.cpu().numpy(), idxs):
            out[i] = [float(x) for x in row]
    return out


def embed_crops(
    df: DataFrame,
    dims: int = 8,
    tier: str = "hash",
) -> DataFrame:
    """Pluggable embedder, three tiers:

    * ``hash`` (default): hash-projection — deterministic,
      CI-friendly, matches the functions.embed SQL twin.
    * ``convnet``: fixed-weight pure-numpy conv net
      (functions/convnet_numpy.py) — a REAL conv/pool/normalize
      forward with the torch tier's exact batching contract
      (per-executor weight cache, shape-grouped stacked forwards,
      None on undecodable/too-small crops), ungated in CI.
    * ``torch``: per-executor-cached ResNet-18 (fc=Identity) — the
      reference's model (build_faiss_db.py:109-134) — native 512-d
      features, same-shape crops stacked into one forward per Arrow
      batch instead of the reference's batch-size-1 loop."""
    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )

    if tier not in ("hash", "convnet", "torch"):
        raise ValueError(f"unknown embed tier {tier!r}")
    if tier == "torch":
        try:
            import torch  # noqa: F401
            import torchvision  # noqa: F401
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "torch not installed in this environment; the default "
                "hash-projection embedder is the supported CI path"
            ) from exc

    out_schema = (
        "stem string, box_idx long, class_id int, embedding array<double>"
    )

    def _crop_arrays(pdf: pd.DataFrame) -> list:
        """Raw crop bytes → (h, w, c) uint8 arrays using the CLIPPED
        box coords (crop blobs are headerless — shape travels in the
        x1..y2 columns, already clipped by denormalize_boxes).  Any
        inconsistency → None (F3, never raise)."""
        arrays = []
        for b, x1, y1, x2, y2 in zip(
            pdf["crop"], pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]
        ):
            if b is None:
                arrays.append(None)
                continue
            h, w = int(y2) - int(y1), int(x2) - int(x1)
            if h <= 0 or w <= 0 or len(b) % (h * w):
                arrays.append(None)
                continue
            arrays.append(_image_array(b, w, h, len(b) // (h * w)))
        return arrays

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if tier == "torch":
                emb = _torch_embed_batch(_crop_arrays(pdf))
            elif tier == "convnet":
                from oracle_vector_search_spark.functions.convnet_numpy import (  # noqa: E501
                    convnet_embed_batch,
                )

                emb = convnet_embed_batch(_crop_arrays(pdf), dims)
            else:
                # whole-batch embed: stacked scale/normalize math,
                # duplicate crops embedded once per batch
                emb = hash_projection_embed_batch(
                    [
                        bytes(b) if b is not None else None
                        for b in pdf["crop"]
                    ],
                    dims,
                )
            yield pd.DataFrame(
                {
                    "stem": pdf["stem"],
                    "box_idx": pdf["box_idx"],
                    "class_id": pdf["class_id"],
                    "embedding": emb,
                }
            )

    return df.select(
        "stem", "box_idx", "class_id", "x1", "y1", "x2", "y2", "crop"
    ).mapInPandas(batches, schema=out_schema)


# ------------------------------------------------------------ T9: detect
_BOX_SCHEMA = (
    "stem string, box_idx int, x1 int, y1 int, x2 int, y2 int, "
    "area int, conf double, cls int"
)
_IMAGE_COLS = ["stem", "pixels", "width", "height", "channels"]


def detect_boxes(df: DataFrame) -> DataFrame:
    """Detector (UDTF shape): a row map from one image's pixels to its
    boxes (x1, y1, x2, y2, conf, cls); NULL pixels give no row (F5).
    Deterministic stub: one centered box covering the middle half, conf
    from the content hash — the YOLO path (app.py:113-125) plugs in
    here when ultralytics is available."""

    def detect(stem, px, w, h):
        if px is None:
            return []  # F5: no detection
        hsh = hashlib.md5(bytes(px)).hexdigest()
        conf = int(hsh[:6], 16) / float(0xFFFFFF)
        w, h = int(w), int(h)
        return [(
            stem, w // 4, h // 4, 3 * w // 4, 3 * h // 4, round(conf, 6),
            int(hsh[6], 16) % 4,
        )]

    return map_rows(
        df,
        detect,
        "stem string, x1 int, y1 int, x2 int, y2 int, conf double, cls int",
        ["stem", "pixels", "width", "height"],
    )


def _detect_rows(propose, stem, px, w, h, c) -> list[tuple]:
    """The row kernel of the detect tiers: one decoded image → one
    ``_BOX_SCHEMA`` row per box ``propose(arr)`` returns, ``box_idx``
    in its rank order. NULL pixels never reach ``propose`` and give no
    row (F3/F5, undecodable frames yield zero detections)."""
    if px is None:
        return []
    boxes = propose(_image_array(px, w, h, c))
    return [
        (
            stem, i, b["x1"], b["y1"], b["x2"], b["y2"], b["area"],
            b["conf"], b["cls"],
        )
        for i, b in enumerate(boxes)
    ]


def detect_boxes_numpy(df: DataFrame, min_area: int | None = None) -> DataFrame:
    """T9 REAL tier (VERDICT r10 #3): the deterministic pure-numpy box
    proposer — midpoint threshold → 4-connected components →
    contrast-ranked boxes (functions/detect_numpy.py) — in the same
    UDTF shape as the stub/YOLO tiers: one input image row → 0..N
    proposal rows (0 = the F5 no-detection path, reference
    app.py:117-118). Pixels never leave the map stage; only
    (stem, box coords, conf, cls) rows shuffle."""
    from oracle_vector_search_spark.functions.detect_numpy import (
        DEFAULT_MIN_AREA,
        propose_boxes,
    )

    ma = DEFAULT_MIN_AREA if min_area is None else min_area
    propose = partial(propose_boxes, min_area=ma)
    return map_rows(
        df, partial(_detect_rows, propose), _BOX_SCHEMA, _IMAGE_COLS
    )


_YOLO_CACHE: dict[str, object] = {}  # per-executor-process model cache


def _yolo_model(weights: str):
    """Reference parity: ultralytics YOLO loaded once per executor
    process (app.py:40 loads `best.pt` once at module import)."""
    if weights not in _YOLO_CACHE:
        from ultralytics import YOLO

        _YOLO_CACHE[weights] = YOLO(weights)
    return _YOLO_CACHE[weights]


def _yolo_boxes_one(model, arr: np.ndarray) -> list[dict]:
    """One decoded (h, w, c) image → conf-DESC-ranked box dicts in the
    numpy tier's exact row shape. The reference keeps only
    ``result.boxes.conf.argmax()`` (app.py:120-125) — that is rank 0
    here; emitting ALL ranked proposals preserves the shared 1→N UDTF
    seam, and callers reproduce the reference's top-1 with
    ``box_idx == 0``. Zero boxes → empty list (the F5 no-detection
    guard, app.py:117-118). Coords are int-truncated like the
    reference's ``map(int, best_box.xyxy[0])``, then clipped to the
    frame; degenerate boxes drop (F4)."""
    result = model(arr, verbose=False)[0]
    boxes = result.boxes
    if len(boxes) == 0:
        return []
    xyxy = np.asarray(boxes.xyxy, dtype=np.float64).reshape(len(boxes), 4)
    conf = np.asarray(boxes.conf, dtype=np.float64).reshape(-1)
    cls = np.asarray(boxes.cls, dtype=np.float64).reshape(-1)
    h, w = int(arr.shape[0]), int(arr.shape[1])
    out: list[dict] = []
    # stable sort: equal-conf boxes keep the model's emission order
    for i in np.argsort(-conf, kind="stable"):
        x1 = min(max(int(xyxy[i, 0]), 0), w)
        y1 = min(max(int(xyxy[i, 1]), 0), h)
        x2 = min(max(int(xyxy[i, 2]), 0), w)
        y2 = min(max(int(xyxy[i, 3]), 0), h)
        if x2 <= x1 or y2 <= y1:
            continue
        out.append(
            {
                "x1": x1,
                "y1": y1,
                "x2": x2,
                "y2": y2,
                "area": (x2 - x1) * (y2 - y1),
                "conf": round(float(conf[i]), 6),
                "cls": int(cls[i]),
            }
        )
    return out


def _yolo_propose(weights: str, arr: np.ndarray) -> list[dict]:
    """``_yolo_boxes_one`` with the executor's cached model."""
    return _yolo_boxes_one(_yolo_model(weights), arr)


def detect_boxes_yolo(
    df: DataFrame, weights: str = "best.pt"
) -> DataFrame:
    """T9 REAL-MODEL tier (gated): ultralytics YOLOv8 inference
    (reference app.py:40,113-125) at the SAME UDTF seam as
    ``detect_boxes_numpy`` — identical input columns, identical output
    schema, conf-ranked box_idx (0 = the reference's
    ``conf.argmax()`` pick), zero rows on no-detection/NULL pixels.
    The model loads once per executor process; pixels never leave the
    map stage. ultralytics is absent from the CI container, so the
    dispatch/wiring contract is proven by the ungated fake-ultralytics
    test (tests/test_yolo_contract.py) and this gate raises
    NotImplementedError pointing at the supported deterministic tier."""
    try:
        import ultralytics  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "ultralytics not installed in this environment; "
            "detect_boxes_numpy is the supported deterministic tier "
            "at the same seam"
        ) from exc

    propose = partial(_yolo_propose, weights)
    return map_rows(
        df, partial(_detect_rows, propose), _BOX_SCHEMA, _IMAGE_COLS
    )


_IMAGENET_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float32)
_IMAGENET_STD = np.array([0.229, 0.224, 0.225], dtype=np.float32)


def _cnn_input_tensor(
    arr: np.ndarray, resize_to: int = 256, crop_to: int = 224
) -> np.ndarray:
    """The per-array T7 kernel (shared by the ``cnn_preprocess``
    operator and the real-pixel parity query): nearest-neighbor resize
    so the SHORT side == resize_to (torchvision Resize semantics) →
    center crop → scale to [0,1] → ImageNet mean/std normalize → CHW
    float32."""
    scale = resize_to / min(arr.shape[0], arr.shape[1])
    nh = max(int(round(arr.shape[0] * scale)), resize_to)
    nw = max(int(round(arr.shape[1] * scale)), resize_to)
    yi = (np.arange(nh) * arr.shape[0] // nh).astype(int)
    xi = (np.arange(nw) * arr.shape[1] // nw).astype(int)
    r = arr[np.ix_(yi, xi)]
    y0 = (nh - crop_to) // 2
    x0 = (nw - crop_to) // 2
    c = r[y0: y0 + crop_to, x0: x0 + crop_to]
    t = c.astype(np.float32) / 255.0
    t = (t - _IMAGENET_MEAN) / _IMAGENET_STD
    return np.transpose(t, (2, 0, 1))  # HWC → CHW


def cnn_preprocess(
    df: DataFrame, resize_to: int = 256, crop_to: int = 224
) -> DataFrame:
    """T7: the reference's CNN input pipeline (Resize 256 → CenterCrop
    224 → scale to [0,1] → ImageNet mean/std normalize,
    build_faiss_db.py:117-124) as one numpy row map. Output float32
    CHW tensors as binary — the exact shape a torch embedder consumes."""

    def tensor(stem, px, w, h, c):
        if px is None:
            return []
        t = _cnn_input_tensor(_image_array(px, w, h, c), resize_to, crop_to)
        return [(stem, t.tobytes(), *t.shape)]

    return map_rows(
        df, tensor, "stem string, tensor binary, c int, h int, w int",
        _IMAGE_COLS,
    )


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash — the public average/gradient
    hash family used for image near-dedup): grayscale → nearest-
    neighbor resize to 9×8 (the house ``np.ix_`` index-grid convention,
    same as ``resize_frames``/``_cnn_input_tensor``) → 64 horizontal
    gradient bits. Emitted as a 64-char '0'/'1' string so the value is
    engine-portable (no signed-64-bit packing pitfalls). Rows with
    NULL pixels drop (F3).

    Input: decoded rows (stem, pixels, width, height, channels).
    Output: (stem, dhash). Robust to small brightness perturbations by
    construction — the dedup signal for near-identical crops/thumbs."""

    def dhash(stem, px, w, h, c):
        if px is None:
            return []
        g = _image_array(px, w, h, c).mean(axis=2)
        yi = (np.arange(8) * int(h) // 8).astype(int)
        xi = (np.arange(9) * int(w) // 9).astype(int)
        r = g[np.ix_(yi, xi)]
        bits = r[:, 1:] > r[:, :-1]
        return [(stem, "".join("1" if b else "0" for b in bits.ravel()))]

    return map_rows(df, dhash, "stem string, dhash string", _IMAGE_COLS)
