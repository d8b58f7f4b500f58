"""End-to-end API test: the reference's full build → search lifecycle
over real files on disk."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from oracle_vector_search_spark.api import build_index, load_index, search
from oracle_vector_search_spark.sources.images import encode_fake_image


@pytest.fixture(scope="module")
def corpus_dir(spark):
    d = tempfile.mkdtemp(prefix="corpus_")
    rng = np.random.RandomState(11)
    for i in range(6):
        img = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
        with open(os.path.join(d, f"img{i}.fake"), "wb") as f:
            f.write(encode_fake_image(img))
    return d


@pytest.fixture(scope="module")
def labels(spark):
    rows = []
    for i in range(6):
        rows.append((f"img{i}", 1, f"{i % 4} 0.5 0.5 0.6 0.6"))
        if i % 3 == 0:
            rows.append((f"img{i}", 2, f"{(i + 1) % 4} 0.3 0.3 0.2 0.2"))
    return spark.createDataFrame(
        rows, "stem string, box_idx long, value string"
    )


def test_build_search_lifecycle(spark, corpus_dir, labels):
    with tempfile.TemporaryDirectory() as out:
        index = build_index(
            spark, corpus_dir, labels, out_path=f"{out}/index"
        )
        n = index.count()
        assert n == 8  # 6 single-box + 2 extra boxes
        assert index.filter(F.col("class_name").isNull()).count() == 0

        # reload like a fresh session and search with 2 of the corpus
        # images as "uploads" (query crops come from the detector, index
        # crops from labels, so exact self-match is not guaranteed —
        # assertions cover shape/ranking contract)
        idx = load_index(spark, f"{out}/index")
        queries = spark.createDataFrame(
            [
                (
                    f"q_img{i}",
                    f"q/img{i}.fake",
                    open(os.path.join(corpus_dir, f"img{i}.fake"), "rb").read(),
                )
                for i in (1, 4)
            ],
            "stem string, path string, content binary",
        )
        res = search(spark, idx, queries, k=3)
        rows = res.collect()
        assert {r["query_stem"] for r in rows} == {"q_img1", "q_img4"}
        for r in rows:
            assert 1 <= r["rank"] <= 3
            assert r["class_name"] is not None
            assert r["score"] is not None


def test_search_no_detection_is_dropped_not_fatal(spark, corpus_dir, labels):
    with tempfile.TemporaryDirectory() as out:
        index = build_index(spark, corpus_dir, labels, f"{out}/index")
        bad = spark.createDataFrame(
            [("broken", "q/broken.fake", b"NOTIMG")],
            "stem string, path string, content binary",
        )
        res = search(spark, load_index(spark, f"{out}/index"), bad, k=3)
        assert res.count() == 0  # F3/F5: dropped, no exception


def test_upsert_index_stable_ids(spark, corpus_dir, labels):
    from oracle_vector_search_spark.api import upsert_index
    from oracle_vector_search_spark.sources.images import encode_fake_image

    index = build_index(spark, corpus_dir, labels)
    before = {r["id"]: (r["stem"], r["box_idx"]) for r in index.collect()}
    max_id = max(before)

    # batch: re-label img1 (different class, one box) + brand-new img9
    d = tempfile.mkdtemp(prefix="batch_")
    rng = np.random.RandomState(77)
    for stem in ("img1", "img9"):
        img = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
        with open(os.path.join(d, f"{stem}.fake"), "wb") as f:
            f.write(encode_fake_image(img))
    batch_labels = spark.createDataFrame(
        [
            ("img1", 1, "3 0.5 0.5 0.6 0.6"),
            ("img9", 1, "2 0.5 0.5 0.6 0.6"),
            ("img9", 2, "1 0.3 0.3 0.2 0.2"),
        ],
        "stem string, box_idx long, value string",
    )

    merged = upsert_index(spark, index, d, batch_labels)
    rows = merged.collect()
    by_key = {(r["stem"], r["box_idx"]): r for r in rows}

    # untouched stems keep their exact ids
    for oid, (stem, box_idx) in before.items():
        if stem not in ("img1", "img9"):
            assert by_key[(stem, box_idx)]["id"] == oid
    # re-labeled stem keeps its id, gets the new class
    old_img1_id = next(
        oid for oid, (s, b) in before.items() if s == "img1" and b == 1
    )
    assert by_key[("img1", 1)]["id"] == old_img1_id
    assert by_key[("img1", 1)]["class_id"] == 3
    # new stem's rows continue past the old max id, densely
    new_ids = sorted(
        r["id"] for r in rows if r["stem"] == "img9"
    )
    assert new_ids == [max_id + 1, max_id + 2]
    # stale extra box of a re-labeled stem does not survive
    img1_rows = [r for r in rows if r["stem"] == "img1"]
    assert len(img1_rows) == 1


def test_upsert_reads_the_pinned_batch(
    spark, corpus_dir, labels, monkeypatch
):
    """The batch's Python pass runs once, in its pin: the frame the id
    assignment gets and the result plan before the write hold no Python
    operator, for the build (an upsert into an empty index) and for an
    upsert. Upserting the whole corpus over its own build changes no
    row."""
    from oracle_vector_search_spark import api
    from oracle_vector_search_spark.plans.inspect import (
        physical_plan,
        python_operators,
    )

    seen = []
    assign = api.assign_index_ids_two_phase

    def spy(df, *a, **kw):
        seen.append(python_operators(physical_plan(df)))
        return assign(df, *a, **kw)

    monkeypatch.setattr(api, "assign_index_ids_two_phase", spy)
    index = api.build_index(spark, corpus_dir, labels)
    merged = api.upsert_index(spark, index, corpus_dir, labels)
    assert seen == [[], []]
    assert python_operators(physical_plan(index)) == []
    assert python_operators(physical_plan(merged)) == []
    assert sorted(merged.collect()) == sorted(index.collect())


def test_build_without_decodable_image_is_empty(spark):
    """A corpus with no decodable image builds an empty index with the
    index schema, in memory and written then read back."""
    from oracle_vector_search_spark.api import INDEX_SCHEMA

    frame, labels = _build_frames(
        spark,
        [("corrupt", b"NOTIMG")],
        [("corrupt", 1, "0 0.5 0.5 0.5 0.5")],
    )
    index = build_index(spark, frame, labels)
    assert index.schema == INDEX_SCHEMA
    assert index.count() == 0
    with tempfile.TemporaryDirectory() as out:
        index = build_index(spark, frame, labels, out_path=f"{out}/index")
        assert index.schema == INDEX_SCHEMA
        assert index.count() == 0


def test_upsert_without_decodable_image_keeps_the_index(
    spark, corpus_dir, labels
):
    """A batch with no decodable image changes no row and no id, even
    for a stem the index already holds."""
    from oracle_vector_search_spark.api import upsert_index

    index = build_index(spark, corpus_dir, labels)
    frame, batch_labels = _build_frames(
        spark, [("img1", b"NOTIMG")], [("img1", 1, "3 0.5 0.5 0.6 0.6")]
    )
    merged = upsert_index(spark, index, frame, batch_labels)
    assert sorted(merged.collect()) == sorted(index.collect())


def test_search_radius_contract(spark, corpus_dir, labels):
    """Radius search through the full image pipeline: every hit clears
    the threshold, and lowering the threshold can only ADD matches."""
    from oracle_vector_search_spark.api import search_radius

    with tempfile.TemporaryDirectory() as out:
        build_index(spark, corpus_dir, labels, out_path=f"{out}/index")
        idx = load_index(spark, f"{out}/index")
        queries = spark.createDataFrame(
            [
                (
                    f"q_img{i}",
                    f"q/img{i}.fake",
                    open(os.path.join(corpus_dir, f"img{i}.fake"), "rb").read(),
                )
                for i in (1, 4)
            ],
            "stem string, path string, content binary",
        )
        tight = search_radius(spark, idx, queries, threshold=0.9)
        loose = search_radius(spark, idx, queries, threshold=0.2)
        t_rows = tight.collect()
        for r in t_rows:
            assert r["score"] >= 0.9
        t_pairs = {(r["query_stem"], r["match_id"]) for r in t_rows}
        l_pairs = {
            (r["query_stem"], r["match_id"]) for r in loose.collect()
        }
        assert t_pairs <= l_pairs


def test_search_auto_stays_exact_above_cutover(spark, corpus_dir, labels):
    """ADVICE r6 medium: tier="auto" must NEVER silently degrade to the
    approximate LSH path. Above knn.GEMM_MAX_QUERIES (driven via the
    ``n_queries`` override so the routing decision — not fixture size —
    is under test) "auto" routes to the exact streaming expression tier
    and returns rows identical to tier="expr". The ANN path remains an
    explicit ``tier="ann"`` opt-in with the same output contract."""
    from oracle_vector_search_spark.operators.knn import GEMM_MAX_QUERIES

    with tempfile.TemporaryDirectory() as out:
        build_index(spark, corpus_dir, labels, out_path=f"{out}/index")
        idx = load_index(spark, f"{out}/index")
        queries = spark.createDataFrame(
            [
                (
                    f"q_img{i}",
                    f"q/img{i}.fake",
                    open(
                        os.path.join(corpus_dir, f"img{i}.fake"), "rb"
                    ).read(),
                )
                for i in (1, 4)
            ],
            "stem string, path string, content binary",
        )
        routed = search(
            spark, idx, queries, k=3,
            n_queries=GEMM_MAX_QUERIES + 1,
        )
        rows = routed.collect()
        assert {r["query_stem"] for r in rows} <= {"q_img1", "q_img4"}
        for r in rows:
            assert 1 <= r["rank"] <= 3
            assert r["score"] is not None
        # auto above the cutover == exact expr tier, row for row
        exact = search(spark, idx, queries, k=3, tier="expr").collect()
        triple = lambda r: (r["query_stem"], r["rank"], r["match_id"])  # noqa: E731
        assert sorted(map(triple, rows)) == sorted(map(triple, exact))
        # ANN is still available — but only as an explicit opt-in
        forced = search(spark, idx, queries, k=3, tier="ann").collect()
        assert {r["query_stem"] for r in forced} <= {"q_img1", "q_img4"}
        for r in forced:
            assert 1 <= r["rank"] <= 3
            assert r["score"] is not None


def test_live_results_coexist_across_invocations(spark, corpus_dir, labels):
    """VERDICT r13 #1 regression guard: every public entry point must
    return a lazily-collectable result whose blocks SURVIVE later
    invocations of the same (and sibling) entry points. r13 pinned the
    query pipeline under one static release key, so the second call
    released the first result's only blocks and collecting the older
    frame died with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Here we build N
    live results from search (expr, gemm, ann tiers) and search_radius
    BEFORE collecting any, then collect OLDEST-FIRST — the order that
    crashes when a later call releases an earlier call's pins."""
    from oracle_vector_search_spark.api import search_radius

    with tempfile.TemporaryDirectory() as out:
        build_index(spark, corpus_dir, labels, out_path=f"{out}/index")
        idx = load_index(spark, f"{out}/index")
        queries = spark.createDataFrame(
            [
                (
                    f"q_img{i}",
                    f"q/img{i}.fake",
                    open(
                        os.path.join(corpus_dir, f"img{i}.fake"), "rb"
                    ).read(),
                )
                for i in (1, 4)
            ],
            "stem string, path string, content binary",
        )
        live = [
            ("search:expr#1", search(spark, idx, queries, k=3, tier="expr")),
            ("search:expr#2", search(spark, idx, queries, k=2, tier="expr")),
            ("search:gemm", search(spark, idx, queries, k=3, tier="gemm")),
            ("search:ann", search(spark, idx, queries, k=3, tier="ann")),
            ("radius#1", search_radius(spark, idx, queries, threshold=0.2)),
            ("radius#2", search_radius(spark, idx, queries, threshold=0.9)),
        ]
        # collect oldest-first: under a static keyed pin every frame
        # except the newest per entry point is already dead here
        for name, df in live:
            rows = df.collect()  # must not raise
            assert {r["query_stem"] for r in rows} <= {
                "q_img1",
                "q_img4",
            }, name
        # expr results stay self-consistent after all later invocations
        k3 = {(r["query_stem"], r["rank"], r["match_id"])
              for r in live[0][1].collect()}
        k2 = {(r["query_stem"], r["rank"], r["match_id"])
              for r in live[1][1].collect()}
        assert k2 <= k3


# --------------------------------------------- query-side pipeline oracle
def _expected_query_embeddings(uploads, mode, dims):
    """Pure-numpy twin of ``api._query_embeddings``: decode, preprocess,
    the stub detector's centered box and md5 confidence, the best box
    per stem by (conf, x1), that box cropped from EVERY decodable image
    of the stem, then the hash embedding. Returns sorted
    (query_stem, embedding) pairs."""
    import hashlib

    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.sources.images import (
        _blur3,
        _decode_one,
        _equalize,
        _gamma_lut,
    )

    lut = _gamma_lut(1.5)
    pre = []
    for stem, content in uploads:
        arr = _decode_one(content)
        if arr is None:
            continue
        if mode == "gamma_blur":
            arr = _blur3(lut[arr])
        elif mode == "clahe":
            arr = _equalize(arr)
        pre.append((stem, arr))
    best = {}
    for stem, arr in pre:
        h, w = arr.shape[:2]
        hsh = hashlib.md5(arr.tobytes()).hexdigest()
        conf = round(int(hsh[:6], 16) / float(0xFFFFFF), 6)
        box = (w // 4, h // 4, 3 * w // 4, 3 * h // 4)
        if stem not in best or (conf, box[0]) > best[stem][0]:
            best[stem] = ((conf, box[0]), box)
    out = []
    for stem, arr in pre:
        x1, y1, x2, y2 = best[stem][1]
        crop = arr[y1:y2, x1:x2]
        if crop.size:
            (emb,) = hash_projection_embed_batch([crop.tobytes()], dims)
            out.append((stem, tuple(emb)))
    return sorted(out)


def _uploads():
    """One stem shared by two different images (different sizes, so the
    best box of one is cropped from the other), a plain upload and a
    corrupt one."""
    rng = np.random.RandomState(5)
    img = lambda h, w: encode_fake_image(  # noqa: E731
        rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    )
    return [
        ("shared", img(32, 32)),
        ("shared", img(24, 40)),
        ("solo", img(20, 28)),
        ("broken", b"NOTIMG"),
    ]


@pytest.mark.parametrize("mode", ["gamma_blur", "clahe", "none"])
def test_query_embeddings_match_numpy_oracle(spark, mode):
    from oracle_vector_search_spark.api import _query_embeddings

    uploads = _uploads()
    frame = spark.createDataFrame(
        [(s, f"q/{s}.fake", c) for s, c in uploads],
        "stem string, path string, content binary",
    )
    rows = _query_embeddings(frame, mode, 8).collect()
    got = sorted((r["query_stem"], tuple(r["embedding"])) for r in rows)
    want = _expected_query_embeddings(uploads, mode, 8)
    assert [s for s, _ in want] == ["shared", "shared", "solo"]
    assert got == want
    qids = spark.createDataFrame([(s,) for s, _ in want], "s string")
    expect_qid = {
        r["s"]: r["q"]
        for r in qids.select("s", F.xxhash64("s").alias("q")).collect()
    }
    assert all(r["qid"] == expect_qid[r["query_stem"]] for r in rows)


def test_query_uploads_are_stem_partitioned_before_python(spark):
    """Every branch of the query pipeline hash-partitions the uploads on
    ``stem`` before its first Python stage, so AQE can size the stages
    by bytes instead of inheriting the caller's partitions."""
    from oracle_vector_search_spark.api import _query_embeddings
    from oracle_vector_search_spark.plans.inspect import physical_plan

    frame = spark.createDataFrame(
        [(s, f"q/{s}.fake", c) for s, c in _uploads()],
        "stem string, path string, content binary",
    )
    plan = physical_plan(_query_embeddings(frame, "gamma_blur", 8))
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    firsts = []
    for i, line in enumerate(lines):
        if "MapInPandas" not in line:
            continue
        below = []
        for other in lines[i + 1:]:
            if depth(other) <= depth(line):
                break
            below.append(other)
        if not any("MapInPandas" in b for b in below):
            firsts.append(below)
    assert len(firsts) == 2  # the detect branch and the crop branch
    for below in firsts:
        assert any(
            "Exchange hashpartitioning(stem#" in b for b in below
        ), plan


# --------------------------------------------- build-side pipeline oracle
def _expected_embedded_rows(images, lines, mode, dims, split="train"):
    """Pure-numpy twin of ``api._embedded_rows``: a YOLO line is kept
    when it has five numeric fields and an integral-range class id
    (one outside the class map keeps its row with a NULL name);
    every decodable image is preprocessed, each of its stem's boxes is
    floored and clipped against THAT image's width and height (a NaN
    edge or an empty box drops), cropped and hash-embedded. Returns
    sorted (stem, box_idx, class_id, class_name, split, embedding)."""
    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.operators.ingest import CLASS_NAMES
    from oracle_vector_search_spark.sources.images import (
        _blur3,
        _decode_one,
        _equalize,
        _gamma_lut,
    )

    labels = {}
    for stem, box_idx, line in lines:
        parts = line.split()
        if len(parts) != 5:
            continue
        try:
            cls, x_c, y_c, w, h = map(float, parts)
        except ValueError:
            continue
        if not -(2**31) <= cls < 2**31:  # NaN fails too
            continue
        labels.setdefault(stem, []).append(
            (box_idx, int(cls), x_c, y_c, w, h)
        )

    def edge(v, hi):
        return None if np.isnan(v) else int(min(max(np.floor(v), 0), hi))

    lut = _gamma_lut(1.5)
    out = []
    for stem, content in images:
        arr = _decode_one(content)
        if arr is None:
            continue
        if mode == "gamma_blur":
            arr = _blur3(lut[arr])
        elif mode == "clahe":
            arr = _equalize(arr)
        H, W = arr.shape[:2]
        for box_idx, cls, x_c, y_c, w, h in labels.get(stem, []):
            x1 = edge((x_c - w / 2) * W, W)
            y1 = edge((y_c - h / 2) * H, H)
            x2 = edge((x_c + w / 2) * W, W)
            y2 = edge((y_c + h / 2) * H, H)
            if None in (x1, y1, x2, y2) or x2 <= x1 or y2 <= y1:
                continue
            (emb,) = hash_projection_embed_batch(
                [arr[y1:y2, x1:x2].tobytes()], dims
            )
            name = CLASS_NAMES[cls] if 0 <= cls < len(CLASS_NAMES) else None
            out.append((stem, box_idx, cls, name, split, tuple(emb)))
    return sorted(out)


def _build_corpus():
    """Images and label lines covering every drop rule of the build:
    a corrupt image, an image without labels, labels without an image,
    malformed lines, a zero-area box, a box clipped at the edge, NaN,
    ±inf and 1e9 coordinates, class ids outside the class map, and one
    stem shared by two images of different sizes (each is cropped with
    its own boxes)."""
    rng = np.random.RandomState(3)
    img = lambda h, w: encode_fake_image(  # noqa: E731
        rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    )
    images = [
        ("a", img(32, 32)),
        ("b", img(24, 40)),
        ("corrupt", b"NOTIMG"),
        ("unlabelled", img(16, 16)),
        ("shared", img(32, 32)),
        ("shared", img(16, 48)),
    ]
    lines = [
        ("a", 1, "0 0.5 0.5 0.6 0.6"),
        ("a", 2, "1 0.9 0.9 0.4 0.4"),  # clipped at the right/bottom
        ("a", 3, "2 0.5 0.5 0 0.3"),  # zero area
        ("a", 4, "3 0.5 0.5 0.2"),  # four fields
        ("a", 5, "x 0.5 0.5 0.2 0.2"),  # non-numeric
        ("a", 6, "nan 0.5 0.5 0.2 0.2"),  # class id NaN
        ("a", 7, "1e12 0.5 0.5 0.2 0.2"),  # class id beyond INT
        ("a", 8, "7 0.5 0.5 0.2 0.2"),  # class ids outside 0-3
        ("a", 9, "-1 0.5 0.5 0.2 0.2"),
        ("b", 8, "-2 0.5 0.5 0.2 0.2"),
        ("b", 1, "2 inf 0.5 0.2 0.2"),  # clipped to nothing
        ("b", 2, "0 0.5 0.5 1e9 0.2"),  # clipped to the full width
        ("b", 3, "1 0.5 0.5 0.2 inf"),  # clipped to the full height
        ("b", 4, "3 NaN 0.5 0.2 0.2"),
        ("b", 5, "0 inf 0.5 inf 0.2"),  # x1 = inf - inf = NaN
        ("b", 6, "2 -inf 0.5 0.2 0.2"),
        ("b", 7, "1 0.5 0.5 -1e9 0.2"),
        ("corrupt", 1, "0 0.5 0.5 0.5 0.5"),
        ("no_image", 1, "0 0.5 0.5 0.5 0.5"),
        ("shared", 1, "3 0.3 0.4 0.3 0.5"),
    ]
    return images, lines


def _build_frames(spark, images, lines):
    return (
        spark.createDataFrame(
            [(s, f"corpus/{s}.fake", c) for s, c in images],
            "stem string, path string, content binary",
        ),
        spark.createDataFrame(
            lines, "stem string, box_idx long, value string"
        ),
    )


@pytest.mark.parametrize("mode", ["gamma_blur", "clahe", "none"])
def test_embedded_rows_match_numpy_oracle(spark, mode):
    from oracle_vector_search_spark.api import _embedded_rows

    images, lines = _build_corpus()
    frame, labels = _build_frames(spark, images, lines)
    rows = _embedded_rows(spark, frame, labels, mode, 8, "train").collect()
    got = sorted(
        (
            r["stem"], r["box_idx"], r["class_id"], r["class_name"],
            r["split"], tuple(r["embedding"]),
        )
        for r in rows
    )
    want = _expected_embedded_rows(images, lines, mode, 8)
    assert [(s, b) for s, b, *_ in want] == [
        ("a", 1), ("a", 2), ("a", 8), ("a", 9), ("b", 2), ("b", 3),
        ("b", 8), ("shared", 1), ("shared", 1),
    ]
    assert got == want


def test_denormalize_boxes_clips_out_of_range_coordinates(spark):
    """One bad label line must not abort a build: ±inf and 1e9
    coordinates clip to the image (or to nothing) like any other
    out-of-range box, and a NaN edge drops its box. Clipping happens
    before the INT cast, which ANSI mode turns into CAST_OVERFLOW."""
    from oracle_vector_search_spark.operators.ingest import (
        denormalize_boxes,
    )

    inf, nan = float("inf"), float("nan")
    labels = spark.createDataFrame(
        [
            (1, inf, 0.5, 0.2, 0.2),
            (2, 0.5, 0.5, 1e9, 0.2),
            (3, 0.5, 0.5, 0.2, inf),
            (4, -inf, 0.5, 0.2, 0.2),
            (5, nan, 0.5, 0.2, 0.2),
            (6, inf, 0.5, inf, 0.2),
            (7, 0.5, 0.5, -1e9, 0.2),
            (8, 0.5, -1e9, 0.2, inf),  # -1e9 + inf: full height
        ],
        "box_idx int, x_c double, y_c double, w double, h double",
    ).selectExpr("*", "32 AS width", "32 AS height")
    got = {
        r["box_idx"]: (r["x1"], r["y1"], r["x2"], r["y2"])
        for r in denormalize_boxes(labels).collect()
    }
    assert got == {
        2: (0, 12, 32, 19), 3: (12, 0, 19, 32), 8: (12, 0, 19, 32),
    }


def _denorm_rows(rows):
    """Compare key: kept box_idx → (x1, y1, x2, y2)."""
    return {r[0]: tuple(int(v) for v in r[1:]) for r in rows}


_EDGE_FLOATS = [
    0.0, 0.5, 1.0, -0.5, 1.5, 1e9, -1e9, 1e300, -1e300,
    float("inf"), float("-inf"), float("nan"),
]


def _check_denormalize_twins(spark, rows):
    """Spark ``denormalize_boxes`` and ``denormalize_boxes_numpy`` keep
    the same boxes with the same coordinates over (box_idx, x_c, y_c,
    w, h, width, height) rows."""
    from oracle_vector_search_spark.operators.ingest import (
        denormalize_boxes,
        denormalize_boxes_numpy,
    )

    df = spark.createDataFrame(
        rows,
        "box_idx int, x_c double, y_c double, w double, h double, "
        "width int, height int",
    )
    spark_rows = _denorm_rows(
        (r["box_idx"], r["x1"], r["y1"], r["x2"], r["y2"])
        for r in denormalize_boxes(df).collect()
    )
    cols = list(zip(*rows))
    keep, boxes = denormalize_boxes_numpy(*cols[1:])
    idx = np.asarray(cols[0])[keep]
    numpy_rows = _denorm_rows(
        (i, *b) for i, b in zip(idx.tolist(), boxes.tolist())
    )
    assert numpy_rows == spark_rows
    assert boxes.dtype == np.int64


def test_denormalize_twins_agree_on_edge_grid(spark):
    import itertools

    rows = [
        (i, x_c, 0.5, w, 0.3, 32, 24)
        for i, (x_c, w) in enumerate(
            itertools.product(_EDGE_FLOATS, _EDGE_FLOATS)
        )
    ]
    rows += [
        (len(rows) + i, 0.5, y_c, 0.4, h, 7, 13)
        for i, (y_c, h) in enumerate(
            itertools.product(_EDGE_FLOATS, _EDGE_FLOATS)
        )
    ]
    _check_denormalize_twins(spark, rows)


_coord = st.one_of(
    st.floats(min_value=-2.0, max_value=2.0),
    st.sampled_from(_EDGE_FLOATS),
    st.floats(allow_nan=True, allow_infinity=True),
)


@given(
    st.lists(
        st.tuples(
            _coord, _coord, _coord, _coord,
            st.integers(1, 4096), st.integers(1, 4096),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_denormalize_twins_agree_on_random_boxes(spark, boxes):
    _check_denormalize_twins(
        spark, [(i, *b) for i, b in enumerate(boxes)]
    )


def test_embedded_rows_is_one_python_pass(spark):
    """The build runs decode → preprocess → crop → embed as ONE
    cogrouped Python operator: no MapInPandas stage chain."""
    from oracle_vector_search_spark.api import _embedded_rows
    from oracle_vector_search_spark.plans.inspect import (
        physical_plan,
        python_operators,
    )

    frame, labels = _build_frames(spark, *_build_corpus())
    plan = physical_plan(
        _embedded_rows(spark, frame, labels, "gamma_blur", 8, "train")
    )
    assert python_operators(plan) == ["FlatMapCoGroupsInPandas"], plan
