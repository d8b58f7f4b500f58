"""Seeded input generation for the benchmark workloads.

Everything the engine sees is made here from the run's seed: the same
seed gives byte-identical files. Two families of inputs:

* an MRI-like JPEG corpus with YOLO label lines and upload streams,
  rendered by ``functions.detect_numpy.render_mri_like`` and encoded by
  ``functions.jpeg_numpy.encode_gray_jpeg``;
* a TPC-H-like star schema plus ``events`` / ``documents`` /
  ``embeddings`` tables with the column types and value ranges of the
  engine's fixture tables, written as one parquet file per table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from oracle_vector_search_spark.functions.detect_numpy import (
    MRI_H,
    MRI_NO_BLOB_MOD,
    MRI_W,
    mri_params,
    render_mri_like,
)
from oracle_vector_search_spark.functions.jpeg_numpy import encode_gray_jpeg

# frame ids are drawn from this range; k % MRI_NO_BLOB_MOD == 0 renders
# a flat frame, which the indexed corpus leaves out
FRAME_ID_RANGE = 1_000_000
# a corrupt upload keeps only this many leading bytes of its JPEG
CORRUPT_BYTES = 64
# position of the corrupt upload within each run of MRI_NO_BLOB_MOD
CORRUPT_SLOT = 3


@dataclass(frozen=True)
class Image:
    stem: str
    k: int
    content: bytes
    corrupt: bool = False


def jpeg_frame(k: int) -> bytes:
    return encode_gray_jpeg(render_mri_like(k))


def _yolo_line(cls: int, x: int, y: int, w: int, h: int) -> str:
    return (
        f"{cls} {(x + w / 2) / MRI_W:.6f} {(y + h / 2) / MRI_H:.6f} "
        f"{w / MRI_W:.6f} {h / MRI_H:.6f}"
    )


def label_lines(k: int, with_b: bool, cls: int) -> list[str]:
    """YOLO lines for frame ``k``: blob A always, blob B on request."""
    p = mri_params(k)
    lines = [_yolo_line(cls, p["xa"], p["ya"], p["wa"], p["ha"])]
    if with_b:
        lines.append(_yolo_line(2, p["xb"], p["yb"], p["wb"], p["hb"]))
    return lines


@dataclass
class Corpus:
    """An indexed image set: images plus (stem, box_idx, value) lines."""

    images: list[Image]
    labels: list[tuple[str, int, str]]


def _labelled(images: list[Image], rng: np.random.Generator) -> Corpus:
    labels = []
    for img in images:
        lines = label_lines(
            img.k, with_b=rng.random() < 0.125, cls=int(rng.integers(0, 4))
        )
        labels += [(img.stem, i, v) for i, v in enumerate(lines)]
    return Corpus(images, labels)


def _blob_frames(rng: np.random.Generator, n: int) -> np.ndarray:
    ks = rng.integers(1, FRAME_ID_RANGE, size=2 * n + 16)
    return ks[ks % MRI_NO_BLOB_MOD != 0][:n]


def make_corpus(rng: np.random.Generator, n: int, prefix: str) -> Corpus:
    """``n`` labelled frames with a visible blob A (stems ``prefix#####``)."""
    images = [
        Image(f"{prefix}{i:05d}", int(k), jpeg_frame(int(k)))
        for i, k in enumerate(_blob_frames(rng, n))
    ]
    return _labelled(images, rng)


def make_upsert_batch(
    rng: np.random.Generator, base: Corpus, n: int, round_no: int
) -> Corpus:
    """Half re-labelled existing stems (same pixels, new label lines),
    half new stems."""
    n_old = n // 2
    picks = rng.choice(len(base.images), size=n_old, replace=False)
    old = [base.images[int(i)] for i in sorted(picks)]
    new = [
        Image(f"r{round_no:02d}_{i:05d}", int(k), jpeg_frame(int(k)))
        for i, k in enumerate(_blob_frames(rng, n - n_old))
    ]
    return _labelled(old + new, rng)


def make_uploads(rng: np.random.Generator, n: int, prefix: str) -> list[Image]:
    """An upload stream of uniform frame ids. One upload in every
    ``MRI_NO_BLOB_MOD`` (at a fixed position, so every seed has the same
    mix) is cut off after its JPEG header: it cannot be decoded, so the
    search answers it with no rows (the no-detection path)."""
    uploads = []
    for i, k in enumerate(rng.integers(1, FRAME_ID_RANGE, size=n)):
        corrupt = i % MRI_NO_BLOB_MOD == CORRUPT_SLOT
        content = jpeg_frame(int(k))
        uploads.append(Image(f"{prefix}{i:05d}", int(k),
                             content[:CORRUPT_BYTES] if corrupt else content,
                             corrupt))
    return uploads


# ------------------------------------------------------ analytics tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_WORDS = (
    "a the data row column table key value part line order customer "
    "query scan join merge sort hash group agg filter window stream batch "
    "spark vector fast slow big small"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def make_tables(rng: np.random.Generator, sf: float) -> dict:
    """The fixture schema at scale ``sf`` as pyarrow tables."""
    import pyarrow as pa

    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 20)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)
    i32 = np.int32
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(n)))
        for n in rng.integers(10, 110, n_doc)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
