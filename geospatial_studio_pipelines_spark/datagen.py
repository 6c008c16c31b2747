"""Deterministic synthetic fixture tables (FIXTURES.md, seed-free pure functions).

Everything is a pure function of the row ordinal — no wall clock, no RNG state
— so any re-run (or any executor retry) regenerates byte-identical rows. This
mirrors the determinism the reference pins with ``random_state=0``
(claimed_curated_upload_v2.py:594) and is what makes resume-after-kill
byte-identical (SURVEY.md §7.4.5/6).

The ``images`` table is generated **distributed**: ``spark.range(n)`` →
``raster.map_images`` encoding pixels per Arrow batch. At the 10^12-image design
scale generation is itself a big job; a driver-side loop would never work, so
the generator is written exactly like any other engine operator.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .codecs.image import encode_image
from .geo import wkb
from .operators.raster import map_images

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

_WIDTHS = [64, 128, 224, 256]
_HEIGHTS = [64, 96, 224, 512]


def fixture_pixels(phash: int, w: int, h: int) -> np.ndarray:
    """pixel(y,x,c) = (phash + 31y + 17x + 7c) % 256 — recomputable from
    columns alone, which is what makes the PSNR fidelity gate checkable
    without shipping reference pixels around."""
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((phash + 31 * y + 17 * x + 7 * c) % 256).astype(np.uint8)


def image_row(i: int) -> dict:
    phash = (i * 2654435761) % (2**63)
    w = _WIDTHS[i % 4]
    h = _HEIGHTS[(i // 4) % 4]
    fmt = "png" if i % 3 != 0 else "jpeg"
    arr = fixture_pixels(phash, w, h)
    return {
        "image_id": f"img-{i:08d}",
        "bytes": encode_image(arr, fmt, quality=90),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"synthetic scene {i} tile test",
        "phash": phash,
    }


def images_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed images fixture: one row per ordinal in [0, n)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    ids = spark.range(0, n, numPartitions=partitions)
    return map_images(ids, lambda row: [image_row(row["id"])], [], IMAGES_SCHEMA, keep=[])


def images_pdf(n: int) -> pd.DataFrame:
    """Single-node oracle twin of ``images_df``."""
    return pd.DataFrame([image_row(i) for i in range(n)])


# ------------------------------------------------------------ aoi polygons

AOI_SCHEMA = (
    "aoi_id string, geom_wkb binary, bbox_minx double, bbox_miny double, "
    "bbox_maxx double, bbox_maxy double, date_start date, date_end date, category string"
)
_CATEGORIES = ["land", "water", "lulc", "custom"]


def aoi_ring(j: int) -> np.ndarray:
    """Irregular k-gon per FIXTURES.md T2; aoi 0 is the 40°×40° giant that
    forces skew handling (the global land-polygons analog,
    postprocess_generic_helper_functions.py:35)."""
    cx = -180.0 + (j * 73) % 360 + 1e-4
    cy = -55.0 + (j * 37) % 110 + 1e-4
    if j == 0:
        cx, cy = 10.0001, 10.0001
        radius = 20.0
        k = 8
    else:
        radius = 2.0 + (j % 10) * 1.0
        k = 4 + j % 5
    ang = 2 * np.pi * np.arange(k) / k + j * 0.1
    xs = cx + radius * np.cos(ang)
    ys = cy + radius * np.sin(ang)
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]])


def aoi_row(j: int) -> dict:
    ring = aoi_ring(j)
    base = np.datetime64("2024-01-01") + np.timedelta64(j % 300, "D")
    return {
        "aoi_id": f"aoi-{j:04d}",
        "geom_wkb": wkb.dumps_polygon([ring]),
        "bbox_minx": float(ring[:, 0].min()),
        "bbox_miny": float(ring[:, 1].min()),
        "bbox_maxx": float(ring[:, 0].max()),
        "bbox_maxy": float(ring[:, 1].max()),
        "date_start": base.astype("datetime64[D]").astype(object),
        "date_end": (base + np.timedelta64(30, "D")).astype("datetime64[D]").astype(object),
        "category": _CATEGORIES[j % 4],
    }


def aoi_pdf(m: int) -> pd.DataFrame:
    return pd.DataFrame([aoi_row(j) for j in range(m)])


def aoi_df(spark: SparkSession, m: int) -> DataFrame:
    return spark.createDataFrame(aoi_pdf(m), schema=AOI_SCHEMA)


# ------------------------------------------------------- qa / label rasters

QA_SCHEMA = "image_id string, qa_bytes binary, fmask_bytes binary, w int, h int"
_SCL_SET = np.array([3, 4, 5, 6, 8, 9, 11], dtype=np.uint8)


def qa_row(i: int) -> dict:
    """One row per even-i image: SCL class raster + HLS bit-packed variant
    (FIXTURES.md T3)."""
    phash = (i * 2654435761) % (2**63)
    w = _WIDTHS[i % 4]
    h = _HEIGHTS[(i // 4) % 4]
    yy = np.arange(h, dtype=np.int64)[:, None]
    xx = np.arange(w, dtype=np.int64)[None, :]
    idx = (phash + yy * w + xx) % 13 % len(_SCL_SET)
    scl = _SCL_SET[idx]
    fmask = ((phash + 3 * yy + 5 * xx) % 256).astype(np.uint8)
    return {
        "image_id": f"img-{i:08d}",
        "qa_bytes": encode_image(scl, "raw"),
        "fmask_bytes": encode_image(fmask, "raw"),
        "w": w,
        "h": h,
    }


def qa_pdf(n_images: int) -> pd.DataFrame:
    return pd.DataFrame([qa_row(i) for i in range(0, n_images, 2)])


def qa_df(spark: SparkSession, n_images: int) -> DataFrame:
    return spark.createDataFrame(qa_pdf(n_images), schema=QA_SCHEMA)


LABEL_SCHEMA = "image_id string, label_bytes binary, w int, h int, n_shapes int"


def label_row(i: int) -> dict:
    """Binary mask with 1–3 axis-aligned rectangles, deterministic from phash
    (FIXTURES.md T4). Rectangles are kept disjoint so the vectorizer's
    polygon count is exactly ``n_shapes``."""
    phash = (i * 2654435761) % (2**63)
    w = _WIDTHS[i % 4]
    h = _HEIGHTS[(i // 4) % 4]
    mask = np.zeros((h, w), dtype=np.uint8)
    n = 1 + phash % 3
    # lay rectangles in disjoint horizontal bands
    band_h = h // int(n)
    for r in range(int(n)):
        s = (phash >> (8 * r)) & 0xFFFF
        y0 = r * band_h + 2 + s % max(1, band_h // 4)
        x0 = 2 + (s // 7) % max(1, w // 4)
        rh = max(3, band_h // 3)
        rw = max(3, w // 3)
        mask[y0 : min(y0 + rh, (r + 1) * band_h - 2), x0 : min(x0 + rw, w - 2)] = 1
    return {
        "image_id": f"img-{i:08d}",
        "label_bytes": encode_image(mask, "raw"),
        "w": w,
        "h": h,
        "n_shapes": int(n),
    }


def label_pdf(n_images: int) -> pd.DataFrame:
    return pd.DataFrame([label_row(i) for i in range(0, n_images, 10)])


def label_df(spark: SparkSession, n_images: int) -> DataFrame:
    return spark.createDataFrame(label_pdf(n_images), schema=LABEL_SCHEMA)


DOCUMENTS_SCHEMA = "doc_id long, text string"

#: vocabulary size for synthetic documents; words are drawn UNIFORMLY —
#: unrelated docs then share ~2 of ~90 words, so their character-shingle
#: Jaccard stays ≪ any verify threshold and LSH candidates are the planted
#: pairs plus a realistic trickle of band collisions (a skewed draw, or a
#: low-entropy spelling like "w0042", makes every doc pair a candidate:
#: measured candidates ~n² and a 20× slower verify stage)
_DOC_VOCAB = 5000
#: every doc whose ordinal is ≡1 (mod 20) is a near-duplicate of the
#: previous doc: same word stream with one word in ~30 replaced — Jaccard
#: well above any verify threshold, deterministic at any scale
_DOC_DUP_STRIDE = 20
_VOCAB_CACHE: "list[str] | None" = None


def _doc_vocab() -> "list[str]":
    """5000 deterministic pseudo-words, 5–8 lowercase letters each, spelled
    from avalanche-mixed bits — diverse character 4-grams (the shingle unit
    of functions/text.py) both inside words and across word boundaries."""
    global _VOCAB_CACHE
    if _VOCAB_CACHE is None:
        v = np.arange(_DOC_VOCAB, dtype=np.uint64)
        with np.errstate(over="ignore"):
            h = v * np.uint64(0x9E3779B97F4A7C15)
            h ^= h >> np.uint64(31)
            h *= np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(29)
        words = []
        for x in h:
            n = 5 + int(x % np.uint64(4))
            x = int(x) >> 2
            words.append("".join(chr(97 + (x >> (5 * j)) % 26) for j in range(n)))
        _VOCAB_CACHE = words
    return _VOCAB_CACHE


def _doc_word_ids(base_id: np.ndarray, length: np.ndarray) -> "list[np.ndarray]":
    """Word-id stream per base doc id: word j of doc i is a pure function
    of (i, j) via 64-bit avalanche mixing, uniform over the vocabulary."""
    out = []
    with np.errstate(over="ignore"):  # uint64 wraparound is the mixer
        for i, n in zip(base_id.astype(np.uint64), length):
            j = np.arange(n, dtype=np.uint64)
            h = i * np.uint64(0x9E3779B97F4A7C15) + j * np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> np.uint64(31)
            h *= np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(29)
            out.append((h % np.uint64(_DOC_VOCAB)).astype(np.int64))
    return out


def documents_pdf_batch(ids: np.ndarray) -> pd.DataFrame:
    """One Arrow batch of synthetic documents (vectorized; see documents_df)."""
    ids = ids.astype(np.int64)
    vocab = _doc_vocab()
    is_dup = (ids % _DOC_DUP_STRIDE) == 1
    base = np.where(is_dup, ids - 1, ids)
    with np.errstate(over="ignore"):
        length = 30 + (base.astype(np.uint64) * np.uint64(0xD6E8FEB86659FD93) >> np.uint64(40)) % np.uint64(120)
    streams = _doc_word_ids(base, length.astype(np.int64))
    texts = []
    for k, w in enumerate(streams):
        if is_dup[k]:
            w = w.copy()
            w[::30] = (w[::30] + 1) % _DOC_VOCAB  # mutate ~1/30 of words
        texts.append(" ".join(vocab[v] for v in w))
    return pd.DataFrame({"doc_id": ids, "text": texts})


def documents_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Synthetic ``documents(doc_id, text)`` table, generated distributed
    (mapInPandas over ``spark.range``) and fully deterministic per row —
    the dedup-family scaling input (tools/scaling_bench.py). ~5% of docs
    are planted near-duplicates of their predecessor."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield documents_pdf_batch(pdf["id"].to_numpy())

    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    return rng.mapInPandas(gen, DOCUMENTS_SCHEMA)
