"""Seeded input generation, done once per (workload, seed, size) and kept
under ``.perfbench/inputs/``; it is never part of a timed region or of
``setup_s``.

Everything is drawn from ``numpy.random.default_rng([seed, stream])`` so the
same seed gives byte-identical inputs. The encoders below (PNG, WKB) are the
benchmark's own, so a fault in the program's codecs cannot cancel out
between the inputs and the program's decoders.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import STATE, inside_ring

VERSION = 2

#: sizes per workload; ``tiny`` is the quick mode the benchmark's own test runs
SIZES = {
    "curate": {
        # a run reads each batch at most once (no op repeats another's input)
        "full": {"batch_rows": 2000, "batches": 24, "aois": 40, "dup_frac": 0.05},
        "tiny": {"batch_rows": 200, "batches": 8, "aois": 8, "dup_frac": 0.05},
    },
    "tile_request": {
        # every request plans to tiles_x x tiles_y tiles x dates tasks
        "full": {"shape": (2, 1, 2), "px": 64, "requests": 16},
        "tiny": {"shape": (2, 1, 2), "px": 32, "requests": 2},
    },
    "ingest_cycle": {
        "full": {"arrivals": 24, "poison": 4, "planted": 6, "cycles_per_round": 3, "rounds": 12, "px": 32},
        "tiny": {"arrivals": 8, "poison": 2, "planted": 2, "cycles_per_round": 2, "rounds": 4, "px": 16},
    },
    # the corpus behind ingest_cycle's index: one per checkout, not per seed
    "ingest_corpus": {"full": {"corpus": 20000}, "tiny": {"corpus": 500}},
    # the fixed request of every tile_request round: one per checkout
    "tile_fault": {"full": {"px": 64}, "tiny": {"px": 32}},
}

_STREAM = {"curate": 1, "tile_request": 2, "ingest_cycle": 3, "ingest_corpus": 4, "tile_fault": 5}


# ------------------------------------------------------------------ encoders


def png_bytes(arr: np.ndarray) -> bytes:
    """8-bit PNG (gray / gray+alpha / RGB / RGBA), filter 0 on every row."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    rows = np.concatenate([np.zeros((h, 1), np.uint8), arr.reshape(h, w * c)], axis=1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(rows.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def raw_bytes(arr: np.ndarray) -> bytes:
    """The engine's documented raw container: ``GR1\\0 | h | w | c | dtype | data``
    (uint8 only here)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    return b"GR1\x00" + struct.pack("<IIBB", h, w, c, 0) + arr.tobytes()


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian OGC WKB Polygon with one closed ring."""
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring)) + ring.tobytes()


def star_ring(rng, cx: float, cy: float, radius: float, k: int, jitter: float) -> np.ndarray:
    """A closed simple k-gon: vertices at increasing angles, radii jittered
    (so it is usually concave)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = radius * (1.0 - jitter * rng.uniform(0, 1, k))
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def flip_bits(rng, h: int, n_bits: int) -> int:
    """``h`` with ``n_bits`` distinct bits among 0..62 flipped (stays ≥ 0)."""
    for b in rng.choice(63, size=n_bits, replace=False):
        h ^= 1 << int(b)
    return h


def random_phashes(rng, n: int) -> np.ndarray:
    return rng.integers(0, 2**63 - 1, size=n, dtype=np.int64)


# ------------------------------------------------------------------ cache


def input_dir(workload: str, seed: int, size: str) -> str:
    return os.path.join(STATE, "inputs", f"{workload}-s{seed}-{size}-v{VERSION}")


def ensure(workload: str, seed: int, size: str) -> str:
    """Directory of the inputs; generates them first if absent."""
    final = input_dir(workload, seed, size)
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, _STREAM[workload]])
    _GENERATORS[workload](rng, tmp, {"size": size, **SIZES[workload][size]})
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


# ------------------------------------------------------------------ curate


def _gen_curate(rng, out: str, p: dict) -> None:
    """Decode-free image batches plus AOI polygons.

    phash is uniform over [0, 2^63): the engine derives each footprint's
    centre from it, so images spread uniformly over lon [-180, 180) and lat
    [-60, 60). A ``dup_frac`` share of each batch are planted near-dups:
    copies of another row of the batch with 1-3 low-63 bits flipped.
    """
    n, nb = p["batch_rows"], p["batches"]
    widths = np.array([64, 128, 224, 256, 512])
    words = np.array(["river", "field", "urban", "forest", "coast", "snow", "crop", "desert"])
    for b in range(nb):
        ph = random_phashes(rng, n)
        n_dup = int(round(n * p["dup_frac"]))
        dst = rng.choice(n, size=n_dup, replace=False)
        src_pool = np.setdiff1d(np.arange(n), dst)
        src = rng.choice(src_pool, size=n_dup, replace=False)
        planted = []
        for d, s in zip(dst, src):
            ph[d] = flip_bits(rng, int(ph[s]), int(rng.integers(1, 4)))
            planted.append((int(s), int(d)))
        ordinal = b * n + np.arange(n)
        ids = [f"img-{i:08d}" for i in ordinal]
        caps = [" ".join(rng.choice(words, 4)) for _ in range(n)]
        tbl = pa.table(
            {
                "image_id": ids,
                "w": pa.array(rng.choice(widths, n).astype(np.int32)),
                "h": pa.array(rng.choice(widths, n).astype(np.int32)),
                "phash": pa.array(ph),
                "caption": caps,
            }
        )
        pq.write_table(tbl, os.path.join(out, f"batch-{b}.parquet"))
        _write_json(
            os.path.join(out, f"planted-{b}.json"),
            [[ids[s], ids[d]] for s, d in planted],
        )
    # AOIs: irregular k-gons of radius 2-10 deg plus one 20-deg skew giant
    rings = []
    for j in range(p["aois"]):
        rings.append(
            star_ring(rng, rng.uniform(-170, 170), rng.uniform(-50, 50),
                      rng.uniform(2.0, 10.0), int(rng.integers(4, 9)), 0.5)
        )
    rings.append(star_ring(rng, rng.uniform(-150, 150), rng.uniform(-35, 35), 20.0, 12, 0.2))
    aois = pd.DataFrame(
        {
            "aoi_id": [f"aoi-{j:03d}" for j in range(len(rings))],
            "geom_wkb": [polygon_wkb(r) for r in rings],
            "bbox_minx": [float(r[:, 0].min()) for r in rings],
            "bbox_miny": [float(r[:, 1].min()) for r in rings],
            "bbox_maxx": [float(r[:, 0].max()) for r in rings],
            "bbox_maxy": [float(r[:, 1].max()) for r in rings],
        }
    )
    aois.to_parquet(os.path.join(out, "aois.parquet"))
    np.save(os.path.join(out, "aoi_rings.npy"), np.array(rings, dtype=object), allow_pickle=True)
    _write_json(os.path.join(out, "meta.json"), {"batches": nb, "rows": n})


# ------------------------------------------------------------ tile_request

#: reference planner constants: bboxes over 2400 px split into 2200-px tiles
GRID_PX, RES_M = 2200.0, 10.0


def deg_per_px(lat: float) -> tuple[float, float]:
    """(lon, lat) degrees per 10-m pixel at ``lat`` (ellipsoid lengths)."""
    r = math.radians(lat)
    lat_len = 111132.954 - 559.822 * math.cos(2 * r) + 1.175 * math.cos(4 * r)
    lon_len = (math.pi / 180.0) * math.cos(r) * 6378137.0
    return RES_M / lon_len, RES_M / lat_len


def _span_px(rng, n_tiles: int) -> float:
    """A request extent in pixels that splits into exactly ``n_tiles`` grid
    tiles, none of which is small enough to be padded."""
    if n_tiles == 1:
        return float(rng.uniform(600.0, 2150.0))
    return (n_tiles - 1) * GRID_PX + float(rng.uniform(600.0, 2000.0))


def _coast(rng, cx: float, cy: float) -> tuple[np.ndarray, np.ndarray]:
    """Land: a 20-degree square cut by a straight coastline through (cx, cy)
    at a seed-drawn angle. Returns (closed ring, unit normal pointing out to
    sea). Its vertices lie 7+ degrees from any request."""
    theta = rng.uniform(0, 2 * np.pi)
    n = np.array([math.cos(theta), math.sin(theta)])
    sq = np.array([[cx - 10, cy - 10], [cx + 10, cy - 10], [cx + 10, cy + 10], [cx - 10, cy + 10]])
    side = (sq - [cx, cy]) @ n  # <= 0 is land
    ring = []
    for i in range(4):
        p, q = sq[i], sq[(i + 1) % 4]
        sp, sq_ = side[i], side[(i + 1) % 4]
        if sp <= 0:
            ring.append(p)
        if (sp <= 0) != (sq_ <= 0):
            ring.append(p + (q - p) * (sp / (sp - sq_)))
    ring = np.array(ring)
    return np.vstack([ring, ring[:1]]), n


def tile_bounds(bbox, nx: int, ny: int) -> dict:
    """``{(tile_x, tile_y): (minx, miny, maxx, maxy)}`` of a request whose
    extent :func:`_span_px` drew: the planner's documented grid (2200-px
    steps, the last column and row clamped to the bbox), written out here so
    that the inputs need none of the program's code."""
    minx, miny, maxx, maxy = bbox
    dlon, dlat = deg_per_px((miny + maxy) / 2)
    lon_step = (maxx - minx) * (GRID_PX / ((maxx - minx) / dlon))
    lat_step = (maxy - miny) * (GRID_PX / ((maxy - miny) / dlat))
    split = nx > 1 or ny > 1
    out = {}
    for tx in range(nx):
        for ty in range(ny):
            if not split:
                out[tx, ty] = (minx, miny, maxx, maxy)
                continue
            out[tx, ty] = (minx + lon_step * tx, miny + lat_step * ty,
                           min(minx + lon_step * (tx + 1), maxx), min(miny + lat_step * (ty + 1), maxy))
    return out


#: SCL codes: left to the brightness threshold, and masked to a class value
UNMASKED = (4, 5)
MASKED = {3: 999, 8: 999, 9: 999, 11: 998, 6: 997}  # cloud, snow, water
#: the class values the request vectorizes, and a code that gives each one
TRACED = {1: 4, 997: 6, 998: 11, 999: 3}
HIGH, LOW = 175, 80  # channel levels; noise of +-40 keeps each side of 127.5


def _runs(rng, length: int, lo: int, hi: int) -> np.ndarray:
    """Block ids along one axis: runs of lo..hi pixels."""
    widths = rng.integers(lo, hi + 1, length // lo + 1)
    return np.repeat(np.arange(len(widths)), widths)[:length]


def _blocks(rng, px: int, lo: int, hi: int, values) -> np.ndarray:
    """A px x px raster of rectangular blocks of irregular size, each block
    one value drawn from ``values``."""
    rows, cols = _runs(rng, px, lo, hi), _runs(rng, px, lo, hi)
    grid = rng.choice(np.asarray(values), (rows[-1] + 1, cols[-1] + 1))
    return grid[rows][:, cols]


def classes(qa: np.ndarray, high: np.ndarray, land: np.ndarray) -> np.ndarray:
    """The masked raster's class per pixel: the QA class where the QA code
    masks, else 1/0 by brightness; -1 off land (NODATA, not traced)."""
    out = np.where(high, 1, 0)
    for code, value in MASKED.items():
        out[qa == code] = value
    out[~land] = -1
    return out


def labels4(mask: np.ndarray) -> np.ndarray:
    """4-connected component labels (0 = background) by max propagation."""
    lab = np.where(mask, np.arange(1, mask.size + 1).reshape(mask.shape), 0)
    while True:
        nxt = lab.copy()
        nxt[1:] = np.maximum(nxt[1:], lab[:-1])
        nxt[:-1] = np.maximum(nxt[:-1], lab[1:])
        nxt[:, 1:] = np.maximum(nxt[:, 1:], lab[:, :-1])
        nxt[:, :-1] = np.maximum(nxt[:, :-1], lab[:, 1:])
        nxt[~mask] = 0
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def self_contacts(cls: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """2 x 2 windows where one region of a traced class meets itself only at
    the window's centre corner: ``(class, y, x, y', x')``, the two pixels
    of the window not in the region. Contacts between two distinct regions
    are not listed."""
    out = []
    for c in TRACED:
        m = cls == c
        lab = labels4(m)
        a, b, cc, d = m[:-1, :-1], m[:-1, 1:], m[1:, :-1], m[1:, 1:]
        diag = a & d & ~b & ~cc & (lab[:-1, :-1] == lab[1:, 1:])
        anti = b & cc & ~a & ~d & (lab[:-1, 1:] == lab[1:, :-1])
        for y, x in zip(*np.nonzero(diag)):
            out.append((c, y, x + 1, y + 1, x))
        for y, x in zip(*np.nonzero(anti)):
            out.append((c, y, x, y + 1, x + 1))
    return out


def _class_image(rng, px: int, land: np.ndarray):
    """(QA codes, bright mask) of one tile x date: QA and brightness each in
    irregular rectangular blocks, so that same-class regions join into
    L-shapes, rings and staircases and meet other regions of their class
    diagonally. A region that would meet itself at a single corner is
    closed there (the window's on-land open pixel joins the region); the
    engine's tracer cannot follow such a region (CHANGES.md, FOUND), and the
    workload's fixed request (:func:`_gen_tile_fault`) exercises it instead.
    Returns None if the closing does not settle; the caller redraws."""
    qa = _blocks(rng, px, 4, 16, [4, 5, 4, 5, 3, 6, 8, 9, 11])
    high = _blocks(rng, px, 3, 12, [True, False])
    for _ in range(64):
        found = self_contacts(classes(qa, high, land))
        if not found:
            return qa, high
        for c, y0, x0, y1, x1 in found:
            y, x = (y0, x0) if land[y0, x0] else (y1, x1)
            qa[y, x], high[y, x] = TRACED[c], c == 1
    return None


def land_mask(bounds, land_ring: np.ndarray, h: int, w: int) -> np.ndarray:
    """Pixels of an (h, w) raster over ``bounds`` whose centre lies on land."""
    minx, miny, maxx, maxy = bounds
    ring = np.column_stack([(land_ring[:, 0] - minx) / (maxx - minx) * w,
                            (maxy - land_ring[:, 1]) / (maxy - miny) * h])
    yy, xx = np.mgrid[0:h, 0:w]
    return inside_ring(xx.ravel() + 0.5, yy.ravel() + 0.5, ring).reshape(h, w)


def _image_row(rng, image_id: str, tx: int, ty: int, date: str, qa, high) -> dict:
    px = qa.shape[0]
    rgbn = np.where(high, HIGH, LOW)[:, :, None] + rng.integers(-40, 41, (px, px, 4))
    return {"image_id": image_id, "tile_x": tx, "tile_y": ty, "date_start": date,
            "bytes": png_bytes(rgbn), "qa_bytes": raw_bytes(qa)}


def _gen_tile_request(rng, out: str, p: dict) -> None:
    """Inference requests along a coastline, with the encoded imagery of
    every tile x date they plan to.

    Every request plans to ``p['shape']`` = (tiles_x, tiles_y, dates); its
    pixel extents, place, dates and pixels are drawn from the seed. Imagery
    is 4-band (B02, B03, B04, B08) PNG whose channel mean lies 40+ levels
    off the 0.5 threshold, and an SCL QA raster; see :func:`_class_image`.
    """
    px = p["px"]
    cx, cy = float(rng.uniform(-60, 60)), float(rng.uniform(-40, 40))
    land, normal = _coast(rng, cx, cy)
    pd.DataFrame({"aoi_id": [0], "geom_wkb": [polygon_wkb(land)]}).to_parquet(os.path.join(out, "land.parquet"))
    np.save(os.path.join(out, "land_ring.npy"), land)
    along = np.array([-normal[1], normal[0]])
    reqs = []
    nx, ny, nd = p["shape"]
    for k in range(p["requests"]):
        rc = np.array([cx, cy]) + rng.uniform(-3, 3) * along + rng.uniform(-0.04, 0.04) * normal
        dlon, dlat = deg_per_px(rc[1])
        w_deg, h_deg = _span_px(rng, nx) * dlon, _span_px(rng, ny) * dlat
        bbox = [rc[0] - w_deg / 2, rc[1] - h_deg / 2, rc[0] + w_deg / 2, rc[1] + h_deg / 2]
        day0 = np.datetime64("2024-01-01") + np.timedelta64(int(rng.integers(0, 300)), "D")
        dates = [str(day0 + np.timedelta64(int(7 * d), "D")) for d in range(nd)]
        rows = []
        for (tx, ty), bounds in tile_bounds(bbox, nx, ny).items():
            on_land = land_mask(bounds, land, px, px)
            for d in dates:
                drawn = None
                while drawn is None:
                    drawn = _class_image(rng, px, on_land)
                rows.append(_image_row(rng, f"r{k:03d}-{tx}-{ty}-{d}", tx, ty, d, *drawn))
        pd.DataFrame(rows).to_parquet(os.path.join(out, f"imagery-{k:03d}.parquet"))
        reqs.append({"k": k, "bbox": bbox, "dates": dates, "shape": [nx, ny, nd]})
    _write_json(os.path.join(out, "requests.json"), {"requests": reqs, "px": px, "size": p["size"]})


#: a 4 x 4 cell region (1 = class 999) that meets itself at the corner
#: between cells (2, 2) and (3, 1): the hole it encloses opens there
SELF_TOUCHING = np.array([[1, 1, 1, 1], [1, 0, 0, 1], [1, 0, 1, 1], [1, 1, 0, 0]], dtype=bool)


def _gen_tile_fault(rng, out: str, p: dict) -> None:
    """The fixed request every ``tile_request`` round also issues, the same
    for every seed: one tile, one date, all on land, dark unmasked pixels
    except one cloud region (class 999) that meets itself at a pixel
    corner. The engine's polygon tracer fails on that region (CHANGES.md,
    FOUND), so this op fails in every round, until the tracer is mended."""
    px = p["px"]
    lon, lat = 150.0, 60.0  # 10+ degrees from every seed's coastline
    land = np.array([[140.0, 55.0], [160.0, 55.0], [160.0, 65.0], [140.0, 65.0], [140.0, 55.0]])
    pd.DataFrame({"aoi_id": [0], "geom_wkb": [polygon_wkb(land)]}).to_parquet(os.path.join(out, "land.parquet"))
    np.save(os.path.join(out, "land_ring.npy"), land)
    dlon, dlat = deg_per_px(lat)
    half = 500.0  # a 1000-px request: one tile, not padded
    bbox = [lon - half * dlon, lat - half * dlat, lon + half * dlon, lat + half * dlat]
    cell = px // 8
    qa = np.full((px, px), 4, dtype=np.uint8)
    region = np.kron(SELF_TOUCHING, np.ones((cell, cell), dtype=bool))
    qa[cell : 5 * cell, cell : 5 * cell][region] = 3
    high = np.zeros((px, px), dtype=bool)
    assert self_contacts(classes(qa, high, np.ones_like(high)))
    date = "2024-06-01"
    pd.DataFrame([_image_row(rng, "fault-0-0", 0, 0, date, qa, high)]).to_parquet(
        os.path.join(out, "imagery-000.parquet")
    )
    _write_json(os.path.join(out, "requests.json"),
                {"requests": [{"k": 0, "bbox": bbox, "dates": [date], "shape": [1, 1, 1]}], "px": px})


# ------------------------------------------------------------ ingest_cycle


def _gen_ingest_corpus(rng, out: str, p: dict) -> None:
    """The phash corpus an index is built from (once, see ``IngestCycle``)."""
    corpus = random_phashes(rng, p["corpus"])
    pq.write_table(
        pa.table({"image_id": [f"c{i:07d}" for i in range(len(corpus))], "phash": pa.array(corpus)}),
        os.path.join(out, "corpus.parquet"),
    )


def corpus_dir(size: str) -> str:
    return ensure("ingest_corpus", 0, size)


def _gen_ingest_cycle(rng, out: str, p: dict) -> None:
    """One directory of arrived objects per cycle, against the shared corpus
    (:func:`corpus_dir`; the same for every seed so that its index is built
    once per checkout).

    Each cycle has ``arrivals`` objects: ``poison`` undecodable ones (random
    bytes, or a PNG signature over a corrupt stream), ``planted`` near-dups
    (1-3 bits) of the corpus or of an arrival appended by an earlier cycle,
    and the rest fresh random phashes. A warm-up cycle runs against its own
    copy of the index and is never probed again.
    """
    corpus = pd.read_parquet(os.path.join(corpus_dir(p["size"]), "corpus.parquet")).phash.to_numpy()
    pool = list(map(int, corpus))  # what the index holds when a cycle runs
    n_cycles = p["rounds"] * p["cycles_per_round"]
    px = p["px"]
    for c in ["warmup"] + list(range(n_cycles)):
        name = c if c == "warmup" else f"{c:03d}"
        d = os.path.join(out, f"cycle-{name}")
        os.makedirs(d)
        kinds = ["poison"] * p["poison"] + ["planted"] * p["planted"]
        kinds += ["fresh"] * (p["arrivals"] - len(kinds))
        kinds = [kinds[i] for i in rng.permutation(len(kinds))]
        manifest, appended = [], []
        for i, kind in enumerate(kinds):
            image_id = f"a{name}-{i:03d}"
            if kind == "poison":
                if i % 2:
                    blob = rng.bytes(300)
                else:
                    blob = b"\x89PNG\r\n\x1a\n" + rng.bytes(200)
                ph = int(rng.integers(0, 2**63 - 1))
            else:
                if kind == "planted":
                    ph = flip_bits(rng, pool[int(rng.integers(0, len(pool)))], int(rng.integers(1, 4)))
                else:
                    ph = int(rng.integers(0, 2**63 - 1))
                    appended.append(ph)
                img = rng.integers(0, 256, (px, px, 3)).astype(np.uint8)
                blob = png_bytes(img)
            with open(os.path.join(d, f"{image_id}.png"), "wb") as fh:
                fh.write(blob)
            manifest.append({"image_id": image_id, "phash": ph, "kind": kind})
        pd.DataFrame(manifest).to_parquet(os.path.join(out, f"manifest-{name}.parquet"))
        if c != "warmup":
            pool.extend(appended)
    _write_json(os.path.join(out, "meta.json"), {"cycles": n_cycles, **p})


_GENERATORS = {
    "curate": _gen_curate,
    "tile_request": _gen_tile_request,
    "ingest_cycle": _gen_ingest_cycle,
    "ingest_corpus": _gen_ingest_corpus,
    "tile_fault": _gen_tile_fault,
}
