"""``curate``: one op reads one decode-free image batch and derives
footprints + adaptive hex cells, joins them against broadcast AOI polygons
(one of them a 20-degree skew giant), counts images per AOI, and finds the
batch's phash near-dup pairs.

Checks (all independent of the program's code):
* every cell id unpacks to the hex centre nearest the footprint centre
  (checked against its six neighbours) at the resolution the footprint's
  extent asks for;
* the op's per-AOI counts, and for the first op of a run the (image, AOI)
  pair set behind them, equal a numpy brute-force polygon-intersects-box
  test (the cells and pairs are computed again for the check, after the
  run's last timed op);
* the near-dup pairs equal a DuckDB ``bit_count(xor)`` all-pairs scan, and
  every planted near-dup is among them.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from common import CheckFailed, Workload, check, inside_ring

MAX_HAMMING = 3
_OFF = 1 << 28
_MASK29 = (1 << 29) - 1


class Curate(Workload):
    settle_rounds = 1
    defer_checks = True

    def __init__(self, spark, inp: str, tracer, dirs):
        self.spark, self.t = spark, tracer
        meta = json.load(open(os.path.join(inp, "meta.json")))
        self.batches = [os.path.join(inp, f"batch-{b}.parquet") for b in range(meta["batches"])]
        self.planted = [json.load(open(os.path.join(inp, f"planted-{b}.json"))) for b in range(meta["batches"])]
        self.aoi_pdf = pd.read_parquet(os.path.join(inp, "aois.parquet"))
        self.rings = list(np.load(os.path.join(inp, "aoi_rings.npy"), allow_pickle=True))
        self.rows = meta["rows"]

    def warmup_arg(self):
        return len(self.batches) - 1

    def round_args(self, r: int):
        return [r % (len(self.batches) - 1)]

    def _cells(self, batch):
        from geospatial_studio_pipelines_spark.operators import footprints, tiling

        return tiling.with_cell(footprints.with_footprint(batch))

    def _joined(self, cells):
        from geospatial_studio_pipelines_spark.operators import spatial_join

        return spatial_join.broadcast_spatial_join(cells, self.aoi_pdf, extra_cols=("cell_id",))

    def op(self, b: int):
        from geospatial_studio_pipelines_spark.operators import dedup

        t = self.t
        with t.span("source"):
            batch = t.boundary(self.spark.read.parquet(self.batches[b]))
        with t.span("tiling"):
            cells = t.boundary(self._cells(batch))
        with t.span("spatial_join"):
            joined = t.boundary(self._joined(cells))
        with t.span("aggregate"):
            per_aoi = joined.groupBy("aoi_id").count().toArrow()
        with t.span("dedup"):
            dups = dedup.hamming_near_dups(
                batch, "phash", id_col="image_id", bits=64, bands=4, max_hamming=MAX_HAMMING
            ).toArrow()
        t.count("spatial_join.pairs", sum(per_aoi.column("count").to_pylist()))
        t.count("dedup.pairs", dups.num_rows)
        t.release()
        return self.rows, (per_aoi, dups)

    def traced_counts(self, b: int, out) -> None:
        """Rows out of tiling, and the candidates of the banding join (sum
        over (band, key) buckets of C(n, 2), on the engine's own banding),
        counted outside every span."""
        from pyspark.sql import functions as F

        from geospatial_studio_pipelines_spark.operators import dedup

        batch = self.spark.read.parquet(self.batches[b])
        self.t.count("tiling.rows", self._cells(batch).count())
        banded = dedup.banded_signatures(
            batch, "phash", id_col="image_id", bits=64,
            bands=4, max_hamming=MAX_HAMMING, hot_bucket_limit=None,
        )
        n = F.col("count")
        total = banded.groupBy("band", "key").count().select(F.sum(n * (n - 1) / 2)).first()[0]
        self.t.count("dedup.candidates", total or 0)

    # ------------------------------------------------------------ checks

    def check_all(self, items) -> list:
        """Checks the ops' cells, per-AOI counts and near-dup pairs after the
        last timed op. The cell table behind them is computed again by the
        same deterministic calls, for all the ops' batches in one pass; the
        (image, AOI) pair set is computed again for the first op's batch."""
        used = sorted({b for b, _ in items})
        cells_all = self._cells(self.spark.read.parquet(*(self.batches[b] for b in used))).select(
            "image_id", "phash", "minx", "miny", "maxx", "maxy", "res", "cell_id"
        ).toPandas()
        batches = {b: pd.read_parquet(self.batches[b]) for b in used}
        near_dups = _near_dup_scan(batches)
        errors = []
        for i, (b, (per_aoi, dups)) in enumerate(items):
            batch = batches[b]
            cells = cells_all[cells_all.image_id.isin(batch.image_id)]
            try:
                check(len(cells) == len(batch) and set(cells.image_id) == set(batch.image_id), "cells: one row per image")
                _check_cells(cells)
                want = _brute_force_pairs(cells, self.aoi_pdf.aoi_id.tolist(), self.rings)
                if i == 0:
                    pairs = self._joined(self._cells(self.spark.read.parquet(self.batches[b])))
                    _check_pairs(pairs.select("image_id", "aoi_id").toPandas(), want)
                _check_counts(per_aoi.to_pandas(), want)
                _check_dups(dups.to_pandas(), near_dups[b], self.planted[b])
                errors.append(None)
            except CheckFailed as e:
                errors.append(str(e))
        return errors


def _check_cells(c: pd.DataFrame) -> None:
    lon = ((c.minx + c.maxx) / 2).to_numpy()
    lat = ((c.miny + c.maxy) / 2).to_numpy()
    # lat is not compared with the fixture formula: the engine divides the
    # int64 phash as a double (CHANGES.md, FOUND)
    want_lon = -180.0 + (c.phash.to_numpy() % 360000) / 1000.0
    check(np.allclose(lon, want_lon, atol=1e-9), "cells: footprint centred on the phash lon")
    extent = np.maximum(c.maxx - c.minx, c.maxy - c.miny).to_numpy()
    want_res = np.clip(np.floor(np.log(20.0 / extent) / math.log(math.sqrt(7.0))), 5, 12)
    cell = c.cell_id.to_numpy().astype(np.int64)
    res = (cell >> 58) & 0xF
    check(np.array_equal(res, c.res.to_numpy()) and np.array_equal(res, want_res), "cells: resolution")
    q = ((cell >> 29) & _MASK29) - _OFF
    r = (cell & _MASK29) - _OFF
    size = 20.0 / np.power(math.sqrt(7.0), res)

    def dist(dq, dr):
        cx = size * math.sqrt(3.0) * ((q + dq) + (r + dr) / 2.0)
        cy = size * 1.5 * (r + dr)
        return np.hypot(lon - cx, lat - cy)

    own = dist(0, 0)
    for dq, dr in ((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)):
        check(bool(np.all(own <= dist(dq, dr) + 1e-9 * size)), "cells: a neighbour centre is nearer")


def _boxes_hit_polygon(ring: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """Brute force: closed polygon ∩ closed box is non-empty iff a box corner
    lies in the polygon, a polygon vertex lies in the box, or an edge of one
    crosses an edge of the other."""
    x0, y0, x1, y1 = (boxes[:, i][:, None] for i in range(4))
    a, b = ring[:-1], ring[1:]
    hit = np.zeros(len(boxes), dtype=bool)
    for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):
        hit |= inside_ring(cx[:, 0], cy[:, 0], ring)
    vx, vy = a[:, 0][None, :], a[:, 1][None, :]
    hit |= np.any((vx >= x0) & (vx <= x1) & (vy >= y0) & (vy <= y1), axis=1)
    box_edges = [((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)), ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))]

    def orient(px, py, qx, qy, rx, ry):
        return np.sign((qx - px) * (ry - py) - (qy - py) * (rx - px))

    for (px, py), (qx, qy) in box_edges:
        o1 = orient(px, py, qx, qy, a[:, 0], a[:, 1])
        o2 = orient(px, py, qx, qy, b[:, 0], b[:, 1])
        o3 = orient(a[:, 0], a[:, 1], b[:, 0], b[:, 1], px, py)
        o4 = orient(a[:, 0], a[:, 1], b[:, 0], b[:, 1], qx, qy)
        hit |= np.any((o1 * o2 < 0) & (o3 * o4 < 0), axis=1)
    return hit


def _brute_force_pairs(cells: pd.DataFrame, aoi_ids: list[str], rings) -> set:
    """The (image, AOI) pairs whose polygon meets the footprint box."""
    boxes = cells[["minx", "miny", "maxx", "maxy"]].to_numpy()
    ids = cells.image_id.to_numpy()
    want = set()
    for aid, ring in zip(aoi_ids, rings):
        # a box that misses the ring's bounding box misses the polygon
        near = np.nonzero(
            (boxes[:, 0] <= ring[:, 0].max()) & (boxes[:, 2] >= ring[:, 0].min())
            & (boxes[:, 1] <= ring[:, 1].max()) & (boxes[:, 3] >= ring[:, 1].min())
        )[0]
        for i in near[_boxes_hit_polygon(ring, boxes[near])]:
            want.add((ids[i], aid))
    return want


def _check_pairs(pairs: pd.DataFrame, want: set) -> None:
    got = set(zip(pairs.image_id, pairs.aoi_id))
    check(len(got) == len(pairs), "spatial_join: duplicate pairs")
    check(got == want, f"spatial_join: {len(got ^ want)} pairs differ from brute force")


def _check_counts(per_aoi: pd.DataFrame, want: set) -> None:
    want_n = pd.Series([a for _, a in want], dtype=object).value_counts().to_dict()
    got_n = dict(zip(per_aoi.aoi_id, per_aoi["count"]))
    check(got_n == want_n, "spatial_join: per-AOI counts differ from brute force")


def _near_dup_scan(batches: dict) -> dict:
    """DuckDB ``bit_count(xor)`` all-pairs scan within each batch:
    ``{batch: {(id_a, id_b, hamming), ...}}``."""
    import duckdb

    rows = pd.concat([df[["image_id", "phash"]].assign(b=b) for b, df in batches.items()], ignore_index=True)
    con = duckdb.connect()
    try:
        con.register("r", rows)
        found = con.execute(
            "SELECT x.b, x.image_id, y.image_id, bit_count(xor(x.phash, y.phash)) "
            "FROM r x JOIN r y ON x.b = y.b AND x.image_id < y.image_id "
            f"WHERE bit_count(xor(x.phash, y.phash)) <= {MAX_HAMMING}"
        ).fetchall()
    finally:
        con.close()
    out = {b: set() for b in batches}
    for b, a, c, h in found:
        out[b].add((a, c, h))
    return out


def _check_dups(got: pd.DataFrame, want: set, planted) -> None:
    got_set = set(zip(got.id_a, got.id_b, got.hamming.astype(int)))
    check(len(got_set) == len(got), "dedup: duplicate pairs")
    check(got_set == want, f"dedup: {len(got_set ^ want)} pairs differ from the all-pairs scan")
    pairs = {(a, b) for a, b, _ in got_set}
    check(all((min(s, d), max(s, d)) in pairs for s, d in planted), "dedup: a planted near-dup is missing")
