"""Two-strategy spatial join (intersects) — the engine's core operator.

Reference semantics: ``gpd.sjoin(..., predicate="intersects")``
(``postprocess_generic_helper_functions.py:368``) joining image footprint
bboxes against AOI/mask polygons, plus the bbox clip pre-filter
(``:273, :291``). Re-expressed for Spark's execution model:

**Strategy A — broadcast** (AOI side fits in memory; the common case: the
reference reads the *same* LULC/land-polygon layers on every task).
The driver packs AOI envelopes into an STR R-tree + decoded rings, ships one
pickled broadcast variable, and a single ``mapInPandas`` pass over the images
streams Arrow batches through (R-tree candidate lookup → exact intersects).
**Zero shuffle** — the whole join is map-side, so it scales linearly with
executors (the property the N→4N efficiency rule measures).

**Strategy B — partitioned** (both sides large). Images and AOIs are each
exploded to covering hex cells at a common resolution; the join is a plain
equi-join on ``cell_id``. Skew (a hot cell — one giant AOI or a dense
region) is handled by AQE's runtime skew-join split by default, with an
explicit image-side salt (AOI cells replicated per salt) available for
cases beyond AQE's per-partition granularity (SURVEY.md §4 "skew handling":
the reference has none; a giant AOI just makes one slow task). Exact
geometry runs per matched boundary pair; PBSM reference-point ownership
de-duplicates pairs that co-occur in several cells without any shuffle.

Both strategies return the same (image_id, aoi_id) pair set; tests assert
set-equality against a brute-force oracle.
"""

from __future__ import annotations

import pickle
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import spatial as S
from ..geo import geometry as G
from ..geo import wkb
from ..geo.strtree import STRtree
from ..index import hexgrid
from .tiling import cover_cell_qr, explode_cover_cells_expr


def pack_aois(aoi_pdf: pd.DataFrame) -> bytes:
    """Driver-side: decode WKB once, pack envelopes into an STRtree, pickle
    for broadcast. Geometry decode happens once per *job*, not once per task
    (the reference re-reads the layer file in every task container)."""
    rings = [wkb.polygon_rings(b) for b in aoi_pdf["geom_wkb"]]
    boxes = np.array(
        [
            [r[0][:, 0].min(), r[0][:, 1].min(), r[0][:, 0].max(), r[0][:, 1].max()]
            for r in rings
        ],
        dtype=np.float64,
    ).reshape(-1, 4)
    tree = STRtree(boxes)
    return pickle.dumps(
        {"ids": aoi_pdf["aoi_id"].to_numpy(), "rings": rings, "tree": tree},
        protocol=pickle.HIGHEST_PROTOCOL,
    )


def broadcast_spatial_join(
    images_fp: DataFrame,
    aoi_pdf: pd.DataFrame,
    extra_cols: tuple[str, ...] = (),
    id_col: str = "image_id",
) -> DataFrame:
    """Map-side intersects join: images (with minx..maxy) × broadcast AOIs.

    Returns (id_col, aoi_id, *extra_cols). No shuffle appears in the plan.
    Id columns keep their input types — at 10^12 rows use int64 keys: a
    24M-pair output of 12-char strings moves ~5× the bytes of longs through
    Arrow and the sink.
    """
    packed = pack_aois(aoi_pdf)
    sc = images_fp.sparkSession.sparkContext
    bc = sc.broadcast(packed)
    cols = [id_col, "minx", "miny", "maxx", "maxy", *extra_cols]
    id_type = dict(images_fp.dtypes)[id_col]
    aoi_type = "bigint" if pd.api.types.is_integer_dtype(aoi_pdf["aoi_id"]) else "string"
    out_schema = f"{id_col} {id_type}, aoi_id {aoi_type}" + "".join(
        f", {c} {t}" for c, t in _schema_types(images_fp, extra_cols)
    )

    def join_partition(batches):
        # mapInArrow (not mapInPandas): the probe stream's numeric columns
        # reach numpy zero-copy and the output is assembled with Arrow takes
        # — no pandas Series/Block materialization per 10^7-row batch.
        import pyarrow as pa
        import pyarrow.compute as pc

        aois = pickle.loads(bc.value)
        tree: STRtree = aois["tree"]
        rings = aois["rings"]
        ids = aois["ids"]
        # typed: a batch without pairs would otherwise get Arrow type null
        id_arrow = pa.int64() if aoi_type == "bigint" else pa.string()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            qboxes = np.column_stack(
                [col[c].to_numpy() for c in ("minx", "miny", "maxx", "maxy")]
            )
            qi, ti = tree.query_many(qboxes)
            # exact test vectorized per AOI: one numpy pass over all candidate
            # boxes of each polygon instead of a Python call per pair
            keep = np.zeros(len(qi), dtype=bool)
            for t in np.unique(ti):
                sel = ti == t
                keep[sel] = G.polygon_intersects_boxes(rings[t], qboxes[qi[sel]])
            qi, ti = qi[keep], ti[keep]
            idx = pa.array(qi)
            arrays = [pc.take(col[id_col], idx), pa.array(ids[ti], type=id_arrow)]
            for c in extra_cols:
                arrays.append(pc.take(col[c], idx))
            yield pa.record_batch(arrays, names=[id_col, "aoi_id", *extra_cols])

    return images_fp.select(*cols).mapInArrow(join_partition, out_schema)


def aoi_cover_cells(aois: DataFrame, res: int, with_geom: bool = True) -> DataFrame:
    """AOI side of the partitioned join: one row per (aoi, covering hex cell)
    with a three-way interior / boundary / outside classification.

    Per cell, against the polygon (not just its bbox):

    * no ring segment enters the hex's AABB (padded 1e-9°) and all six hex
      vertices are inside → **interior** (``full = true``): candidates whose
      reference point lands here are emitted WITHOUT any exact geometry test
      or geometry transfer;
    * a ring segment enters the AABB → **boundary** (``full = false``):
      candidates take the exact-test path;
    * no segment enters and the vertices are outside → the cell overlaps the
      AOI *bbox* but not the polygon — **kept as a boundary row anyway**.
      These cells cannot witness an intersection themselves, but PBSM
      reference-point dedup emits a pair only from the single cell owning
      the bbox-intersection corner, and for a thin diagonal/concave AOI that
      corner can land in a polygon-free cell even though the image bbox
      intersects the polygon elsewhere. Dropping them silently loses true
      pairs (caught by a thin-diagonal-strip oracle test); keeping them only
      adds cheap exact tests, because the exact kernel evaluates the FULL
      image bbox against the polygon, not just the owning cell.

    The trichotomy is sound because a segment wholly inside the AABB still
    "hits" it: if no segment hits, polygon membership is constant across the
    AABB and the six vertices all agree. Classification is conservative —
    fp wobble demotes interior to boundary (one wasted exact test), never
    promotes.

    ``with_geom=False`` omits the WKB column altogether (broadcast geometry
    transport); otherwise boundary cells carry it, so a continent-sized AOI
    ships its geometry O(perimeter) times, not O(area).
    """
    size = float(hexgrid.cell_size(res))
    sqrt3 = float(np.sqrt(3.0))
    vert_ang = np.deg2rad(30.0 + 60.0 * np.arange(6))
    vcos, vsin = np.cos(vert_ang) * size, np.sin(vert_ang) * size
    aoi_type = dict(aois.dtypes)["aoi_id"]
    out_schema = (
        f"aoi_id {aoi_type}, cell_id long, full boolean, "
        + ("geom_wkb binary, " if with_geom else "")
        + "aoi_minx double, aoi_miny double, aoi_maxx double, aoi_maxy double"
    )
    cols = ["aoi_id", "geom_wkb", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"]
    CHUNK = 1 << 15  # bound the M×N classify broadcasts for continent AOIs

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                q, r = cover_cell_qr(
                    row.bbox_minx, row.bbox_miny, row.bbox_maxx, row.bbox_maxy, res
                )
                if q.size == 0:
                    continue
                rings = wkb.polygon_rings(bytes(row.geom_wkb))
                clng = size * sqrt3 * (q.astype(np.float64) + r.astype(np.float64) / 2.0)
                clat = size * 1.5 * r.astype(np.float64)
                full = np.zeros(q.size, dtype=bool)
                for s in range(0, q.size, CHUNK):
                    e = min(s + CHUNK, q.size)
                    vx = (clng[s:e, None] + vcos[None, :]).ravel()
                    vy = (clat[s:e, None] + vsin[None, :]).ravel()
                    inside = (
                        G.points_in_polygon(vx, vy, rings).reshape(-1, 6).all(axis=1)
                    )
                    # hex AABB padded by 1e-9°: a boundary passing within fp
                    # wobble of the hex must demote it to the exact-test path
                    aabb = np.column_stack(
                        [
                            clng[s:e] - sqrt3 / 2.0 * size - 1e-9,
                            clat[s:e] - size - 1e-9,
                            clng[s:e] + sqrt3 / 2.0 * size + 1e-9,
                            clat[s:e] + size + 1e-9,
                        ]
                    )
                    hit = np.zeros(e - s, dtype=bool)
                    for ring in rings:
                        hit |= G.segments_hit_boxes(ring, aabb)
                    full[s:e] = inside & ~hit
                # ALL bbox-covering cells stay joinable (incl. polygon-free
                # 'outside' cells) — reference-point ownership may fall in
                # any of them; see the classification docstring above.
                cell_id = hexgrid._pack(np.full(q.size, res, dtype=np.int64), q, r)
                data = {
                    "aoi_id": row.aoi_id,
                    "cell_id": cell_id,
                    "full": full,
                }
                if with_geom:
                    data["geom_wkb"] = np.where(full, None, row.geom_wkb)
                data.update(
                    aoi_minx=row.bbox_minx,
                    aoi_miny=row.bbox_miny,
                    aoi_maxx=row.bbox_maxx,
                    aoi_maxy=row.bbox_maxy,
                )
                outs.append(pd.DataFrame(data))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return aois.select(*cols).mapInPandas(gen, out_schema)


#: geometry broadcast cap for ``geom_transport="auto"`` — the collected
#: (aoi_id → WKB) dict must stay well under executor memory; past this the
#: WKB rides the AOI-cell relation instead (rows mode).
GEOM_BROADCAST_MAX_BYTES = 128 << 20


def refpoint_owner_pred(
    res: int,
    aoi_min_cols: tuple[str, str] = ("aoi_minx", "aoi_miny"),
    img_min_cols: tuple[str, str] = ("minx", "miny"),
):
    """PBSM reference-point dedup predicate, fully codegen and branchless:
    decode the candidate cell's centre from ``cell_id`` (bit ops), then
    half-open 3-slab point-in-hex ownership of the bbox-intersection's
    bottom-left corner ``(max(minx, aoi_minx), max(miny, aoi_miny))``.
    Half-open slabs ([-apo, apo) on the three hex edge-normal axes) tile the
    plane, so every reference point has EXACTLY ONE owner cell even on hex
    boundaries — stronger than axial rounding, and ~30 flat expression nodes
    vs the rounding `when`-tree that blew past JIT method limits and ran
    interpreted (measured 13.6s for 17.5M rows at 32 cores). Owner-cell
    uniqueness holds across the whole covering-cell set, so joins against
    disjoint cell subsets emit disjoint pair sets — no cross-branch dedup.
    ``aoi_min_cols``/``img_min_cols`` name the two bboxes' min corners (the
    contract bbox join uses aminx/aminy on its AOI side)."""
    sqrt3 = float(np.sqrt(3.0))
    size = float(hexgrid.cell_size(res))
    apo = F.lit(sqrt3 / 2.0 * size)
    mask29 = F.lit((1 << 29) - 1)
    off = F.lit(hexgrid._OFF)
    cq = (F.shiftright(F.col("cell_id"), 29).bitwiseAND(mask29) - off).cast("double")
    cr = (F.col("cell_id").bitwiseAND(mask29) - off).cast("double")
    dx = F.greatest(F.col(img_min_cols[0]), F.col(aoi_min_cols[0])) - F.lit(size * sqrt3) * (cq + cr / 2.0)
    dy = F.greatest(F.col(img_min_cols[1]), F.col(aoi_min_cols[1])) - F.lit(size * 1.5) * cr
    a2 = dx * 0.5 + F.lit(sqrt3 / 2.0) * dy
    a3 = F.lit(sqrt3 / 2.0) * dy - dx * 0.5
    return (
        (dx >= -apo) & (dx < apo) & (a2 >= -apo) & (a2 < apo) & (a3 >= -apo) & (a3 < apo)
    )


def partitioned_spatial_join(
    images_fp: DataFrame,
    aois: DataFrame,
    res: int = 5,
    n_salts: int | None = None,
    id_col: str = "image_id",
    geom_transport: str = "auto",
) -> DataFrame:
    """Shuffle-based intersects join, PBSM-style (partition-based spatial
    merge): both sides explode to covering hex cells, meet in ONE salted
    equi-join on ``cell_id``, and every later step is a stateless filter —
    no cogroup, no distinct, no per-AOI grouping that could cap parallelism.

    * **Reference-point dedup** (classic PBSM duplicate avoidance): a pair
      that co-occurs in several covering cells is emitted only by the single
      cell containing ``(max(minx_img, minx_aoi), max(miny_img, miny_aoi))``
      — the bottom-left corner of the bbox intersection. Pure codegen
      (``hex_cell(ref) = cell_id``), so dedup costs zero shuffles.
    * **Interior-cell shortcut**: candidates whose reference cell is provably
      inside the polygon (``aoi_cover_cells`` classification) are emitted
      without any geometry test — the reference point itself witnesses the
      intersection. Only boundary-cell candidates reach the vectorized
      exact kernel, with the WKB riding the (small) AOI-cell relation, never
      the candidate stream.
    * **Skew**: ``n_salts=None`` (default) resolves to 1 when AQE skew-join
      is enabled — Spark's runtime skew split already divides an oversized
      probe partition and replicates the matching build rows per split, so a
      static image-side salt only replicates the ENTIRE AOI-cell build
      relation ``n_salts``× for nothing (measured ~20% of join wall time at
      the 1.5M-cell fixture). Without AQE it resolves to 8. An explicit
      ``n_salts`` still forces static salting (hot-cell exactness tests use
      it; also the right lever when one cell exceeds what AQE's
      per-partition split granularity can fix). The exact stage is
      order-agnostic, so parallelism is bounded by shuffle partitions — not
      by AOI count × salt as the old cogroup design was (measured flat 8→32
      wall time; now removed).
    * ``shuffle_hash`` hint on the cell relation: the build side is the AOI
      cells; exploded mapInPandas output has no reliable size estimate, so
      we pin the strategy instead of letting a mis-estimate pick a broadcast
      of a relation that is large by contract ("both sides large").
    * **Geometry transport** is size-adaptive (``geom_transport="auto"``):
      when the total WKB payload fits ``GEOM_BROADCAST_MAX_BYTES``, an
      (aoi_id → WKB) dict is broadcast once and the boundary candidate
      stream stays slim (id + aoi_id + 4 doubles ≈ 50 B/row) — measured 2.7
      GB/run of UnsafeRow/Arrow WKB copies removed at 8M probes. Past the
      cap it degrades to WKB riding the boundary AOI-cell rows
      (``"rows"``), which bounds geometry replication by O(boundary cells),
      never O(candidates). The exploded *cell* relations still shuffle-join
      in both modes — this is NOT a broadcast join of the AOI table.

    ``res`` picks prune granularity: coarser → fewer cells per AOI but more
    false candidates; finer → bigger AOI replication. Same pair set as
    ``gpd.sjoin(..., predicate="intersects")`` — reference
    ``postprocess_generic_helper_functions.py:368``.
    """
    if geom_transport == "auto":
        stats = aois.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("geom_wkb")).alias("b")
        ).first()
        geom_transport = (
            "broadcast"
            if (stats["b"] or 0) + 64 * stats["n"] <= GEOM_BROADCAST_MAX_BYTES
            else "rows"
        )
    broadcast_geoms = geom_transport == "broadcast"
    if n_salts is None:
        aqe_skew = (
            images_fp.sparkSession.conf.get("spark.sql.adaptive.enabled", "true") == "true"
            and images_fp.sparkSession.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
            == "true"
        )
        n_salts = 1 if aqe_skew else 8
    salted = n_salts > 1
    img_cells = explode_cover_cells_expr(
        images_fp.select(id_col, "minx", "miny", "maxx", "maxy"), res
    )
    # materialize the (small) classified AOI-cell relation once: both join
    # branches consume it, and without the checkpoint the classify UDF +
    # its Python stage run once per branch. localCheckpoint also truncates
    # the lineage so AQE sees real row counts for the build sides.
    acells = aoi_cover_cells(aois, res, with_geom=not broadcast_geoms).localCheckpoint()
    geom_bc = None
    if broadcast_geoms:
        geom_bc = images_fp.sparkSession.sparkContext.broadcast(
            dict(aois.select("aoi_id", "geom_wkb").toLocalIterator())
        )
    keys = ["cell_id"]
    if salted:
        img_cells = img_cells.withColumn("salt", S.salt(F.col(id_col), n_salts))
        acells = acells.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        keys.append("salt")

    # The interior/boundary split happens on the (small) AOI-cell relation
    # BEFORE the join: two hash joins against the SAME image-cell exchange
    # (AQE ReusedExchange — the 8M+-row map side runs once), with disjoint
    # build sides. Interior-cell candidates become pairs entirely inside
    # whole-stage codegen; only boundary-cell candidates cross into the
    # Arrow exact kernel. Rejected alternatives, both measured slower:
    # a post-join filter union (re-runs the join + filters per branch,
    # ~1.7× reduce CPU) and a single mapInArrow over all candidates (ships
    # the interior majority through Python for nothing, ~2× reduce CPU,
    # and AQE's skew-split does not apply to the Python stage).
    acells_full = acells.filter(F.col("full"))
    acells_bnd = acells.filter(~F.col("full"))

    def candidates(aoi_cells: DataFrame) -> DataFrame:
        cand = img_cells.join(aoi_cells.hint("shuffle_hash"), keys)
        # candidate prune + reference-point dedup — all codegen, inside the
        # join stage: the 10M+-row candidate stream never hits an exchange
        cand = cand.filter(
            (F.col("minx") <= F.col("aoi_maxx"))
            & (F.col("maxx") >= F.col("aoi_minx"))
            & (F.col("miny") <= F.col("aoi_maxy"))
            & (F.col("maxy") >= F.col("aoi_miny"))
        )
        return cand.filter(refpoint_owner_pred(res))

    full_pairs = candidates(acells_full).select(id_col, "aoi_id")
    sel_cols = [id_col, "aoi_id", "minx", "miny", "maxx", "maxy"]
    if not broadcast_geoms:
        sel_cols.insert(2, "geom_wkb")
    sel = candidates(acells_bnd).select(*sel_cols)
    pair_schema = ", ".join(f"{c} {t}" for c, t in _schema_types(sel, (id_col, "aoi_id")))

    def exact(batches):
        # mapInArrow, not mapInPandas: numeric columns reach numpy zero-copy
        # and WKB never materializes as per-row Python objects — geometry is
        # either a worker-cached broadcast-dict lookup (one parse per AOI per
        # worker) or one .as_py() per distinct AOI per batch (rows mode).
        import pyarrow as pa
        import pyarrow.compute as pc

        ring_cache: dict = {}

        def rings_for(key, geoms_col, row_idx):
            rings = ring_cache.get(key)
            if rings is None:
                raw = geom_bc.value[key] if geoms_col is None else geoms_col[row_idx].as_py()
                rings = ring_cache[key] = wkb.polygon_rings(bytes(raw))
            return rings

        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            aoi = col["aoi_id"].to_numpy(zero_copy_only=False)
            boxes = np.column_stack(
                [col[c].to_numpy() for c in ("minx", "miny", "maxx", "maxy")]
            )
            geoms = None if broadcast_geoms else col["geom_wkb"]
            keep = np.zeros(rb.num_rows, dtype=bool)
            order = np.argsort(aoi, kind="stable")
            sa = aoi[order]
            starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
            bounds = np.r_[starts, sa.size]
            for s, e in zip(bounds[:-1], bounds[1:]):
                gi = order[s:e]
                key = sa[s].item() if hasattr(sa[s], "item") else sa[s]
                rings = rings_for(key, geoms, int(gi[0]))
                keep[gi] = G.polygon_intersects_boxes(rings, boxes[gi])
            idx = pa.array(np.flatnonzero(keep))
            yield pa.record_batch(
                [pc.take(col[id_col], idx), pc.take(col["aoi_id"], idx)],
                names=[id_col, "aoi_id"],
            )

    return full_pairs.unionAll(sel.mapInArrow(exact, pair_schema))


def spatial_join_oracle(images_pdf: pd.DataFrame, aoi_pdf: pd.DataFrame) -> set[tuple[str, str]]:
    """Brute-force single-node oracle over the full cross product
    (FIXTURES.md T6 join_oracle) using the same geometry kernel."""
    out = set()
    rings_by_aoi = [(r["aoi_id"], wkb.polygon_rings(r["geom_wkb"])) for _, r in aoi_pdf.iterrows()]
    for _, im in images_pdf.iterrows():
        for aid, rings in rings_by_aoi:
            if G.polygon_intersects_bbox(rings, im["minx"], im["miny"], im["maxx"], im["maxy"]):
                out.add((im["image_id"], aid))
    return out


def _schema_types(df: DataFrame, cols: tuple[str, ...]):
    m = dict(df.dtypes)
    return [(c, m[c]) for c in cols]
