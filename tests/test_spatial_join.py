"""Spatial join (both strategies) vs brute-force oracle — set equality."""

import pytest

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.operators import footprints, spatial_join


@pytest.fixture(scope="module")
def setup(spark):
    images_fp = footprints.with_footprint(datagen.images_df(spark, 200)).cache()
    aoi_pdf = datagen.aoi_pdf(25)
    oracle = spatial_join.spatial_join_oracle(
        images_fp.select("image_id", "minx", "miny", "maxx", "maxy").toPandas(), aoi_pdf
    )
    return images_fp, aoi_pdf, oracle


def test_oracle_nontrivial(setup):
    _, aoi_pdf, oracle = setup
    assert len(oracle) >= 15  # fixtures must make the join non-degenerate
    # the giant skew AOI must match multiple images
    giant = [p for p in oracle if p[1] == "aoi-0000"]
    assert len(giant) >= 3


def test_broadcast_join_matches_oracle(spark, setup):
    images_fp, aoi_pdf, oracle = setup
    got = spatial_join.broadcast_spatial_join(images_fp, aoi_pdf).collect()
    assert {(r.image_id, r.aoi_id) for r in got} == oracle
    assert len(got) == len(oracle)  # no duplicate pairs


def test_broadcast_join_plan_has_no_shuffle(spark, setup):
    images_fp, aoi_pdf, _ = setup
    plan = spatial_join.broadcast_spatial_join(images_fp, aoi_pdf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side join


def test_broadcast_join_extra_cols(spark, setup):
    images_fp, aoi_pdf, oracle = setup
    got = spatial_join.broadcast_spatial_join(images_fp, aoi_pdf, extra_cols=("caption", "w")).collect()
    caps = {r.image_id: r.caption for r in got}
    for iid, cap in caps.items():
        i = int(iid.split("-")[1])
        assert cap == f"synthetic scene {i} tile test"


def test_broadcast_join_batches_without_pairs(spark, setup):
    """One task yields record batches with and without pairs; both must
    carry the declared aoi_id type (string ids here)."""
    images_fp, aoi_pdf, oracle = setup
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = spatial_join.broadcast_spatial_join(images_fp.coalesce(1), aoi_pdf).collect()
    finally:
        spark.conf.set(key, old)
    assert {(r.image_id, r.aoi_id) for r in got} == oracle


@pytest.mark.parametrize(
    "res,n_salts,transport",
    [
        (5, 1, "broadcast"),
        (5, 4, "broadcast"),
        (7, 4, "auto"),
        (5, 4, "rows"),
        (7, 1, "rows"),
        (5, None, "auto"),  # n_salts auto-resolution (1 under AQE skew-join)
    ],
)
def test_partitioned_join_matches_oracle(spark, setup, res, n_salts, transport):
    images_fp, aoi_pdf, oracle = setup
    aois = datagen.aoi_df(spark, 25)
    got = spatial_join.partitioned_spatial_join(
        images_fp, aois, res=res, n_salts=n_salts, geom_transport=transport
    ).collect()
    assert {(r.image_id, r.aoi_id) for r in got} == oracle
    assert len(got) == len(oracle)


def test_partitioned_join_thin_diagonal_strip(spark):
    """Regression (ADVICE r2, high): a thin diagonal strip AOI leaves most of
    its bbox polygon-free. PBSM reference-point dedup emits a pair only from
    the single cell owning the bbox-intersection's bottom-left corner, and
    for such an AOI that corner can land in a polygon-free covering cell —
    which the r2 classification dropped entirely, silently losing true
    pairs. The fix keeps 'outside' cells as boundary rows; this fixture
    (strip half-width ≪ a res-5 cell, probe bboxes offset off-axis) misses
    pairs in ~10% of trials on the pre-fix code."""
    import numpy as np
    import pandas as pd

    from geospatial_studio_pipelines_spark.geo import wkb as W

    rng = np.random.default_rng(17)
    x0, y0, x1, y1 = 0.0, 40.0, 8.0, 48.0
    dx, dy = x1 - x0, y1 - y0
    nrm = float(np.hypot(dx, dy))
    nx, ny = -dy / nrm, dx / nrm
    half_w = 0.02  # much thinner than a res-5 cell (~0.15 deg)
    ring = np.array(
        [
            [x0 + nx * half_w, y0 + ny * half_w],
            [x1 + nx * half_w, y1 + ny * half_w],
            [x1 - nx * half_w, y1 - ny * half_w],
            [x0 - nx * half_w, y0 - ny * half_w],
            [x0 + nx * half_w, y0 + ny * half_w],
        ]
    )
    aoi_pdf = pd.DataFrame(
        [
            {
                "aoi_id": "aoi-strip",
                "geom_wkb": W.dumps_polygon([ring]),
                "bbox_minx": ring[:, 0].min(), "bbox_miny": ring[:, 1].min(),
                "bbox_maxx": ring[:, 0].max(), "bbox_maxy": ring[:, 1].max(),
            }
        ]
    )
    rows = []
    for i in range(300):
        t = rng.uniform(0.05, 0.95)
        cx, cy = x0 + t * dx, y0 + t * dy
        ox, oy = rng.uniform(-0.4, 0.4), rng.uniform(-0.4, 0.4)
        w, h = rng.uniform(0.05, 0.6), rng.uniform(0.05, 0.6)
        rows.append(
            {
                "image_id": f"img-{i:05d}",
                "minx": cx + ox - w / 2, "miny": cy + oy - h / 2,
                "maxx": cx + ox + w / 2, "maxy": cy + oy + h / 2,
            }
        )
    images = pd.DataFrame(rows)
    oracle = spatial_join.spatial_join_oracle(images, aoi_pdf)
    assert len(oracle) >= 30  # fixture must exercise the strip heavily
    images_df = spark.createDataFrame(images)
    aois_df = spark.createDataFrame(aoi_pdf)
    for transport in ("broadcast", "rows"):
        got = spatial_join.partitioned_spatial_join(
            images_df, aois_df, res=5, n_salts=4, geom_transport=transport
        ).collect()
        assert {(r.image_id, r.aoi_id) for r in got} == oracle, transport
        assert len(got) == len(oracle), transport


def test_cover_cell_expr_matches_numpy_twin(spark):
    """PBSM invariant: the codegen covering-cell explode (image side) and
    the numpy cover (AOI side, cover_cell_qr) must produce IDENTICAL cell
    sets for the same bbox — any divergence silently drops join pairs."""
    import numpy as np

    from geospatial_studio_pipelines_spark.index import hexgrid
    from geospatial_studio_pipelines_spark.operators import tiling

    rng = np.random.default_rng(11)
    rows = []
    for i in range(200):
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(-60, 60))
        w = float(rng.uniform(1e-4, 8.0))  # from sub-cell to multi-cell
        h = float(rng.uniform(1e-4, 8.0))
        rows.append((i, cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2))
    df = spark.createDataFrame(rows, "id long, minx double, miny double, maxx double, maxy double")
    for res in (3, 5, 7):
        got = {}
        for r in tiling.explode_cover_cells_expr(df, res).collect():
            got.setdefault(r.id, set()).add(r.cell_id)
        for i, minx, miny, maxx, maxy in rows:
            q, rr = tiling.cover_cell_qr(minx, miny, maxx, maxy, res)
            exp = set(hexgrid._pack(np.full(q.size, res, dtype=np.int64), q, rr).tolist())
            assert got.get(i, set()) == exp, (res, i)


def test_partitioned_join_hot_cell_skew(spark):
    """All probes landing in ONE hex cell (pathological skew): the salted
    join must still produce the exact brute-force pair set, and pairs whose
    bbox intersection straddles several covering cells must dedup to one."""
    import numpy as np
    import pandas as pd

    from geospatial_studio_pipelines_spark.geo import wkb as W

    rng = np.random.default_rng(5)
    n = 1500
    # probes clustered in a 0.2 deg patch (res-5 cells are ~0.15 deg)
    cx = 10.0 + rng.uniform(-0.1, 0.1, n)
    cy = 45.0 + rng.uniform(-0.1, 0.1, n)
    w = rng.uniform(0.001, 0.15, n)  # some spans exceed one cell
    h = rng.uniform(0.001, 0.15, n)
    images = pd.DataFrame(
        {
            "image_id": [f"img-{i:08d}" for i in range(n)],
            "minx": cx - w / 2, "miny": cy - h / 2,
            "maxx": cx + w / 2, "maxy": cy + h / 2,
        }
    )
    aoi_rows = []
    for j in range(12):
        acx = 10.0 + rng.uniform(-0.15, 0.15)
        acy = 45.0 + rng.uniform(-0.15, 0.15)
        r = rng.uniform(0.02, 0.2)
        ang = np.linspace(0, 2 * np.pi, 9)
        ring = np.column_stack([acx + r * np.cos(ang), acy + r * np.sin(ang)])
        ring[-1] = ring[0]
        aoi_rows.append(
            {
                "aoi_id": f"aoi-{j:04d}",
                "geom_wkb": W.dumps_polygon([ring]),
                "bbox_minx": ring[:, 0].min(), "bbox_miny": ring[:, 1].min(),
                "bbox_maxx": ring[:, 0].max(), "bbox_maxy": ring[:, 1].max(),
            }
        )
    aoi_pdf = pd.DataFrame(aoi_rows)
    oracle = spatial_join.spatial_join_oracle(images, aoi_pdf)
    assert len(oracle) > 2000  # dense overlap — the skew is real
    images_df = spark.createDataFrame(images)
    aois_df = spark.createDataFrame(aoi_pdf)
    for transport in ("broadcast", "rows"):
        got = spatial_join.partitioned_spatial_join(
            images_df, aois_df, res=5, n_salts=8, geom_transport=transport
        ).collect()
        assert {(r.image_id, r.aoi_id) for r in got} == oracle, transport
        assert len(got) == len(oracle), transport  # exact dedup, no dupes
