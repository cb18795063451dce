"""Spatial join end-to-end vs a driver-side python oracle, on the
pages fixture (FIXTURES.md golden_spatial_join style)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.data import fixtures, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.geometry import predicates
from rsgislib_spark.operators import spatial_join as sj

N = 3000


@pytest.fixture(scope="module")
def pts(spark):
    df = geoparse(pages.pages_df(spark, N)).select("url", "lon", "lat")
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_pairs(pts):
    rows = pts.collect()
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    urls = [r.url for r in rows]
    pairs = set()
    for p in fixtures.POLYGONS:
        rings = fixtures.poly_rings(p)
        x = np.where(px < 0, px + 360.0, px) if fixtures.poly_is_unwrapped(p) else px
        inside = predicates.point_in_rings(x, py, rings)
        for i in np.nonzero(inside)[0]:
            pairs.add((urls[i], p["poly_id"]))
    return pairs


def test_inner_join_matches_oracle(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner").select("url", "poly_id").collect()}
    assert got == oracle_pairs
    assert len(got) > 50  # fixture sanity: the join is non-trivial


def test_inner_join_at_finer_res_same_result(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=8)
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner").select("url", "poly_id").collect()}
    assert got == oracle_pairs


def test_left_join_keeps_unmatched(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(pts, idx, how="left")
    matched_urls = {u for (u, _) in oracle_pairs}
    rows = out.collect()
    # every point appears; unmatched have null poly_id
    assert {r.url for r in rows} == {r.url for r in pts.collect()}
    for r in rows:
        if r.url not in matched_urls:
            assert r.poly_id is None


def test_right_join_keeps_empty_polygons(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    rows = sj.spatial_join(pts, idx, how="right").collect()
    matched_polys = {p for (_, p) in oracle_pairs}
    got_polys = {r.poly_id for r in rows}
    assert got_polys == {p["poly_id"] for p in fixtures.POLYGONS}
    for r in rows:
        if r.poly_id not in matched_polys:
            assert r.url is None
    n_matched_rows = sum(1 for r in rows if r.url is not None)
    assert n_matched_rows == len(oracle_pairs)


def test_left_semi_dedupes_fanout(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(pts, idx, how="left_semi")
    assert out.count() == len({u for (u, _) in oracle_pairs})


def test_annotate_selection_flag(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.annotate_selection(pts, idx)
    matched_urls = {u for (u, _) in oracle_pairs}
    for r in out.collect():
        assert r.sel == (r.url in matched_urls)


def test_count_points_per_polygon(pts, oracle_pairs):
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    got = {r.poly_id: r.n_points
           for r in sj.count_points_per_polygon(pts, idx).collect()}
    want = {}
    for (_, pid) in oracle_pairs:
        want[pid] = want.get(pid, 0) + 1
    for p in fixtures.POLYGONS:
        assert got[p["poly_id"]] == want.get(p["poly_id"], None)


def test_dateline_polygon_gets_hits(pts, oracle_pairs):
    """Antimeridian polygon must match points on BOTH sides of 180."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    hits = (
        sj.spatial_join(pts, idx, how="inner")
        .where(F.col("poly_id") == 8).select("lon").collect()
    )
    lons = [r.lon for r in hits]
    # oracle agreement is covered above; here assert both sides occur
    if any(l > 0 for l in lons) or any(l < 0 for l in lons):
        assert {(u, p) for (u, p) in oracle_pairs if p == 8} == {
            (r.url, 8) for r in sj.spatial_join(pts, idx, how="inner")
            .where(F.col("poly_id") == 8).select("url").collect()
        }


def test_adaptive_multires_same_result(pts, oracle_pairs):
    """res=None: per-polygon resolution; results identical, index
    selective — a tiny polygon gets fine cells instead of flooding
    the refine with every page in a 5-degree cell."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    assert len(idx.res_set) >= 2  # fixture mixes tiny and huge polys
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join(pts, idx, how="inner")
           .select("url", "poly_id").collect()}
    assert got == oracle_pairs


def test_adaptive_res_selectivity(spark, pts):
    """A city-block-sized polygon must index at fine res and produce
    far fewer refine candidates than a coarse fixed res would."""
    tiny = [dict(poly_id=99, rings=[np.array(
        [[10.0, 50.0], [10.02, 50.0], [10.02, 50.02], [10.0, 50.02],
         [10.0, 50.0]])])]
    idx = sj.PolygonIndex(tiny, res=None)
    assert idx.polys[0]["res"] >= 11
    coarse = sj.PolygonIndex(tiny, res=5)
    fine_cand = pts.withColumn(
        "cell", sj.quadcell.cell_col("lon", "lat", idx.polys[0]["res"])
    ).join(idx.cover_df(spark), "cell").count()
    coarse_cand = pts.withColumn(
        "cell", sj.quadcell.cell_col("lon", "lat", 5)
    ).join(coarse.cover_df(spark), "cell").count()
    assert fine_cand <= coarse_cand
    assert fine_cand < 20  # essentially only true hits survive


def test_plan_is_broadcast_no_shuffle(pts):
    """The 100 TB posture: small polygon side must broadcast — the
    candidate join must not shuffle the points."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    plan = sj.spatial_join(pts, idx, how="inner")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_left_join_pages_schema_nulls_and_duplicates(spark):
    """The join-back must key on the temp unique id, never the payload
    columns: duplicate point rows must NOT fan out against each other,
    NULL payload columns must NOT turn matched rows into unmatched
    (the r1 all-columns equi-join failed both)."""
    p = fixtures.POLYGONS[0]
    rings = fixtures.poly_rings(p)
    inside_lon = float(np.mean([pt[0] for pt in rings[0][:-1]]))
    inside_lat = float(np.mean([pt[1] for pt in rings[0][:-1]]))
    rows = [
        # duplicate matched rows with NULL html payload
        ("http://a/x/1", None, None, inside_lon, inside_lat),
        ("http://a/x/1", None, None, inside_lon, inside_lat),
        # unmatched point, NULL text
        ("http://b/y/2", bytearray(b"<html>"), None, 179.0, -89.0),
    ]
    df = spark.createDataFrame(
        rows, "url STRING, html BINARY, text STRING, lon DOUBLE, lat DOUBLE")
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    out = sj.spatial_join(df, idx, how="left").collect()
    # 2 duplicate matched rows stay 2 rows (x matches possible per row
    # only via DISTINCT polygons), 1 unmatched row keeps null poly_id
    matched = [r for r in out if r.url == "http://a/x/1"]
    per_row_polys = sorted(r.poly_id for r in matched)
    # each duplicate row matches the same polygon set independently —
    # count must be 2 * |polys containing the point|, not 2 x 2
    n_polys = len(set(per_row_polys))
    assert len(matched) == 2 * n_polys
    unmatched = [r for r in out if r.url == "http://b/y/2"]
    assert len(unmatched) == 1 and unmatched[0].poly_id is None

    flagged = sj.annotate_selection(df, idx).collect()
    assert sorted(r.sel for r in flagged) == [False, True, True]


# ------------------------------------------------- DataFrame-native path

@pytest.fixture(scope="module")
def polys_wkb_df(spark):
    from rsgislib_spark.geometry import wkb
    return spark.createDataFrame(
        [(p["poly_id"], bytearray(wkb.polygon_to_wkb(fixtures.poly_rings(p))))
         for p in fixtures.POLYGONS], "poly_id BIGINT, geometry BINARY")


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "right"])
def test_spatial_join_df_matches_index_path(pts, polys_wkb_df, how):
    """spatial_join_df (distributed cover + mapInPandas refine, no
    driver collect) == spatial_join (driver PolygonIndex) for every
    join mode, including the antimeridian polygon."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    a = sj.spatial_join(pts, idx, how=how, pt_id_col="url")
    b = sj.spatial_join_df(pts, polys_wkb_df, how=how, pt_id_col="url")
    cols = sorted(set(a.columns) & set(b.columns))
    key = lambda r: tuple(repr(v) for v in r)  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, a.select(*cols).collect()), key=key) == \
        sorted(map(tuple, b.select(*cols).collect()), key=key)


def test_spatial_join_df_slim_pairs_match(pts, polys_wkb_df):
    """with_payload=False returns the same (id, poly_id) pairs as the
    payload-joined inner form — the final join is a row-preserving
    identity for id-only consumers."""
    full = sj.spatial_join_df(pts, polys_wkb_df, how="inner",
                              pt_id_col="url")
    slim = sj.spatial_join_df(pts, polys_wkb_df, how="inner",
                              pt_id_col="url", with_payload=False)
    assert set(slim.columns) == {"url", "poly_id"}
    assert sorted(map(tuple, full.select("url", "poly_id").collect())) == \
        sorted(map(tuple, slim.collect()))


def test_spatial_join_df_temp_id(pts, polys_wkb_df):
    """Without a natural key the temp monotonically-increasing id is
    materialized (localCheckpoint) and dropped from the output."""
    out = sj.spatial_join_df(pts.drop("url"), polys_wkb_df, how="left")
    assert "__sj_pt_id" not in out.columns
    assert out.count() >= pts.count()  # fan-out >= 1 row per point


def test_spatial_join_df_hot_polygon_skew_split(spark):
    """Every point lies inside ONE polygon. With broadcast off and low
    AQE skew thresholds the poly_id refine join is shuffled and its
    hot partition is split by AQE's skew join; the pairs still equal
    the PolygonIndex path."""
    from rsgislib_spark.geometry import wkb

    def square(x0, y0, d):
        return [np.array([[x0, y0], [x0 + d, y0], [x0 + d, y0 + d],
                          [x0, y0 + d], [x0, y0]], dtype=np.float64)]

    layer = [dict(poly_id=i, rings=square(-150.0 + 30 * i, -60.0, 5.0))
             for i in range(8)] + [dict(poly_id=99, rings=square(10, 10, 10))]
    polys = spark.createDataFrame(
        [(p["poly_id"], bytearray(wkb.polygon_to_wkb(p["rings"])))
         for p in layer], "poly_id BIGINT, geometry BINARY")
    pts_hot = spark.range(0, 4000, 1, 8).select(
        F.col("id").alias("pt_id"),
        (F.lit(10.5) + (F.col("id") % 89) * 0.1).alias("lon"),
        (F.lit(10.5) + (F.col("id") % 83) * 0.1).alias("lat"))
    idx = sj.PolygonIndex(layer, res=None)
    want = {tuple(r) for r in sj.spatial_join(pts_hot, idx, pt_id_col="pt_id")
            .select("pt_id", "poly_id").collect()}
    assert len(want) == 4000 and {p for _, p in want} == {99}

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = sj.spatial_join_df(pts_hot, polys, pt_id_col="pt_id",
                                 with_payload=False)
        got = {tuple(r) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want
    assert "skew=true" in plan


def test_poly_cover_df_matches_index_cover(spark, polys_wkb_df):
    """Distributed cover rows == the driver PolygonIndex cover rows
    (same cells, bboxes, adaptive resolutions) at the same max_cells.
    Defaults diverge on purpose: the distributed cover is a shuffled
    table (max_cells=8 keeps it small), the broadcast index wants the
    finer, more selective key (256)."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS, res=None)
    got = {(r.poly_id, r.cell, r.xmin, r.ymin, r.xmax, r.ymax)
           for r in sj.poly_cover_df(polys_wkb_df, max_cells=256).collect()}
    want = set(idx.cover_rows())
    assert got == want


def test_poly_cover_df_default_is_small(spark, polys_wkb_df):
    """The distributed-path default (max_cells=8) emits a cover an
    order of magnitude smaller than the broadcast-index default while
    spatial_join_df stays exact (refine removes the bbox overhang)."""
    small = sj.poly_cover_df(polys_wkb_df).count()
    big = sj.poly_cover_df(polys_wkb_df, max_cells=256).count()
    # continent-sized fixtures clamp at the coarsest res, so "<= 8
    # cells" is an estimate target, not a guarantee — the invariant
    # is the order-of-magnitude shrink of the shuffled cover
    assert small <= big / 3


def test_spatial_join_df_plan_no_driver_collect(pts, polys_wkb_df):
    """Structural: the large-layer plan refines in one MapInPandas pass
    over the poly_id join (no per-group cogroup) and the polygon side
    is a real scan feeding mapInPandas — no LocalTableScan of
    collected rows."""
    out = sj.spatial_join_df(pts, polys_wkb_df, pt_id_col="url")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_spatial_join_df_leaves_no_cached_data(spark, pts, polys_wkb_df):
    """The cover is materialized by localCheckpoint, which the
    session's CacheManager does not hold: after the result is consumed
    no cache entry is left behind for later queries to hit."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    # a polygon plan no other test builds: caching a plan that is
    # already cached is a no-op and would hide a new entry
    polys = polys_wkb_df.where(F.col("poly_id") != -4242)
    before = cm.numCachedEntries()
    sj.spatial_join_df(pts, polys, pt_id_col="url").collect()
    assert cm.numCachedEntries() == before


def test_codegen_refine_equals_arrow_refine(pts, oracle_pairs):
    """The pure-codegen CASE refine and the Arrow pandas refine
    evaluate the identical IEEE crossing formula — same pairs out."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    cg = {(r.url, r.poly_id)
          for r in sj.spatial_join(pts, idx, refine="codegen")
          .select("url", "poly_id").collect()}
    ar = {(r.url, r.poly_id)
          for r in sj.spatial_join(pts, idx, refine="arrow")
          .select("url", "poly_id").collect()}
    assert cg == ar == oracle_pairs


def test_codegen_refine_plan_has_no_python(pts):
    """auto mode picks codegen for a dimension-sized layer: no
    ArrowEvalPython / BatchEvalPython anywhere in the plan — the
    whole filter-refine pipeline stays JVM-side."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    plan = sj.spatial_join(pts, idx)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # and the arrow path still exists when forced
    plan_arrow = sj.spatial_join(pts, idx, refine="arrow") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_arrow


def test_codegen_refine_random_concave_polygons(spark):
    """Randomized star-shaped (concave) polygons: the codegen CASE
    refine must agree with the numpy ray-cast on every (point, poly)
    pair — one seeded draw, 24 polys x 1500 points."""
    rng = np.random.default_rng(7)
    polys = []
    for pid in range(24):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        k = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.5, 4.0, k)  # varying radii → concave
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
        ring = np.vstack([ring, ring[:1]])
        polys.append(dict(poly_id=pid, rings=[ring]))
    idx = sj.PolygonIndex(polys, res=None)

    px = rng.uniform(-175, 175, 1500)
    py = rng.uniform(-85, 85, 1500)
    pts_df = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(len(px))],
        "pt_id BIGINT, lon DOUBLE, lat DOUBLE")

    got = {(r.pt_id, r.poly_id)
           for r in sj.spatial_join(pts_df, idx, refine="codegen")
           .select("pt_id", "poly_id").collect()}
    want = set()
    for p in polys:
        inside = predicates.point_in_rings(px, py, p["rings"])
        for i in np.nonzero(inside)[0]:
            want.add((int(i), p["poly_id"]))
    assert got == want and len(want) >= 5  # sparse layer: ~10 expected hits


def test_auto_refine_dispatch_by_edge_count(pts):
    """auto picks the codegen CASE under codegen_max_edges and the
    Arrow UDF above it (a giant CASE would leave JIT'd codegen)."""
    idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
    n_edges = idx.total_edges()
    plan_small = sj.spatial_join(pts, idx, codegen_max_edges=n_edges) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan_small
    plan_big = sj.spatial_join(pts, idx, codegen_max_edges=n_edges - 1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_big


def test_spatial_join_df_int_poly_id(spark, pts, polys_wkb_df, oracle_pairs):
    """INT (not BIGINT) poly_id column: the refine join still matches
    it to the BIGINT cover ids."""
    polys_int = polys_wkb_df.withColumn(
        "poly_id", F.col("poly_id").cast("int"))
    got = {(r.url, r.poly_id)
           for r in sj.spatial_join_df(pts, polys_int, pt_id_col="url")
           .select("url", "poly_id").collect()}
    assert got == oracle_pairs
