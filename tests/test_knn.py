"""kNN + radius joins vs brute-force numpy oracles."""

import numpy as np
import pytest

from rsgislib_spark.data import derived, pages
from rsgislib_spark.functions.geoparse import geoparse
from rsgislib_spark.operators import knn

N = 800


@pytest.fixture(scope="module")
def pts(spark):
    df = (
        geoparse(pages.pages_df(spark, N))
        .selectExpr("monotonically_increasing_id() AS pt_id", "lon", "lat")
    )
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def brute(pts, spark):
    rows = pts.collect()
    sites = derived.sites_df(spark).collect()
    s_id = np.array([s.site_id for s in sites])
    sx = np.array([s.site_lon for s in sites])
    sy = np.array([s.site_lat for s in sites])
    order = np.argsort(s_id)
    s_id, sx, sy = s_id[order], sx[order], sy[order]
    want = {}
    for r in rows:
        d2 = (r.lon - sx) ** 2 + (r.lat - sy) ** 2
        i = int(np.argmin(d2))
        want[r.pt_id] = (int(s_id[i]), float(d2[i]))
    return want


def test_knn_broadcast_matches_brute(spark, pts, brute):
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
           for r in knn.knn_broadcast(pts, derived.sites_df(spark)).collect()}
    assert got == brute


def test_knn_k3_ordering(spark, pts):
    out = knn.knn_broadcast(pts.limit(50), derived.sites_df(spark), k=3).collect()
    by_pt = {}
    for r in out:
        by_pt.setdefault(r.pt_id, []).append((r.nn_rank, r.nn_dist_sq))
    for pt, rows in by_pt.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]
        assert rows[0][1] <= rows[1][1] <= rows[2][1]


def test_knn_kring_matches_broadcast(spark, pts, brute):
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq)
           for r in knn.knn_kring(pts, derived.sites_df(spark), res=4).collect()}
    assert got == brute


def test_knn_kring_slim_output_matches(spark, pts, brute):
    """with_payload=False returns the same (id, nn_site_id,
    nn_dist_sq) triples as the payload-joined form — the final inner
    join is a row-preserving identity for id-only consumers."""
    out = knn.knn_kring(pts, derived.sites_df(spark), res=4,
                        pt_id_col="pt_id", with_payload=False)
    assert set(out.columns) == {"pt_id", "nn_site_id", "nn_dist_sq"}
    got = {r.pt_id: (r.nn_site_id, r.nn_dist_sq) for r in out.collect()}
    assert got == brute


def test_knn_max_dist_tolerance(spark, pts, brute):
    out = knn.knn_broadcast(pts, derived.sites_df(spark), max_dist=5.0).collect()
    got = {r.pt_id for r in out}
    want = {pt for pt, (_, d2) in brute.items() if d2 <= 25.0}
    assert got == want


def test_radius_count_matches_brute(spark, pts):
    rows = pts.limit(200).collect()
    sub = pts.limit(200)
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    ids = [r.pt_id for r in rows]
    got = {r.pt_id: r.n_in_radius for r in knn.radius_count(sub, 3.0).collect()}
    for i, pid in enumerate(ids):
        d2 = (px - px[i]) ** 2 + (py - py[i]) ** 2
        want = int(np.sum(d2 <= 9.0)) - 1  # exclude self
        assert got[pid] == want, pid


def test_knn_haversine_matches_brute(spark, pts):
    """metric='haversine' ranks by great-circle meters (numpy brute
    force as the oracle); lowest-id tie-break preserved."""
    from rsgislib_spark.geometry.predicates import haversine_m

    sites = derived.sites_df(spark).collect()
    s_id = np.array([r.site_id for r in sites])
    s_lon = np.array([r.site_lon for r in sites])
    s_lat = np.array([r.site_lat for r in sites])
    order = np.argsort(s_id)
    s_id, s_lon, s_lat = s_id[order], s_lon[order], s_lat[order]
    rows = pts.limit(300).collect()
    out = {r.pt_id: (r.nn_site_id, r.nn_dist_m) for r in
           knn.knn_broadcast(pts.limit(300), derived.sites_df(spark),
                             metric="haversine").collect()}
    for r in rows:
        d = haversine_m(np.full_like(s_lon, r.lon),
                        np.full_like(s_lat, r.lat), s_lon, s_lat)
        j = int(np.argmin(d))
        assert out[r.pt_id][0] == s_id[j]
        assert out[r.pt_id][1] == d[j]


def test_knn_broadcast_spreads_duplicated_points(spark):
    """A single-partition layer whose points all share ONE coordinate
    still reaches more than one task: the point side is spread
    round-robin, not hashed on (lon, lat)."""
    from pyspark.sql import functions as F

    dup = spark.range(0, 2000, 1, 1).select(
        F.col("id").alias("pt_id"), F.lit(12.5).alias("lon"),
        F.lit(-7.25).alias("lat"))
    out = knn.knn_broadcast(dup, derived.sites_df(spark))
    parts = out.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts > 1
    assert out.select("nn_site_id").distinct().count() == 1


def test_radius_count_haversine_matches_brute(spark, pts):
    """Latitude-band self-join + haversine filter == brute force,
    including any near-pole points (band join is pole-safe)."""
    from rsgislib_spark.geometry.predicates import haversine_m

    rows = pts.limit(200).collect()
    sub = pts.limit(200)
    px = np.array([r.lon for r in rows])
    py = np.array([r.lat for r in rows])
    ids = [r.pt_id for r in rows]
    R = 1_500_000.0
    got = {r.pt_id: r.n_in_radius for r in
           knn.radius_count_haversine(sub, R).collect()}
    for i, pid in enumerate(ids):
        d = haversine_m(px, py, px[i], py[i])
        want = int(np.sum(d <= R)) - 1  # exclude self
        assert got[pid] == want, pid
