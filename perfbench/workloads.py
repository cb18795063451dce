"""The benchmark workloads: seeded inputs, timed operations and their
DuckDB references.

Each workload writes its inputs as parquet under a data directory,
builds the reference result of every operation with DuckDB over that
same parquet (reusing the registry's ``oracle_sql()`` text wherever a
registry query matches the operation), and hands the runner a list of
``Op``s. An op's ``build`` makes the public library calls (the
construction layer); the runner then collects the result (the action)
and compares its row count and order-insensitive digest with the
reference.

The seed changes coordinates, polygon and site placement and document
text. It never changes sizes, the hot-city share of pages or the
near-duplicate share of documents.
"""

from __future__ import annotations

import dataclasses
import os
from collections.abc import Callable

import numpy as np
import pandas as pd

# Every derived coordinate multiplies its integer key by 2654435761;
# under Spark's ANSI arithmetic (and in DuckDB) the product must stay
# inside int64, so seeded keys stay below this bound.
_MAX_KEY = 3_400_000_000
# per-polygon cell checksums are summed modulo this prime
_CELL_MOD = 1_000_003
# document-frequency cap of ngram_jaccard_pairs' default mode
_NGRAM_MAX_DF = 1000

SIZES = {
    "full": {
        "pages": 1_000_000,
        "points": 40_000,
        "diamonds": 20_000,
        "zones": 24,
        "zone_vertices": 32,
        "sites": 64,
        "docs": 1_500,
    },
    "tiny": {
        "pages": 20_000,
        "points": 5_000,
        "diamonds": 2_000,
        "zones": 18,
        "zone_vertices": 32,
        "sites": 16,
        "docs": 300,
    },
}


@dataclasses.dataclass
class Op:
    """One timed operation of a job.

    ``build(tracer)`` makes the public calls and returns the lazy
    result frame; ``layer`` names the per-layer prefix of its action
    span; ``join`` names the spatial-join layer whose cell-join counts
    the op's executed plan carries; ``probe(tracer)`` (traced runs
    only) runs extra actions outside the timed job and returns
    per-layer figures."""

    name: str
    layer: str
    build: Callable
    probe: Callable | None = None
    join: str | None = None


def digest(pdf: pd.DataFrame) -> tuple:
    """(row count, order-insensitive digest) of a result frame.

    Columns are taken in name order (engines may order them
    differently); each row hashes to 64 bits and the multiset of row
    hashes is folded by a wrapping sum and an xor, so row order never
    matters while any changed, lost or extra row does."""
    from pandas.api import types as pt

    cols = sorted(pdf.columns)
    norm = {}
    for c in cols:
        s = pdf[c]
        if pt.is_bool_dtype(s) or pt.is_integer_dtype(s):
            s = s.astype("int64")
        elif pt.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(str)
        norm[c] = s.reset_index(drop=True)
    h = pd.util.hash_pandas_object(pd.DataFrame(norm, columns=cols),
                                   index=False).to_numpy(np.uint64)
    fold = (int(h.sum(dtype=np.uint64)), int(np.bitwise_xor.reduce(h)))
    return len(pdf), f"{','.join(cols)}:{fold[0]:016x}{fold[1]:016x}"


def duckdb_connect(work_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
    return con


def build_reference(workload: str, scale: str, work_dir: str,
                    inputs: dict) -> tuple:
    """(op name -> (rows, digest), workload properties) of a
    workload's inputs, from DuckDB; runs in a child process."""
    con = duckdb_connect(work_dir)
    try:
        return WORKLOADS[workload](SIZES[scale]).reference(con, inputs)
    finally:
        con.close()


def _ref(con, sql: str) -> tuple:
    return digest(con.sql(sql).df())


def _replace_once(text: str, old: str, new: str) -> str:
    if text.count(old) != 1:
        raise RuntimeError(f"reference template changed: {old[:60]!r}")
    return text.replace(old, new)


def _entry():
    import __spark_entry__

    return __spark_entry__


# ---------------------------------------------------------------- pages_join

class PagesJoin:
    """pages -> geoparse -> quadcell r9 + s2cell r10 -> broadcast-cover
    spatial join against the 8-polygon fixture -> per-polygon counts."""

    name = "pages_join"
    spark_inputs = True

    def __init__(self, sizes: dict):
        self.n = sizes["pages"]

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        from rsgislib_spark.data import pages

        # pages_df is a closed-form map over spark.range(n); the seed
        # picks the id window. A window start that is a multiple of 10
        # keeps the 40% hot-city share exact (rows with id % 10 < 4).
        start = (seed % ((_MAX_KEY - self.n) // 1000)) * 1000

        class _Window:
            def range(self, n, *args):
                return spark.range(start, start + n)

        path = os.path.join(data_dir, "pages.parquet")
        (pages.pages_df(_Window(), self.n).drop("lon_true", "lat_true")
         .write.mode("overwrite").parquet(path))
        return {"pages": path, "start": start}

    def _pts_sql(self, inputs: dict) -> str:
        """DuckDB twin of geoparse: the geo: token, else the
        gazetteer centre of the place named in the url."""
        from rsgislib_spark.data.pages import (N_PLACES, PLACE_LAT_SQL,
                                               PLACE_LON_SQL)
        from rsgislib_spark.functions.geoparse import GEO_RE

        return f"""
gaz AS (SELECT 'loc' || CAST(j AS VARCHAR) AS place,
               {PLACE_LON_SQL.format(j='j')} AS place_lon,
               {PLACE_LAT_SQL.format(j='j')} AS place_lat
        FROM generate_series(0, {N_PLACES - 1}) g(j)),
pg AS (SELECT text, split_part(url, '/', 4) AS place
       FROM read_parquet('{inputs['pages']}/*.parquet')),
pts AS MATERIALIZED (SELECT COALESCE(TRY_CAST(NULLIF(regexp_extract(pg.text, '{GEO_RE}', 1), '')
                                 AS DOUBLE), gaz.place_lon) AS lon,
               COALESCE(TRY_CAST(NULLIF(regexp_extract(pg.text, '{GEO_RE}', 2), '')
                                 AS DOUBLE), gaz.place_lat) AS lat,
               regexp_matches(pg.text, '{GEO_RE}') AS token_hit
        FROM pg LEFT JOIN gaz ON pg.place = gaz.place)"""

    def reference(self, con, inputs: dict) -> tuple:
        from rsgislib_spark.cells import quadcell, s2cell
        from rsgislib_spark.data import fixtures

        m = _CELL_MOD
        c9 = quadcell.cell_sql("lon", "lat", 9)
        c10 = s2cell.cell_sql("lon", "lat", 10)
        parts = [
            f"SELECT CAST({p['poly_id']} AS BIGINT) AS poly_id, cell_r9, s2_cell "
            f"FROM cells WHERE {fixtures.poly_inside_sql(p, 'lon', 'lat')}"
            for p in fixtures.POLYGONS]
        sql = f"""
WITH {self._pts_sql(inputs)},
cells AS MATERIALIZED (SELECT lon, lat, {c9} AS cell_r9, {c10} AS s2_cell
                       FROM pts WHERE lon IS NOT NULL),
joined AS ({' UNION ALL '.join(parts)})
SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(((cell_r9 % {m}) + {m}) % {m}) AS BIGINT) AS c9,
       CAST(SUM(((s2_cell % {m}) + {m}) % {m}) AS BIGINT) AS c10
FROM joined GROUP BY poly_id"""
        res = con.sql(sql).df()
        props = con.sql(f"""
WITH {self._pts_sql(inputs)},
cells AS (SELECT {c9} AS cell_r9 FROM pts WHERE lon IS NOT NULL),
top AS (SELECT COUNT(*) AS k FROM cells GROUP BY cell_r9 ORDER BY k DESC LIMIT 3)
SELECT (SELECT SUM(k) FROM top) / CAST((SELECT COUNT(*) FROM pts) AS DOUBLE),
       (SELECT AVG(CAST(token_hit AS DOUBLE)) FROM pts)""").fetchone()
        return ({"pages_join": digest(res)},
                {"id_start": inputs["start"],
                 "matched_share": round(float(res["n"].sum()) / self.n, 6),
                 "hot_cell_share": round(props[0], 6),
                 "geo_token_share": round(props[1], 6)})

    def ops(self, spark, inputs: dict) -> list:
        from pyspark.sql import functions as F

        from rsgislib_spark.cells import quadcell, s2cell
        from rsgislib_spark.data import fixtures
        from rsgislib_spark.functions.geoparse import geoparse
        from rsgislib_spark.operators import spatial_join as sj

        m = F.lit(_CELL_MOD)

        def stages(tr):
            pg = spark.read.parquet(inputs["pages"])
            with tr.span("geoparse.construct"):
                pts = geoparse(pg)
            with tr.span("cells.construct"):
                cells = pts.selectExpr(
                    "*",
                    quadcell.cell_sql("lon", "lat", 9) + " AS cell_r9",
                    s2cell.cell_sql("lon", "lat", 10) + " AS s2_cell")
            idx = sj.PolygonIndex.from_fixture(fixtures.POLYGONS)
            with tr.span("spatial_join.construct"):
                joined = sj.spatial_join(cells.where("lon IS NOT NULL"), idx,
                                         how="inner")
            return pg, pts, cells, joined

        def cell_sums():
            return [F.sum(F.pmod("cell_r9", m)).alias("c9"),
                    F.sum(F.pmod("s2_cell", m)).alias("c10")]

        def build(tr):
            joined = stages(tr)[-1]
            return joined.groupBy("poly_id").agg(
                F.count("*").alias("n"), *cell_sums())

        def probe(tr):
            # actions on successive prefixes of the pipeline: geoparse
            # and cell assignment fuse into one codegen stage, so their
            # self time is the difference between the prefix timings
            pg, pts, cells, joined = stages(_NULL)
            with tr.span("scan.self"):
                pg.agg(F.sum(F.length("text")), F.sum(F.length("url"))).collect()
            with tr.span("geoparse.self"):
                located = pts.agg(F.count("lon")).collect()[0][0]
            with tr.span("cells.self"):
                cells.agg(*cell_sums()).collect()
            with tr.span("spatial_join.action"):
                joined.agg(F.count("*"), *cell_sums()).collect()
            return {"geoparse.hit_ratio": located / self.n}

        return [Op("pages_join", "pages", build, probe, join="spatial_join")]


# ---------------------------------------------------- layer_ops: spatial ops

class SpatialOps:
    """Seeded points through three driver- and Python-heavy ops:
    spatial_join_df against the registry's distributed diamond layer,
    spatial_join with an Arrow refine feeding zonal_stats, and
    knn_kring."""

    def __init__(self, sizes: dict):
        self.n = sizes["points"]
        self.n_diamonds = sizes["diamonds"]
        self.n_zones = sizes["zones"]
        self.n_vertices = sizes["zone_vertices"]
        self.n_sites = sizes["sites"]

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        rng = np.random.default_rng(seed)
        keys = np.sort(rng.choice(_MAX_KEY, size=self.n, replace=False))
        orders = os.path.join(data_dir, "orders.parquet")
        pd.DataFrame({"o_orderkey": keys.astype(np.int64)}).to_parquet(
            orders, index=False)
        # star-shaped zones with 2^-10-degree vertices: literals that
        # both SQL engines parse exactly
        zones = []
        ang = np.linspace(0.0, 2.0 * np.pi, self.n_vertices, endpoint=False)
        for k in range(self.n_zones):
            cx, cy = rng.uniform(-165.0, 165.0), rng.uniform(-60.0, 60.0)
            rad = rng.uniform(4.0, 12.0) * rng.uniform(0.6, 1.0, self.n_vertices)
            ring = np.round(np.c_[cx + rad * np.cos(ang),
                                  cy + rad * np.sin(ang)] * 1024.0) / 1024.0
            zones.append({"poly_id": 1000 + k,
                          "rings": [np.vstack([ring, ring[:1]])]})
        # sites: one per cell of a k x k lon/lat grid, seeded position
        # inside its cell (uniform cover keeps knn_kring's ring schedule,
        # and so its job count, independent of the seed)
        k = int(round(self.n_sites ** 0.5))
        gx, gy = np.meshgrid(np.arange(k), np.arange(k))
        sites = os.path.join(data_dir, "sites.parquet")
        pd.DataFrame({
            "site_id": np.arange(k * k, dtype=np.int64),
            "site_lon": -180.0 + (gx.ravel() + rng.uniform(0.1, 0.9, k * k))
            * (360.0 / k),
            "site_lat": -90.0 + (gy.ravel() + rng.uniform(0.1, 0.9, k * k))
            * (180.0 / k),
        }).to_parquet(sites, index=False)
        return {"dir": data_dir, "orders": orders, "sites": sites,
                "zones": zones}

    def reference(self, con, inputs: dict) -> tuple:
        from rsgislib_spark.data import derived
        from rsgislib_spark.geometry import predicates

        e = _entry()
        oracle = e.oracle_sql()
        con.execute(f"CREATE OR REPLACE VIEW orders AS "
                    f"SELECT * FROM read_parquet('{inputs['orders']}')")
        con.execute(f"CREATE OR REPLACE VIEW seeded_sites AS "
                    f"SELECT * FROM read_parquet('{inputs['sites']}')")
        big = con.sql(_replace_once(
            oracle["spatial_join_big"],
            f"generate_series(0, {e._BIG_N_POLYS - 1})",
            f"generate_series(0, {self.n_diamonds - 1})")).df()
        # zonal_stats template over the seeded zones instead of the
        # fixture polygons
        body = " UNION ALL ".join(
            f"SELECT pt_id, meas, CAST({z['poly_id']} AS BIGINT) AS poly_id "
            f"FROM pts WHERE {predicates.raycast_sql('lon', 'lat', z['rings'])}"
            for z in inputs["zones"])
        fixture_vals = ", ".join(f"({i})" for i in e.POLY_IDS)
        vals = ", ".join(f"({z['poly_id']})" for z in inputs["zones"])
        zonal_sql = _replace_once(
            _replace_once(oracle["zonal_stats"],
                          e._inner_join_oracle_body("pt_id, meas"), body),
            f"(VALUES {fixture_vals})", f"(VALUES {vals})")
        zonal = con.sql(zonal_sql).df()
        knn_sql = _replace_once(oracle["knn_nearest_site"],
                                derived.SITES_SQL_DUCKDB,
                                "SELECT site_id, site_lon, site_lat FROM main.seeded_sites")
        refs = {"spatial_join_df": digest(big), "zonal": digest(zonal),
                "knn_kring": _ref(con, knn_sql)}
        return refs, {
            "diamond_matched_share": round(len(big) / self.n, 6),
            "zone_matched_share": round(
                float(zonal["v_cnt"].clip(lower=0).sum()) / self.n, 6),
            "zone_edges": self.n_zones * self.n_vertices,
        }

    def ops(self, spark, inputs: dict) -> list:
        from pyspark.sql import functions as F

        from rsgislib_spark.data import derived
        from rsgislib_spark.operators import knn, zonal
        from rsgislib_spark.operators import spatial_join as sj

        e = _entry()
        zone_ids = [z["poly_id"] for z in inputs["zones"]]

        def points():
            return derived.points_df(spark, inputs["dir"])

        def build_big(tr):
            polys = e._diamond_layer(spark, self.n_diamonds)
            with tr.span("spatial_join_df.construct"):
                return sj.spatial_join_df(points(), polys, how="inner",
                                          pt_id_col="pt_id",
                                          with_payload=False).select(
                                              "pt_id", "poly_id")

        def zone_join(tr):
            idx = sj.PolygonIndex(inputs["zones"], res=None)
            with tr.span("spatial_join.construct"):
                return sj.spatial_join(points(), idx, how="inner")

        def build_zonal(tr):
            joined = zone_join(tr)
            zones = spark.createDataFrame([(i,) for i in zone_ids],
                                          "poly_id BIGINT")
            with tr.span("zonal.construct"):
                out = zonal.zonal_stats(joined, zone_col="poly_id",
                                        value_col="meas", zones=zones,
                                        out_no_data_val=-9999.0)
            # the registry's zonal_stats projection (oracle column names)
            return out.select(
                "poly_id",
                F.col("min").alias("v_min"), F.col("max").alias("v_max"),
                F.col("mean").alias("v_mean"), F.col("stddev").alias("v_stddev"),
                F.col("sum").alias("v_sum"), F.col("count").alias("v_cnt"),
                F.col("median").alias("v_median"), F.col("mode").alias("v_mode"))

        def probe_zonal(tr):
            # the join alone, for its action time (the zonal action
            # runs it inside its own plan)
            joined = zone_join(_NULL)
            with tr.span("spatial_join.action"):
                joined.count()
            return {}

        def build_knn(tr):
            sites = spark.read.parquet(inputs["sites"])
            with tr.span("knn.construct"):
                return knn.knn_kring(points(), sites, pt_id_col="pt_id",
                                     with_payload=False).select(
                                         "pt_id", "nn_site_id", "nn_dist_sq")

        return [Op("spatial_join_df", "spatial_join_df", build_big,
                   join="spatial_join_df"),
                Op("zonal", "zonal", build_zonal, probe_zonal,
                   join="spatial_join"),
                Op("knn_kring", "knn", build_knn)]


# ------------------------------------------------------ layer_ops: dedup ops

_VOCAB = ("data query table row column scan join filter sort hash merge "
          "window group order line part key value batch stream spark big "
          "small fast slow agg vector customer index page record field "
          "shard block cache node graph edge level").split()
_BOILERPLATE = "terms of use apply and all rights are reserved by the site".split()


class DedupOps:
    """Seeded documents through exact n-gram Jaccard (default max_df),
    exact pairs into near_dup_groups, and portable MinHash LSH."""

    dup_share = 0.10
    boilerplate_share = 0.80

    def __init__(self, sizes: dict):
        self.n = sizes["docs"]

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        from rsgislib_spark.operators.dedup import _EXACT_KERNEL_MAX_DOCS

        if self.n > _EXACT_KERNEL_MAX_DOCS:
            raise ValueError("the dedup ops must stay on the exact kernel")
        rng = np.random.default_rng(seed)
        vocab = np.array(_VOCAB)
        n_dup = int(round(self.n * self.dup_share))
        dup_rows = set(rng.choice(np.arange(1, self.n), n_dup,
                                  replace=False).tolist())
        docs = []
        for i in range(self.n):
            if i in dup_rows:
                # near duplicate of an earlier document: 1-3 word edits
                words = list(docs[int(rng.integers(0, i))])
                for pos in rng.choice(len(words), int(rng.integers(1, 4)),
                                      replace=False):
                    words[pos] = str(rng.choice(vocab))
            else:
                words = rng.choice(vocab, int(rng.integers(30, 90))).tolist()
                if rng.random() < self.boilerplate_share:
                    words = words + _BOILERPLATE
            docs.append(words)
        text = [" ".join(w) for w in docs]
        path = os.path.join(data_dir, "documents.parquet")
        pd.DataFrame({
            "doc_id": np.arange(self.n, dtype=np.int64),
            "text": text,
            "lang": np.array(["en", "de", "fr", "es", "zh"])[
                np.arange(self.n) % 5],
            "source": [f"src{i % 7}" for i in range(self.n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }).to_parquet(path, index=False)
        return {"documents": path}

    def reference(self, con, inputs: dict) -> tuple:
        oracle = _entry().oracle_sql()
        con.execute(f"CREATE OR REPLACE VIEW documents AS "
                    f"SELECT * FROM read_parquet('{inputs['documents']}')")
        # default-mode ngram: the exact template with shingles held by
        # more than max_df documents dropped before sizes and pairs
        capped = _replace_once(
            _replace_once(oracle["ngram_jaccard"], "sh AS (SELECT DISTINCT",
                          "sh0 AS (SELECT DISTINCT"),
            "sizes AS (",
            f"sh AS (SELECT * FROM sh0 WHERE shingle IN (SELECT shingle FROM sh0 "
            f"GROUP BY shingle HAVING COUNT(*) <= {_NGRAM_MAX_DF})),\nsizes AS (")
        con.execute("CREATE OR REPLACE TEMP TABLE exact_pairs AS "
                    + oracle["ngram_jaccard"])
        # the registry's closure over the pairs computed once (its own
        # text re-evaluates the pair CTE on every recursion step)
        closure = oracle["neardup_groups"]
        if closure.count("edges AS (") != 1:
            raise RuntimeError("reference template changed: neardup_groups")
        groups = con.sql("WITH RECURSIVE pairs AS (SELECT a, b FROM exact_pairs),\n"
                         + closure[closure.index("edges AS ("):]).df()
        refs = {"ngram": _ref(con, capped), "groups": digest(groups),
                "minhash": _ref(con, oracle["minhash_lsh"])}
        n_pairs = con.sql("SELECT COUNT(*) FROM exact_pairs").fetchone()[0]
        return refs, {"near_dup_pairs": n_pairs,
                      "near_dup_groups": int(groups["group_id"].nunique())}

    def ops(self, spark, inputs: dict) -> list:
        from rsgislib_spark.operators import dedup

        def docs():
            return spark.read.parquet(inputs["documents"])

        def build_ngram(tr):
            with tr.span("dedup.ngram.construct"):
                return dedup.ngram_jaccard_pairs(docs(), threshold=0.5)

        def build_groups(tr):
            with tr.span("dedup.groups.construct"):
                pairs = dedup.ngram_jaccard_pairs(docs(), threshold=0.5,
                                                  max_df=None)
                return dedup.near_dup_groups(pairs)

        def build_minhash(tr):
            with tr.span("dedup.minhash.construct"):
                return dedup.minhash_lsh_pairs(docs(), threshold=0.5,
                                               hash_mode="portable")

        return [Op("ngram", "dedup.ngram", build_ngram),
                Op("groups", "dedup.groups", build_groups),
                Op("minhash", "dedup.minhash", build_minhash)]


class _NullTracer:
    """Tracer stand-in for untraced runs: spans cost one call."""

    class _Span:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    _span = _Span()

    def span(self, name: str, group: bool = True):
        return self._span


_NULL = _NullTracer()


class LayerOps:
    """The driver- and Python-bound workload: the three spatial ops on
    seeded points, then the three dedup ops on seeded documents, in one
    job."""

    name = "layer_ops"
    spark_inputs = False

    def __init__(self, sizes: dict):
        self.parts = [SpatialOps(sizes), DedupOps(sizes)]
        self.n = sum(p.n for p in self.parts)

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        inputs = {}
        for part in self.parts:
            inputs.update(part.generate(spark, seed, data_dir))
        return inputs

    def reference(self, con, inputs: dict) -> tuple:
        refs, props = {}, {}
        for part in self.parts:
            r, p = part.reference(con, inputs)
            refs.update(r)
            props.update(p)
        return refs, props

    def ops(self, spark, inputs: dict) -> list:
        return [op for part in self.parts for op in part.ops(spark, inputs)]


WORKLOADS = {w.name: w for w in (PagesJoin, LayerOps)}


if __name__ == "__main__":
    # python3 workloads.py ARGS.pickle RESULT.pickle: the runner's child
    # process that builds a workload's reference (build_reference's
    # arguments in, its result out)
    import pickle
    import sys

    with open(sys.argv[1], "rb") as fh:
        ref_args = pickle.load(fh)
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(build_reference(*ref_args), fh)
