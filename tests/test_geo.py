"""Geospatial operators vs independent replays (operators/geo.py).

Geohash is checked against the textbook algorithm (successive
bisection) implemented here from scratch, including the classic
(57.64911, 10.40744) → 'u4pruydq' example; the proximity join is
checked against brute-force O(n²) haversine over a deterministic
synthetic node cloud — every pair the bucketed join emits must match
the brute-force set exactly (no lost pairs at cell borders, no
duplicates from the 9-cell explode).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_street_map_data_wrangling_spark.operators.geo import (
    proximity_pairs,
    with_geohash,
)

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_ref(lat: float, lon: float, precision: int = 8) -> str:
    """Textbook bisection geohash, independent of the engine's
    bit-interleave formulation."""
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, even = 0, [], True
    acc = 0
    while len(out) < precision:
        rng, v = (lon_rng, lon) if even else (lat_rng, lat)
        mid = (rng[0] + rng[1]) / 2
        acc <<= 1
        if v >= mid:
            acc |= 1
            rng[0] = mid
        else:
            rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_B32[acc])
            bits, acc = 0, 0
    return "".join(out)


def _nodes(spark):
    import random

    rnd = random.Random(42)
    rows = [
        (i, 47.0 + rnd.random() * 0.01, 8.0 + rnd.random() * 0.01)
        for i in range(120)
    ]
    # pin two nodes exactly on a cell border to exercise the
    # neighbor-cell path
    rows.append((900, 47.00140, 8.00139))
    rows.append((901, 47.00141, 8.00141))
    return rows, spark.createDataFrame(rows, "id long, lat double, lon double")


def test_geohash_matches_textbook_bisection(spark):
    rows, df = _nodes(spark)
    rows = rows + [(999, 57.64911, 10.40744)]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {r["id"]: r["geohash"] for r in with_geohash(df).collect()}
    assert got[999] == "u4pruydq"  # the classic example
    for i, lat, lon in rows:
        assert got[i] == _geohash_ref(lat, lon), (i, lat, lon)


def test_proximity_pairs_match_brute_force(spark):
    rows, df = _nodes(spark)

    def hav(a, b):
        (_, la1, lo1), (_, la2, lo2) = a, b
        d = (
            math.sin(math.radians(la2 - la1) / 2) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(math.radians(lo2 - lo1) / 2) ** 2
        )
        m = 2 * 6371000.0 * math.asin(math.sqrt(d))
        return math.floor(m * 10 + 0.5) / 10  # Spark round(): HALF_UP

    expected = {
        (a[0], b[0])
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if hav(a, b) <= 150.0
    }
    expected = {(min(p), max(p)) for p in expected}
    got = {
        (r["id_a"], r["id_b"])
        for r in proximity_pairs(df, radius_m=150.0).collect()
    }
    assert got == expected
    assert (900, 901) in got  # border pair found via neighbor cells


def test_proximity_join_is_equi_not_nlj(spark):
    _, df = _nodes(spark)
    plan = (
        proximity_pairs(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geohash_layout_buys_spatial_skipping(spark, tmp_path):
    """Geohash IS a Z-order curve over (lon, lat), so clustering a
    node table by geohash must buy file-level locality for a spatial
    box predicate — the test_layout.py proof transplanted to
    coordinates: a lat-sorted layout reads every file for a small
    lon-constrained box; the geohash-clustered layout touches a
    strict subset."""
    from pyspark.sql import functions as F

    rows = [
        (y * 64 + x, 47.0 + y * 0.001, 8.0 + x * 0.001)
        for y in range(64)
        for x in range(64)
    ]
    nodes = spark.createDataFrame(rows, "id long, lat double, lon double")
    gdir = str(tmp_path / "bygeohash")
    ldir = str(tmp_path / "bylat")
    n_files = 16
    with_geohash(nodes).repartitionByRange(n_files, "geohash").write.mode(
        "overwrite"
    ).parquet(gdir)
    nodes.repartitionByRange(n_files, "lat").write.mode("overwrite").parquet(
        ldir
    )

    # small box: all latitudes, a narrow lon slice — the off-axis
    # predicate for the lat-sorted layout
    pred = (
        (F.col("lon") >= 8.010) & (F.col("lon") < 8.014)
        & (F.col("lat") >= 47.010) & (F.col("lat") < 47.050)
    )

    def touched(path):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    lat_files, geo_files = touched(ldir), touched(gdir)
    assert lat_files > n_files // 2  # lat layout cannot prune a lon slice
    assert geo_files < lat_files  # geohash clustering prunes it


def test_osm_nodes_flow_into_geohash_and_proximity(spark, tmp_path):
    """End-to-end OSM spatial path: XML extract → parsed nodes table
    → geohash append → proximity self-join, all engine-native.  The
    synthetic extract puts two nodes ~100 m apart and one far away;
    the pipeline must find exactly the close pair."""
    from open_street_map_data_wrangling_spark.sources.osm_xml import (
        parse_osm_xml,
    )

    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="1" lat="47.0000" lon="8.0000" user="a" uid="1" version="1" changeset="1" timestamp="2024-01-01T00:00:00Z"/>
  <node id="2" lat="47.0009" lon="8.0000" user="a" uid="1" version="1" changeset="1" timestamp="2024-01-01T00:00:00Z"/>
  <node id="3" lat="47.5000" lon="8.5000" user="b" uid="2" version="1" changeset="1" timestamp="2024-01-01T00:00:00Z"/>
</osm>
"""
    p = tmp_path / "mini.osm"
    p.write_text(xml)
    nodes = parse_osm_xml(spark, str(p))["nodes"].select("id", "lat", "lon")
    hashed = with_geohash(nodes)
    assert hashed.filter("geohash IS NULL").count() == 0
    pairs = proximity_pairs(hashed, radius_m=150.0).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert abs(pairs[0]["dist_m"] - 100.0) < 5.0


def test_proximity_wrap_lon_finds_antimeridian_pairs(spark):
    """wrap_lon=True: pairs straddling lon = +/-180 meet in one
    wrapped bucket (cell 0 adjacent to cell n-1); the whole result
    still matches brute force on a seam-spanning point set.  The
    default (wrap_lon=False) misses exactly the seam pairs — pinning
    the documented contract from both sides."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, rnd.random() * 0.01, 179.9990 + rnd.random() * 0.002 - 0.001)
        for i in range(60)
    ]
    # shift half the points across the seam: lon in (-180, -179.999]
    rows = [
        (i, la, lo - 360.0 if lo > 180.0 or i % 2 else lo)
        for i, la, lo in rows
    ]
    rows.append((900, 0.0, 179.99995))
    rows.append((901, 0.0, -179.99995))  # ~11 m from 900 across the seam
    df = spark.createDataFrame(rows, "id long, lat double, lon double")

    def hav(a, b):
        (_, la1, lo1), (_, la2, lo2) = a, b
        d = (
            math.sin(math.radians(la2 - la1) / 2) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(math.radians(lo2 - lo1) / 2) ** 2
        )
        m = 2 * 6371000.0 * math.asin(math.sqrt(d))
        return math.floor(m * 10 + 0.5) / 10

    expected = {
        (min(a[0], b[0]), max(a[0], b[0]))
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if hav(a, b) <= 150.0
    }
    wrapped = {
        (r["id_a"], r["id_b"])
        for r in proximity_pairs(df, radius_m=150.0, wrap_lon=True).collect()
    }
    assert wrapped == expected
    assert (900, 901) in wrapped
    unwrapped = {
        (r["id_a"], r["id_b"])
        for r in proximity_pairs(df, radius_m=150.0).collect()
    }
    assert (900, 901) not in unwrapped  # the documented default gap
    # and every miss of the default form straddles the seam
    for a, b in expected - unwrapped:
        lons = {abs(r[2]) > 179.0 for r in rows if r[0] in (a, b)}
        assert lons == {True}


def test_geohash_clustering_buys_prefix_and_bbox_skipping(spark, tmp_path):
    """The module docstring's layout claim, proven the way the z-order
    test proves it: writing points clustered by geohash into
    range-partitioned files makes both a geohash-prefix predicate AND
    a raw lat/lon bounding box touch a small subset of files (geohash
    IS a Z-order curve over (lon, lat), so min/max stats on lat, lon,
    and the hash string all become selective), while an id-clustered
    layout of the same rows must read every file."""
    import random

    from pyspark.sql import functions as F

    n_files = 16
    rnd = random.Random(11)
    rows = [
        (i, 40.0 + rnd.random() * 0.5, -74.0 + rnd.random() * 0.5)
        for i in range(4096)
    ]
    pts = with_geohash(
        spark.createDataFrame(rows, "id long, lat double, lon double")
    )
    geodir = str(tmp_path / "bygeo")
    iddir = str(tmp_path / "byid")
    pts.repartitionByRange(n_files, "geohash").write.mode("overwrite").parquet(geodir)
    pts.repartitionByRange(n_files, "id").write.mode("overwrite").parquet(iddir)

    def files_touched(path, predicate):
        return (
            spark.read.parquet(path)
            .filter(predicate)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    # the busiest precision-4 cell (~39 km) as the probe region
    top = (
        pts.groupBy(F.expr("substring(geohash, 1, 4)").alias("c"))
        .count()
        .orderBy(F.desc("count"), F.asc("c"))
        .first()
    )
    prefix_pred = f"geohash LIKE '{top['c']}%'"
    bbox_pred = "lat >= 40.1 AND lat < 40.2 AND lon >= -73.9 AND lon < -73.8"
    assert files_touched(iddir, prefix_pred) == n_files  # scattered layout
    assert files_touched(iddir, bbox_pred) == n_files
    assert files_touched(geodir, prefix_pred) <= n_files // 4
    assert files_touched(geodir, bbox_pred) <= n_files // 2


def test_proximity_search_matches_brute_force(spark, tmp_path):
    """X93 serve == inline: radius queries over the persisted grid
    index return exactly the brute-force haversine answer (the
    pruning differential — block pruning + 3x3 cells lose no border
    point), a query id never returns itself, and results arrive
    sorted per query."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.geo import (
        _HAVERSINE,
        _PROX_SERVE_QIDS,
        _PROX_SERVE_RADIUS,
        build_geo_index,
        proximity_search,
        synth_points,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    pts = synth_points(
        load_table(spark, "/root/testdata/sf0.001", "customer")
    )
    path = str(tmp_path / "geo_idx")
    build_geo_index(pts, path)
    qrows = {
        int(r["id"]): (float(r["lat"]), float(r["lon"]))
        for r in pts.filter(F.col("id").isin(list(_PROX_SERVE_QIDS))).collect()
    }
    served = [
        tuple(r) for r in proximity_search(spark, path, qrows).collect()
    ]
    brute = []
    allpts = pts.collect()
    import math as m

    def hav(a, b, c, d):
        return 2 * 6371000 * m.asin(m.sqrt(
            m.sin(m.radians(c - a) / 2) ** 2
            + m.cos(m.radians(a)) * m.cos(m.radians(c))
            * m.sin(m.radians(d - b) / 2) ** 2))

    for qid, (qlat, qlon) in sorted(qrows.items()):
        for r in allpts:
            if r["id"] == qid:
                continue
            d = round(hav(qlat, qlon, r["lat"], r["lon"]), 1)
            if d <= _PROX_SERVE_RADIUS:
                brute.append((qid, r["id"], d))
    brute.sort(key=lambda t: (t[0], t[2], t[1]))
    assert served == brute and served
    assert not any(q == i for q, i, _ in served)


def test_geo_index_maintenance_replay_and_purge(spark, tmp_path):
    """X93 lifecycle: streaming two point chunks through
    geo_points_merge_fn yields the same rows a batch build over
    the concatenated points produces (same grid coding, __batch
    aside); a redelivered batch is a no-op (leaf-overwrite layout);
    proximity_search over the maintained store equals the batch
    store; and purge_geo_index == rebuild over the filtered points
    with the purged id never served again."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.geo import (
        _PROX_SERVE_QIDS,
        build_geo_index,
        proximity_search,
        synth_points,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        geo_points_merge_fn,
        maintain,
        purge_geo_index,
    )

    pts = synth_points(
        load_table(spark, "/root/testdata/sf0.001", "customer")
    )
    b1 = pts.filter("id <= 75")
    b2 = pts.filter("id > 75")
    src = str(tmp_path / "src")
    inc = str(tmp_path / "geo_inc")
    full = str(tmp_path / "geo_full")
    # bootstrap: batch build over the first chunk, stream the second
    build_geo_index(b1, inc)
    b2.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b2.schema).parquet(src)
    q = maintain(stream, geo_points_merge_fn(spark, inc), f"{inc}_ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_geo_index(pts, full)
    rows = lambda d: {
        (r["id"], r["cx"], r["cy"], r["gbx"], r["gby"])
        for r in spark.read.parquet(d).collect()
    }
    assert rows(inc) == rows(full) and rows(inc)
    # replay: same batch id overwrites its own leaves — no-op
    geo_points_merge_fn(spark, inc)(b2, 0)
    assert rows(inc) == rows(full)
    qrows = {
        int(r["id"]): (float(r["lat"]), float(r["lon"]))
        for r in pts.filter(
            F.col("id").isin(list(_PROX_SERVE_QIDS))
        ).collect()
    }
    s_inc = [tuple(r) for r in proximity_search(spark, inc, qrows).collect()]
    s_full = [tuple(r) for r in proximity_search(spark, full, qrows).collect()]
    assert s_inc == s_full and s_inc
    # purge: forget the nearest neighbor of the first demo query
    victim = s_inc[0][1]
    purge_geo_index(spark, inc, pts.filter(F.col("id") == victim))
    rebuilt = str(tmp_path / "geo_rebuilt")
    build_geo_index(pts.filter(F.col("id") != victim), rebuilt)
    assert rows(inc) == rows(rebuilt)
    s_purged = [
        tuple(r) for r in proximity_search(spark, inc, qrows).collect()
    ]
    assert not any(r[1] == victim for r in s_purged)
    assert s_purged == [
        tuple(r) for r in proximity_search(spark, rebuilt, qrows).collect()
    ]


def test_proximity_filtered_equals_postfilter_and_fails_fast(
    spark, tmp_path
):
    """proximity_search(filters=) (X106): radius semantics make the
    correctness contract exact — filtered results == post-filtered
    unfiltered results (no starvation dimension, unlike top-k) — so
    pin THAT equality, the per-query selectivity (different queries
    get different categories), and the fail-fast on an index built
    without the metadata column (a forced schema would read NULLs
    and silently return zero rows — the r12 bm25 ADVICE class)."""
    import pytest
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.geo import (
        _PROX_SERVE_QIDS,
        build_geo_index,
        proximity_search,
        synth_points,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    pts = synth_points(
        load_table(spark, "/root/testdata/sf0.001", "customer")
    ).selectExpr("*", "CAST(id % 7 AS BIGINT) AS cat")
    plain = str(tmp_path / "geo_plain")
    meta = str(tmp_path / "geo_meta")
    build_geo_index(pts, plain)
    build_geo_index(pts, meta, meta=("cat",))
    qrows = {
        int(r["id"]): (float(r["lat"]), float(r["lon"]))
        for r in pts.filter(
            F.col("id").isin(list(_PROX_SERVE_QIDS))
        ).collect()
    }
    filters = {qid: (qid + 1) % 7 for qid in qrows}
    got = {
        tuple(r)
        for r in proximity_search(
            spark, meta, qrows, filters=filters
        ).collect()
    }
    unfiltered = proximity_search(spark, meta, qrows).collect()
    want = {
        tuple(r)
        for r in unfiltered
        if r["id"] % 7 == filters[r["qid"]]
    }
    assert got == want and got
    assert got < {tuple(r) for r in unfiltered}  # really selective
    # a filters-less call over the meta store is unchanged
    assert {
        tuple(r) for r in proximity_search(spark, meta, qrows).collect()
    } == {
        tuple(r) for r in proximity_search(spark, plain, qrows).collect()
    }
    with pytest.raises(ValueError, match="no metadata column"):
        proximity_search(spark, plain, qrows, filters=filters)
    with pytest.raises(ValueError, match="unknown qids"):
        proximity_search(spark, meta, qrows, filters={999999: 0})
