"""Round-8 optimization pins: the behavior-preserving guarantees of the
performance work (staged HOF expressions, strip-chunked clip prepass,
position-indexed prefilter dim, fan_out) plus the round-7 ADVICE fixes
and the round-8 ADVICE fixes (duplicate boundary_id in the position dim,
fan_out on streaming frames)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.geo import clip as _clip
from wikibrain_spark.geo import simplify as _simp
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.session import fan_out
from wikibrain_spark.sources import synthetic


def test_dp_simplify_degenerate_ring_keeps_three_vertices():
    """Round-7 ADVICE: an all-coincident ring must still return >= 3
    vertices (the documented guarantee downstream parity folds rely on)."""
    ys = np.zeros(10)
    xs = np.zeros(10)
    sy, sx = _simp.dp_simplify_ring(ys, xs, 0.5)
    assert sy.size >= 3 and sx.size == sy.size


def test_shuffle_pip_rejects_unknown_clip_cover_string(spark):
    """Round-7 ADVICE: clip_cover='false' (or any non-'auto' string) must
    raise instead of silently enabling the clipped path via truthiness."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 10.0, 10.0],
               "ring_lon": [0.0, 10.0, 10.0, 0.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pts = spark.createDataFrame([("a", 5.0, 5.0)], "image_id string, lat double, lon double")
    with pytest.raises(ValueError, match="clip_cover"):
        spatial_join.shuffle_pip_join(pts, bnd, clip_cover="false")


def test_clipped_cell_cover_strip_partition_equals_full():
    """The strip-chunked parallel prepass (round 8): partitioning the strip
    range yields exactly the full cover's (cell -> pieces) map, each entry
    emitted by exactly one chunk with identical content and order."""
    coast = synthetic.generate_coastlines()
    for _, row in coast.iterrows():
        rings = [(r["ring_lat"], r["ring_lon"]) for r in row["rings"]]
        full = _clip.clipped_cell_cover(rings, 2)
        merged: dict = {}
        for lo, hi in [(0, 25), (26, 50), (51, 1000)]:
            part = _clip.clipped_cell_cover(rings, 2, strip_lo=lo, strip_hi=hi)
            assert not (set(part) & set(merged)), "cell split across chunks"
            merged.update(part)
        assert set(merged) == set(full)
        for c, plist in full.items():
            assert len(plist) == len(merged[c])
            for (a, b, w), (a2, b2, w2) in zip(plist, merged[c]):
                assert np.array_equal(a, a2) and np.array_equal(b, b2) and w == w2


def test_clip_units_cover_distributed_equals_direct(spark):
    """clipped_cover_frame through _clip_units emits exactly one row per
    (boundary, cell) with the same packed geometry as the direct
    per-boundary enumeration."""
    coast = synthetic.generate_coastlines()
    bnd = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    got = {}
    for r in spatial_join.clipped_cover_frame(bnd, 2).collect():
        key = (r["boundary_id"], r["cell"])
        assert key not in got, f"split entry {key}"
        got[key] = np.asarray(r["geom"])
    want = {}
    for _, r in coast.iterrows():
        rings = [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]]
        for c, plist in _clip.clipped_cell_cover(rings, 2).items():
            want[(int(r["boundary_id"]), c)] = _clip.pack_pieces(plist)
    assert set(got) == set(want)
    for k in want:
        assert np.array_equal(got[k], want[k]), k


def test_fan_out_is_noop_at_or_above_parallelism(spark):
    p = spark.sparkContext.defaultParallelism
    few = spark.createDataFrame([(i,) for i in range(10)], "x long").coalesce(1)
    assert fan_out(few).rdd.getNumPartitions() == p
    wide = spark.range(1000).repartition(p)
    assert fan_out(wide) is wide  # untouched frame, no extra shuffle


def test_fan_out_passes_streaming_frames_through(spark):
    """A streaming frame has no RDD to count partitions of: fan_out must
    hand it back untouched, so the text kernels stay stream-legal."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert fan_out(stream) is stream


def _rings_in(rings, lat, lon):
    from wikibrain_spark.geo import pip

    return pip.points_in_rings(
        lat, lon, [(r["ring_lat"], r["ring_lon"]) for r in rings])


def test_position_indexed_prefilter_dim_matches_numpy_kernel(spark):
    """The position-indexed unclipped prefilter dim (round 8) must produce
    exactly the NumPy kernel's containment pairs on corner geometry
    (dateline ring + overlapping rectangles)."""
    rows = [
        (1, [{"ring_lat": [0.0, 0.0, 30.0, 30.0],
              "ring_lon": [-20.0, 40.0, 40.0, -20.0], "is_hole": False}]),
        (2, [{"ring_lat": [-30.0, -30.0, -5.0, -5.0],
              "ring_lon": [170.0, -165.0, -165.0, 170.0], "is_hole": False}]),
        (3, [{"ring_lat": [10.0, 10.0, 70.0, 70.0],
              "ring_lon": [-30.0, 60.0, 60.0, -30.0], "is_hole": False}])]
    bnd = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    lat = np.array([float((i * 37) % 100 - 50) for i in range(500)])
    lon = np.array([float((i * 91) % 360 - 180) for i in range(500)])
    pts = spark.createDataFrame(
        [(str(i), float(lat[i]), float(lon[i])) for i in range(500)],
        "image_id string, lat double, lon double")
    want = {(str(i), bid) for bid, rings in rows
            for i in np.flatnonzero(_rings_in(rings, lat, lon))}
    prefiltered = {(r["image_id"], r["boundary_id"])
                   for r in spatial_join.broadcast_pip_join_native(
                       pts, bnd, cell_prefilter_res=2).collect()}
    assert prefiltered == want and len(want) > 0


def test_duplicate_boundary_id_yields_one_row_per_boundary_row(spark):
    """ADVICE spatial_join.py:567: two boundary ROWS sharing a boundary_id
    with different rings. The position dim used to cross-multiply them in
    its cover join and list positions twice per cell, duplicating output
    rows. Every native dim must return one row per boundary row that
    contains the point — the NumPy kernel applied row by row."""
    a = [{"ring_lat": [0.0, 0.0, 20.0, 20.0],
          "ring_lon": [0.0, 20.0, 20.0, 0.0], "is_hole": False}]
    b = [{"ring_lat": [10.0, 10.0, 30.0, 30.0],
          "ring_lon": [10.0, 30.0, 30.0, 10.0], "is_hole": False}]
    rows = [(7, a), (7, b), (8, a)]
    bnd = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    rng = np.random.default_rng(3)
    lat, lon = rng.uniform(-5, 35, 400), rng.uniform(-5, 35, 400)
    pts = spark.createDataFrame(
        [(f"p{i}", float(lat[i]), float(lon[i])) for i in range(lat.size)],
        "image_id string, lat double, lon double")
    want = sorted(
        (f"p{i}", bid) for bid, rings in rows
        for i in np.flatnonzero(_rings_in(rings, lat, lon)))
    assert any(want.count(k) == 2 for k in want)  # points inside both rows of id 7
    for kw in ({"cell_prefilter_res": 2}, {"cell_prefilter_res": 2, "clip_dim": True}):
        got = sorted((r["image_id"], r["boundary_id"])
                     for r in spatial_join.broadcast_pip_join_native(pts, bnd, **kw).collect())
        assert got == want, kw


@pytest.mark.parametrize("bad", [None, "none", "AUTO", -1, 16, 2.0, True])
def test_native_pip_rejects_unsupported_prefilter_res(spark, bad):
    """cell_prefilter_res is an int in the hexlite range or "auto";
    anything else (None used to pick the deleted one-row dim) raises."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 10.0, 10.0],
               "ring_lon": [0.0, 10.0, 10.0, 0.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pts = spark.createDataFrame([("a", 5.0, 5.0)], "image_id string, lat double, lon double")
    with pytest.raises(ValueError, match="cell_prefilter_res"):
        spatial_join.broadcast_pip_join_native(pts, bnd, cell_prefilter_res=bad)
