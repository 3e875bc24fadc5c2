"""Tests of the benchmark's own code: every output check accepts the
expected result and rejects a perturbed one, and the numpy references
agree with hand-checked values.  No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


def _square(x0, y0, x1, y1, clockwise=True):
    xs, ys = [x0, x0, x1, x1, x0], [y0, y1, y1, y0, y0]
    if not clockwise:
        xs, ys = xs[::-1], ys[::-1]
    ring = np.empty(10)
    ring[0::2], ring[1::2] = xs, ys
    return ring


SQUARE = gen._polygon([_square(0, 0, 4, 4)])
DONUT = gen._polygon([_square(0, 0, 4, 4), _square(1, 1, 3, 3, False)])


def test_spark_xxhash64_matches_spark():
    # values of Spark 4.1 xxhash64(id, 1) and xxhash64(id, 2), id = 0..4
    assert gen.spark_xxhash64(np.arange(5), 1).tolist() == [
        835402644902252646, 5986642287525340116, 5841442975156468554,
        -1052564430239427704, -6804523694836297500]
    assert gen.spark_xxhash64(np.arange(5), 2).tolist() == [
        -2020887559936417006, 2111505684582270266, -5854190533478792688,
        -3198593175107764491, -8254459025561067619]


def test_contains_honours_holes():
    px = np.array([0.5, 2.0, 3.5, 5.0, 2.0])
    py = np.array([0.5, 2.0, 3.5, 2.0, 0.5])
    assert gen.contains(SQUARE["coords"], SQUARE["ends"], px, py).tolist() \
        == [True, True, True, False, True]
    assert gen.contains(DONUT["coords"], DONUT["ends"], px, py).tolist() \
        == [True, False, True, False, True]


def test_counts_and_area():
    lon = np.array([0.5, 2.0, 3.5, 5.0, -1.0])
    lat = np.array([0.5, 2.0, 3.5, 2.0, 2.0])
    assert gen.polygon_counts([SQUARE, DONUT], lon, lat).tolist() == [3, 2]
    assert gen.shoelace_area([SQUARE, DONUT]).tolist() == [16.0, 12.0]


def test_shoelace_area_of_generated_shapes():
    # every ring on its own, by the textbook formula
    def ring_sum(p):
        total, start = 0.0, 0
        for end in p["ends"]:
            x, y = p["coords"][start:end:2], p["coords"][start + 1:end:2]
            total -= np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0
            start = end
        return total

    polys = (gen.parcels(np.random.default_rng(0), 50)
             + gen.countries(np.random.default_rng(0))[:12])
    want = [ring_sum(p) for p in polys]
    assert np.allclose(gen.shoelace_area(polys), want, rtol=1e-9)
    assert min(want) > 0


def test_cell_of_layout():
    # res 1: (lon, lat) in the north-east quadrant -> ix = 1, iy = 1
    assert gen.cell_of(np.array([90.0]), np.array([45.0]), 1).tolist() == \
        [(1 << 52) | 0b11]


def test_frame_digest_ignores_order_and_integral_floats():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2.0, 1.0]})
    assert gen.frame_digest(a) == gen.frame_digest(b)
    assert gen.frame_digest(a) != gen.frame_digest(a.assign(x=[1, 3]))


JOIN = {"names": ["A", "B", "C"], "name_counts": [3, 0, 5],
        "tile_cells": [10, 11], "tile_counts": [6, 2]}


def _join_outputs():
    per_name = pd.DataFrame({"NAME": ["C", "A"], "count": [5, 3]})
    tiles = pd.DataFrame({"cell": [11, 10], "n": [2, 6]})
    return per_name, tiles


def test_check_join_accepts_expected():
    assert checks.check_join(JOIN, *_join_outputs()) == []


@pytest.mark.parametrize("perturb", [
    lambda p, t: (p.assign(count=[5, 4]), t),               # a count off
    lambda p, t: (p.iloc[:1], t),                           # a name lost
    lambda p, t: (pd.concat([p, pd.DataFrame(
        {"NAME": ["B"], "count": [1]})]), t),               # a spurious name
    lambda p, t: (p, t.assign(n=[2, 7])),                   # a tile count off
    lambda p, t: (p, t.iloc[:1]),                           # a tile lost
])
def test_check_join_rejects_perturbed(perturb):
    assert checks.check_join(JOIN, *perturb(*_join_outputs()))


AREAS = {"area": [0.5, 0.25]}
VT_FID = np.array([1, 1, 2])
VT_AREA = np.array([0.2, 0.3, 0.25])


def test_check_vector_tiles_accepts_expected():
    assert checks.check_vector_tiles(AREAS, VT_FID, VT_AREA) == []


@pytest.mark.parametrize("fid, area", [
    (VT_FID[1:], VT_AREA[1:]),                              # a tile dropped
    (VT_FID, VT_AREA * (1 + 1e-6)),                         # area drift
    (np.append(VT_FID, 2), np.append(VT_AREA, 0.1)),        # a tile doubled
    (np.append(VT_FID, 3), np.append(VT_AREA, 0.1)),        # unknown fid
])
def test_check_vector_tiles_rejects_perturbed(fid, area):
    assert checks.check_vector_tiles(AREAS, fid, area)


RESULT = pd.DataFrame({"u": [1, 2, 3], "n_tri": [1, 1, 2]})
QUERIES = {"queries": {"q": {"rows": 3, "digest": gen.frame_digest(RESULT)}}}


def test_check_query_accepts_expected():
    assert checks.check_query(QUERIES, "q", RESULT.iloc[::-1]) == []


@pytest.mark.parametrize("perturbed", [
    RESULT.assign(n_tri=[1, 1, 3]),                         # a value off
    RESULT.iloc[:2],                                        # a row lost
    RESULT.rename(columns={"n_tri": "n"}),                  # a column renamed
])
def test_check_query_rejects_perturbed(perturbed):
    assert checks.check_query(QUERIES, "q", perturbed)


def test_benchmark_json_lists_every_metric():
    import run
    import tracing
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOAD_NAMES
    assert [m["name"] for m in spec["per_layer"]] == tracing.per_layer_names()
    assert all(m["unit"] == tracing.unit_of(m["name"])
               for m in spec["end_to_end"] + spec["per_layer"])
