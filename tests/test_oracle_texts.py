"""Every ``build_registry()`` oracle text is byte-identical to its
recorded sha256 (tests/oracle_digests.json).  A changed pinned
literal, row order or SQL text fails here, without Spark or DuckDB.

The oracles registered only when the reference fixtures
(``queries.REF_TESTDATA``) are present have no recorded digest and
skip by name.  After an intended oracle change, re-record that name's
digest."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "oracle_digests.json")
with open(DIGESTS) as _f:
    RECORDED = json.load(_f)

# registered by build_registry() only when the reference fixtures exist
FIXTURE_GATED = ["shapefile_poly", "shapefile_countries_summary",
                 "geom_measures_countries", "geodesic_measures_countries",
                 "simplify_countries", "vector_tiles_countries",
                 "areal_interpolation", "vector_tile_pyramid",
                 "dissolve_tiles", "geojson_roundtrip"]


@pytest.fixture(scope="module")
def oracles():
    from go_shapefile_spark.queries import build_registry

    return build_registry()[1]


@pytest.mark.parametrize("name", sorted(RECORDED))
def test_oracle_text_is_byte_identical(oracles, name):
    assert name in oracles
    assert hashlib.sha256(oracles[name].encode()).hexdigest() == \
        RECORDED[name]


@pytest.mark.parametrize("name", FIXTURE_GATED)
def test_fixture_gated_oracle_has_no_digest(name):
    from go_shapefile_spark.queries import REF_TESTDATA

    assert name not in RECORDED
    pytest.skip(f"no recorded digest: {name} is registered only with "
                f"{REF_TESTDATA} present")


def test_every_registered_oracle_is_pinned(oracles):
    assert sorted(set(oracles) - set(RECORDED) - set(FIXTURE_GATED)) == []
