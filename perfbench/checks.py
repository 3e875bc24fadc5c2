"""Output checks: compare one iteration's results with the expected
values that ``gen.py`` computed independently of the engine.

Each check returns a list of problems; an empty list means the output is
correct.  They take plain numpy / pandas values so the tests in
``test_checks.py`` run without Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import frame_digest


def check_join(expected: dict, per_name: pd.DataFrame,
               tiles: pd.DataFrame) -> list[str]:
    """``per_name`` (NAME, count) against the ray-cast counts, and
    ``tiles`` (cell, n) against the numpy cell histogram."""
    problems = []
    want = {name: n for name, n in zip(expected["names"],
                                       expected["name_counts"]) if n}
    got = dict(zip(per_name["NAME"].str.rstrip(), per_name["count"]))
    if got != want:
        bad = sorted(k for k in set(got) | set(want)
                     if got.get(k) != want.get(k))
        problems.append(
            f"per-NAME counts differ for {len(bad)} names, e.g. {bad[0]!r}: "
            f"{got.get(bad[0])} != expected {want.get(bad[0])}")
    t = tiles.sort_values("cell")
    if not (np.array_equal(t["cell"].to_numpy(), expected["tile_cells"])
            and np.array_equal(t["n"].to_numpy(), expected["tile_counts"])):
        problems.append(
            f"tile_counts differ: {len(t)} cells / {int(t['n'].sum())} points"
            f" vs expected {len(expected['tile_cells'])} / "
            f"{sum(expected['tile_counts'])}")
    return problems


def check_vector_tiles(expected: dict, fid: np.ndarray,
                       area: np.ndarray) -> list[str]:
    """The clipped tiles of each parcel must add up to the parcel's
    area.  Parcel fids are 1-based."""
    want = np.asarray(expected["area"])
    n = len(want)
    if len(fid) and (fid.min() < 1 or fid.max() > n):
        return ["vector tiles carry unknown fids"]
    got = np.bincount(fid - 1, weights=area, minlength=n)
    # 1e-10 square degrees: the rounding of a clip computed in absolute
    # coordinates near 180 degrees, far below any lost or doubled tile
    bad = ~np.isclose(got, want, rtol=1e-9, atol=1e-10)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"vector-tile area not conserved for {int(bad.sum())} "
                f"parcels, e.g. fid {i + 1}: {got[i]!r} != {want[i]!r}"]
    return []


def check_query(expected: dict, name: str, result: pd.DataFrame) -> list[str]:
    """A registry query's rows against its DuckDB oracle's digest."""
    want = expected["queries"][name]
    if len(result) != want["rows"]:
        return [f"{name}: {len(result)} rows != oracle {want['rows']}"]
    if frame_digest(result) != want["digest"]:
        return [f"{name}: row values differ from the oracle"]
    return []
