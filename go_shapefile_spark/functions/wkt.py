"""WKT rendering/parsing for the flat-coordinate geometry model.

The geometry model (SURVEY.md §1.2) is go-geom-style flat coordinates:
one interleaved float64 array plus ends/endss offsets.  WKT output follows
the reference's golden fixture style (go-geom wkt.Marshal; reference
shapefile_test.go:37-131): ``MULTILINESTRING M ((1 5 0,5 5 -1E+39,...))``.
Floats render as their shortest round-trip representation, which both Go
and Python produce.  Tests compare numerically (parsed coordinate arrays),
not string-wise, to avoid cross-language formatting trivia.
"""

from __future__ import annotations

import math
import re

import numpy as np

from ..sources.shapefile_core import (
    MULTIPOINT_TYPES, POINT_TYPES, POLYGON_TYPES, POLYLINE_TYPES, STRIDES,
    SHPRecord,
)


def _fmt(x: float) -> str:
    """Shortest round-trip float formatting, Go %v style: 1e+39 → '-1E+39'
    is matched case-insensitively by the numeric comparator; we emit
    Python's shortest repr with integral values undecorated, and the
    non-finite values as Go's strconv spells them."""
    if not math.isfinite(x):
        return "NaN" if math.isnan(x) else ("+Inf" if x > 0 else "-Inf")
    if x == int(x) and abs(x) < 1e15:
        return str(int(x))
    return repr(x)


def _coords_str(flat: np.ndarray, start: int, end: int, stride: int) -> str:
    pts = []
    for i in range(start, end, stride):
        pts.append(" ".join(_fmt(float(v)) for v in flat[i:i + stride]))
    return ",".join(pts)


def record_to_nested(rec: SHPRecord):
    """SHPRecord → (kind, layout, nested coordinate lists).

    point → [ords]; multipoint → [[ords]...]; polyline → [[[ords]...]...];
    polygon → list of polygons, each a list of rings, each a list of points.
    Mirrors the go-geom constructions at reference shp.go:196-208.
    """
    st = rec.shape_type
    stride = STRIDES.get(rec.layout or "", 2)
    flat = rec.coords

    def pts(start, end):
        return [flat[i:i + stride].tolist() for i in range(start, end, stride)]

    if st in POINT_TYPES:
        return "POINT", rec.layout, flat.tolist()
    if st in MULTIPOINT_TYPES:
        return "MULTIPOINT", rec.layout, pts(0, len(flat))
    if st in POLYLINE_TYPES:
        out, prev = [], 0
        for end in rec.ends:
            out.append(pts(prev, end))
            prev = end
        return "MULTILINESTRING", rec.layout, out
    if st in POLYGON_TYPES:
        polys, prev = [], 0
        for ring_ends in rec.endss:
            rings = []
            for end in ring_ends:
                rings.append(pts(prev, end))
                prev = end
            polys.append(rings)
        return "MULTIPOLYGON", rec.layout, polys
    return "NULL", None, []


def to_wkt(rec: SHPRecord) -> str:
    """Render a record as WKT in the reference's golden style."""
    kind, layout, _ = record_to_nested(rec)
    stride = STRIDES.get(layout or "", 2)
    tag = {"XY": "", "XYM": " M", "XYZM": " ZM"}.get(layout or "XY", "")
    flat = rec.coords
    if kind == "NULL":
        return "GEOMETRYCOLLECTION EMPTY"
    if kind == "POINT":
        return f"POINT{tag} ({_coords_str(flat, 0, len(flat), stride)})"
    if kind == "MULTIPOINT":
        inner = ",".join(
            f"({_coords_str(flat, i, i + stride, stride)})"
            for i in range(0, len(flat), stride))
        return f"MULTIPOINT{tag} ({inner})"
    if kind == "MULTILINESTRING":
        parts, prev = [], 0
        for end in rec.ends:
            parts.append(f"({_coords_str(flat, prev, end, stride)})")
            prev = end
        return f"MULTILINESTRING{tag} ({','.join(parts)})"
    # MULTIPOLYGON
    polys, prev = [], 0
    for ring_ends in rec.endss:
        rings = []
        for end in ring_ends:
            rings.append(f"({_coords_str(flat, prev, end, stride)})")
            prev = end
        polys.append(f"({','.join(rings)})")
    return f"MULTIPOLYGON{tag} ({','.join(polys)})"


def wkt_from_struct(shape_type: int, layout: str | None, coords, ends,
                    rings) -> str:
    """Render WKT from the DataFrame geometry struct columns
    (layout/coords/ends/rings per SURVEY.md §1.2)."""
    coords = np.asarray(coords, dtype=np.float64)
    ends = [int(e) for e in (ends or [])]
    endss: list[list[int]] = []
    pos = 0
    for n in (rings or []):
        endss.append(ends[pos:pos + int(n)])
        pos += int(n)
    rec = SHPRecord(number=0, content_length=0, shape_type=int(shape_type),
                    layout=layout, coords=coords, ends=ends, endss=endss,
                    bounds=None)
    return to_wkt(rec)


_NUM = re.compile(r"[-+]?(?:\d*\.?\d+(?:[eE][-+]?\d+)?|Inf|NaN)")


def parse_wkt(s: str):
    """Parse golden-fixture WKT into (kind, layout, nested lists).

    Supports POINT/MULTIPOINT/MULTILINESTRING/MULTIPOLYGON with optional
    M/Z/ZM layout tags — exactly the shapes the reference emits.
    """
    s = s.strip()
    m = re.match(r"([A-Z]+)\s*(ZM|Z|M)?\s*\(", s)
    if not m:
        raise ValueError(f"unparseable WKT: {s[:40]}")
    kind = m.group(1)
    tag = m.group(2) or ""
    layout = {"": "XY", "M": "XYM", "Z": "XYZ", "ZM": "XYZM"}[tag]
    body = s[m.end() - 1:]

    def parse_group(text: str, depth: int):
        """Recursively split balanced parens at the given nesting depth."""
        if depth == 0:
            return [float(x) for x in _NUM.findall(text)]
        items, level, start = [], 0, None
        for i, ch in enumerate(text):
            if ch == "(":
                level += 1
                if level == 1:
                    start = i + 1
            elif ch == ")":
                if level == 1 and start is not None:
                    items.append(parse_group(text[start:i], depth - 1))
                level -= 1
        return items

    if kind == "POINT":
        return kind, layout, parse_group(body, 1)[0]
    if kind == "MULTIPOINT":
        inner = parse_group(body, 1)[0]
        # MULTIPOINT ((1 2),(3 4)) nests one deeper than MULTIPOINT (1 2,3 4)
        if "((" in s.replace(" ", ""):
            pts = parse_group(body, 2)[0]
        else:
            stride = {"XY": 2, "XYM": 3, "XYZ": 3, "XYZM": 4}[layout]
            pts = [inner[i:i + stride] for i in range(0, len(inner), stride)]
        return kind, layout, pts
    if kind == "MULTILINESTRING":
        lines = parse_group(body, 2)[0]
        stride = {"XY": 2, "XYM": 3, "XYZ": 3, "XYZM": 4}[layout]
        return kind, layout, [
            [ln[i:i + stride] for i in range(0, len(ln), stride)] for ln in lines]
    if kind == "MULTIPOLYGON":
        polys = parse_group(body, 3)[0]
        stride = {"XY": 2, "XYM": 3, "XYZ": 3, "XYZM": 4}[layout]
        return kind, layout, [
            [[ring[i:i + stride] for i in range(0, len(ring), stride)]
             for ring in poly] for poly in polys]
    raise ValueError(f"unsupported WKT kind {kind}")
