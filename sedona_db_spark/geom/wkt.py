"""WKT reader/writer for the internal Geom representation.

Covers the surface the reference parses in
/root/reference/rust/sedona-functions/src/st_geomfromwkt.rs (615 LoC):
all seven geometry types, EMPTY at any level, Z/M/ZM suffixes, EWKT
``SRID=n;`` prefix.
"""

from __future__ import annotations

import re

import numpy as np

from sedona_db_spark.geom.core import (
    GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, MULTIPOINT,
    MULTIPOLYGON, POINT, POLYGON, Geom, _NAME_TYPES,
)

_TOKEN = re.compile(r"\s*([A-Za-z]+|\(|\)|,|-?[0-9+\-.eE]+)")


class _Tokens:
    def __init__(self, s: str):
        self.toks = _TOKEN.findall(s)
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, t):
        got = self.next()
        if got != t:
            raise ValueError(f"WKT parse error: expected {t!r}, got {got!r}")


def from_wkt(s: str) -> Geom:
    s = s.strip()
    srid = 0
    if s.upper().startswith("SRID="):
        head, s = s.split(";", 1)
        srid = int(head.split("=", 1)[1])
    tk = _Tokens(s)
    g = _parse_geom(tk)
    g.srid = srid
    return g


def _parse_geom(tk: _Tokens) -> Geom:
    name = tk.next()
    if name is None:
        raise ValueError("empty WKT")
    name = name.upper()
    if name not in _NAME_TYPES:
        raise ValueError(f"unknown WKT type {name!r}")
    gt = _NAME_TYPES[name]
    has_z = has_m = False
    nxt = tk.peek()
    if nxt and nxt.upper() in ("Z", "M", "ZM"):
        suffix = tk.next().upper()
        has_z = "Z" in suffix
        has_m = "M" in suffix
    if tk.peek() and tk.peek().upper() == "EMPTY":
        tk.next()
        if gt == POINT:
            return Geom(POINT, None, has_z, has_m)
        if gt == LINESTRING:
            return Geom(LINESTRING, np.empty((0, 2 + has_z + has_m)), has_z, has_m)
        return Geom(gt, [], has_z, has_m)
    k = 2 + has_z + has_m

    if gt == POINT:
        tk.expect("(")
        coords = _parse_coord(tk, k, has_z, has_m)
        tk.expect(")")
        g = Geom(POINT, coords, has_z, has_m)
    elif gt == LINESTRING:
        g = Geom(LINESTRING, _parse_coord_list(tk, k, has_z, has_m), has_z, has_m)
    elif gt == POLYGON:
        g = Geom(POLYGON, _parse_ring_list(tk, k, has_z, has_m), has_z, has_m)
    elif gt == MULTIPOINT:
        tk.expect("(")
        pts = []
        while True:
            if tk.peek() == "(":
                tk.next()
                pts.append(_parse_coord(tk, k, has_z, has_m))
                tk.expect(")")
            elif tk.peek() and tk.peek().upper() == "EMPTY":
                tk.next()
                pts.append(None)
            else:
                pts.append(_parse_coord(tk, k, has_z, has_m))
            if tk.peek() == ",":
                tk.next()
                continue
            break
        tk.expect(")")
        g = Geom(MULTIPOINT, pts, has_z, has_m)
    elif gt == MULTILINESTRING:
        tk.expect("(")
        lines = []
        while True:
            if tk.peek() and tk.peek().upper() == "EMPTY":
                tk.next()    # EMPTY member: GEOS parses and drops it
                lines.append(np.empty((0, k)))
            else:
                lines.append(_parse_coord_list(tk, k, has_z, has_m))
            if tk.peek() == ",":
                tk.next()
                continue
            break
        tk.expect(")")
        g = Geom(MULTILINESTRING, [l for l in lines if len(l)], has_z, has_m)
    elif gt == MULTIPOLYGON:
        tk.expect("(")
        polys = []
        while True:
            if tk.peek() and tk.peek().upper() == "EMPTY":
                tk.next()    # EMPTY member: GEOS parses and drops it
            else:
                polys.append(_parse_ring_list(tk, k, has_z, has_m))
            if tk.peek() == ",":
                tk.next()
                continue
            break
        tk.expect(")")
        g = Geom(MULTIPOLYGON, polys, has_z, has_m)
    else:  # GEOMETRYCOLLECTION
        tk.expect("(")
        subs = []
        while True:
            subs.append(_parse_geom(tk))
            if tk.peek() == ",":
                tk.next()
                continue
            break
        tk.expect(")")
        g = Geom(GEOMETRYCOLLECTION, subs, has_z, has_m)
    return g


def _parse_coord(tk, k, has_z, has_m):
    vals = []
    while tk.peek() not in (",", ")", None):
        vals.append(float(tk.next()))
    if len(vals) == 3 and k == 2:
        # untagged 3rd ordinate => Z (PostGIS convention)
        pass
    return np.asarray(vals, dtype=np.float64)


def _parse_coord_list(tk, k, has_z, has_m):
    tk.expect("(")
    coords = []
    while True:
        coords.append(_parse_coord(tk, k, has_z, has_m))
        if tk.peek() == ",":
            tk.next()
            continue
        break
    tk.expect(")")
    width = max(len(c) for c in coords)
    return np.array([np.pad(c, (0, width - len(c))) for c in coords], dtype=np.float64)


def _parse_ring_list(tk, k, has_z, has_m):
    tk.expect("(")
    rings = []
    while True:
        rings.append(_parse_coord_list(tk, k, has_z, has_m))
        if tk.peek() == ",":
            tk.next()
            continue
        break
    tk.expect(")")
    return rings


# ---------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------

def _fmt_num(v: float) -> str:
    # the magnitude test first: it is False for inf and NaN, which
    # int() cannot take, and repr prints them as inf / -inf / nan
    if abs(v) < 1e15 and v == int(v):
        return str(int(v))
    return repr(float(v))


def _fmt_coord(c) -> str:
    return " ".join(_fmt_num(v) for v in np.asarray(c).ravel())


def _fmt_coords(arr) -> str:
    return "(" + ", ".join(_fmt_coord(c) for c in arr) + ")"


def _dim_suffix(g: Geom) -> str:
    if g.has_z and g.has_m:
        return " ZM"
    if g.has_z:
        return " Z"
    if g.has_m:
        return " M"
    return ""


def to_wkt(g: Geom) -> str:
    name = g.type_name() + _dim_suffix(g)
    if g.is_empty():
        return f"{name} EMPTY"
    if g.gt == POINT:
        return f"{name} ({_fmt_coord(g.data)})"
    if g.gt == LINESTRING:
        return f"{name} {_fmt_coords(g.data)}"
    if g.gt == POLYGON:
        return f"{name} (" + ", ".join(_fmt_coords(r) for r in g.data) + ")"
    if g.gt == MULTIPOINT:
        return f"{name} (" + ", ".join(
            "EMPTY" if p is None else f"({_fmt_coord(p)})" for p in g.data) + ")"
    if g.gt == MULTILINESTRING:
        return f"{name} (" + ", ".join(_fmt_coords(l) for l in g.data) + ")"
    if g.gt == MULTIPOLYGON:
        return f"{name} (" + ", ".join(
            "(" + ", ".join(_fmt_coords(r) for r in p) + ")" for p in g.data) + ")"
    return f"{name} (" + ", ".join(to_wkt(s) for s in g.data) + ")"
