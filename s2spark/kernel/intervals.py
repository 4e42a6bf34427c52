"""R1/S1 interval algebra and lat/lng rectangles.

Scalar (driver-side) classes used for loop/region bounds and the coverer,
plus vectorized point-in-rect tests for the hot path.  Semantics conform to
/root/reference/S2Geometry/R1Interval.cs, S1Interval.cs and
S2LatLngRect.cs (wrap-aware longitude logic: an S1 interval with lo > hi
is "inverted" and wraps through +/-180 deg).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

PI = math.pi
# LatLngRect.contains_points latitude screen: slack in sin(lat) units, and
# points per block (its temporaries stay in cache)
_SCREEN_MARGIN = 1e-9
_SCREEN_BLOCK = 1 << 14


@dataclass(frozen=True)
class R1Interval:
    lo: float
    hi: float

    @staticmethod
    def empty() -> "R1Interval":
        return R1Interval(1.0, 0.0)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "R1Interval":
        return R1Interval(min(p1, p2), max(p1, p2))

    @property
    def is_empty(self) -> bool:
        return self.lo > self.hi

    @property
    def center(self) -> float:
        return 0.5 * (self.lo + self.hi)

    @property
    def length(self) -> float:
        return self.hi - self.lo

    def contains(self, p: float) -> bool:
        return self.lo <= p <= self.hi

    def interior_contains(self, p: float) -> bool:
        return self.lo < p < self.hi

    def contains_interval(self, y: "R1Interval") -> bool:
        if y.is_empty:
            return True
        return y.lo >= self.lo and y.hi <= self.hi

    def interior_contains_interval(self, y: "R1Interval") -> bool:
        if y.is_empty:
            return True
        return y.lo > self.lo and y.hi < self.hi

    def intersects(self, y: "R1Interval") -> bool:
        if self.lo <= y.lo:
            return y.lo <= self.hi and y.lo <= y.hi
        return self.lo <= y.hi and self.lo <= self.hi

    def interior_intersects(self, y: "R1Interval") -> bool:
        return y.lo < self.hi and self.lo < y.hi and self.lo < self.hi and y.lo <= y.hi

    def add_point(self, p: float) -> "R1Interval":
        if self.is_empty:
            return R1Interval(p, p)
        if p < self.lo:
            return R1Interval(p, self.hi)
        if p > self.hi:
            return R1Interval(self.lo, p)
        return self

    def expanded(self, radius: float) -> "R1Interval":
        if self.is_empty:
            return self
        return R1Interval(self.lo - radius, self.hi + radius)

    def union(self, y: "R1Interval") -> "R1Interval":
        if self.is_empty:
            return y
        if y.is_empty:
            return self
        return R1Interval(min(self.lo, y.lo), max(self.hi, y.hi))

    def intersection(self, y: "R1Interval") -> "R1Interval":
        return R1Interval(max(self.lo, y.lo), min(self.hi, y.hi))


class S1Interval:
    """Closed interval on the unit circle; lo > hi means inverted (wraps).

    Empty = [pi, -pi], Full = [-pi, pi].  S1Interval.cs semantics.
    """

    __slots__ = ("lo", "hi")

    def __init__(self, lo: float, hi: float, checked: bool = False):
        if not checked:
            if lo == -PI and hi != PI:
                lo = PI
            if hi == -PI and lo != PI:
                hi = PI
        self.lo = lo
        self.hi = hi

    def __repr__(self) -> str:
        return f"S1Interval({self.lo}, {self.hi})"

    def __eq__(self, other) -> bool:
        return isinstance(other, S1Interval) and self.lo == other.lo and self.hi == other.hi

    @staticmethod
    def empty() -> "S1Interval":
        return S1Interval(PI, -PI, True)

    @staticmethod
    def full() -> "S1Interval":
        return S1Interval(-PI, PI, True)

    @staticmethod
    def from_point(p: float) -> "S1Interval":
        if p == -PI:
            p = PI
        return S1Interval(p, p, True)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "S1Interval":
        if p1 == -PI:
            p1 = PI
        if p2 == -PI:
            p2 = PI
        if S1Interval.positive_distance(p1, p2) <= PI:
            return S1Interval(p1, p2, True)
        return S1Interval(p2, p1, True)

    @staticmethod
    def positive_distance(a: float, b: float) -> float:
        d = b - a
        if d >= 0:
            return d
        return (b + PI) - (a - PI)

    @property
    def is_full(self) -> bool:
        return self.hi - self.lo == 2 * PI

    @property
    def is_empty(self) -> bool:
        return self.lo - self.hi == 2 * PI

    @property
    def is_valid(self) -> bool:
        """S1Interval.cs IsValid."""
        return (abs(self.lo) <= PI and abs(self.hi) <= PI
                and not (self.lo == -PI and self.hi != PI)
                and not (self.hi == -PI and self.lo != PI))

    @property
    def is_inverted(self) -> bool:
        return self.lo > self.hi

    @property
    def center(self) -> float:
        c = 0.5 * (self.lo + self.hi)
        if not self.is_inverted:
            return c
        return c + PI if c <= 0 else c - PI

    @property
    def length(self) -> float:
        length = self.hi - self.lo
        if length >= 0:
            return length
        length += 2 * PI
        return length if length > 0 else -1.0

    def fast_contains(self, p: float) -> bool:
        if self.is_inverted:
            return (p >= self.lo or p <= self.hi) and not self.is_empty
        return self.lo <= p <= self.hi

    def contains(self, p: float) -> bool:
        if p == -PI:
            p = PI
        return self.fast_contains(p)

    def interior_contains(self, p: float) -> bool:
        if p == -PI:
            p = PI
        if self.is_inverted:
            return p > self.lo or p < self.hi
        return (self.lo < p < self.hi) or self.is_full

    def contains_interval(self, y: "S1Interval") -> bool:
        if self.is_inverted:
            if y.is_inverted:
                return y.lo >= self.lo and y.hi <= self.hi
            return (y.lo >= self.lo or y.hi <= self.hi) and not self.is_empty
        if y.is_inverted:
            return self.is_full or y.is_empty
        return y.lo >= self.lo and y.hi <= self.hi

    def interior_contains_interval(self, y: "S1Interval") -> bool:
        if self.is_inverted:
            if not y.is_inverted:
                return y.lo > self.lo or y.hi < self.hi
            return (y.lo > self.lo and y.hi < self.hi) or y.is_empty
        if y.is_inverted:
            return self.is_full or y.is_empty
        return (y.lo > self.lo and y.hi < self.hi) or self.is_full

    def intersects(self, y: "S1Interval") -> bool:
        if self.is_empty or y.is_empty:
            return False
        if self.is_inverted:
            return y.is_inverted or y.lo <= self.hi or y.hi >= self.lo
        if y.is_inverted:
            return y.lo <= self.hi or y.hi >= self.lo
        return y.lo <= self.hi and y.hi >= self.lo

    def interior_intersects(self, y: "S1Interval") -> bool:
        if self.is_empty or y.is_empty or self.lo == self.hi:
            return False
        if self.is_inverted:
            return y.is_inverted or y.lo < self.hi or y.hi > self.lo
        if y.is_inverted:
            return y.lo < self.hi or y.hi > self.lo
        return (y.lo < self.hi and y.hi > self.lo) or self.is_full

    @property
    def complement(self) -> "S1Interval":
        """Complement of the interior (S1Interval.cs Complement): a singleton
        complements to full; otherwise swap endpoints."""
        if self.lo == self.hi:
            return S1Interval.full()
        return S1Interval(self.hi, self.lo, True)

    def add_point(self, p: float) -> "S1Interval":
        if p == -PI:
            p = PI
        if self.fast_contains(p):
            return self
        if self.is_empty:
            return S1Interval.from_point(p)
        dlo = S1Interval.positive_distance(p, self.lo)
        dhi = S1Interval.positive_distance(self.hi, p)
        if dlo < dhi:
            return S1Interval(p, self.hi)
        return S1Interval(self.lo, p)

    def expanded(self, radius: float) -> "S1Interval":
        if self.is_empty:
            return self
        if self.length + 2 * radius >= 2 * PI - 1e-15:
            return S1Interval.full()
        lo = math.remainder(self.lo - radius, 2 * PI)
        hi = math.remainder(self.hi + radius, 2 * PI)
        if lo == -PI:
            lo = PI
        return S1Interval(lo, hi)

    def union(self, y: "S1Interval") -> "S1Interval":
        if y.is_empty:
            return self
        if self.fast_contains(y.lo):
            if self.fast_contains(y.hi):
                if self.contains_interval(y):
                    return self
                return S1Interval.full()
            return S1Interval(self.lo, y.hi, True)
        if self.fast_contains(y.hi):
            return S1Interval(y.lo, self.hi, True)
        if self.is_empty or y.fast_contains(self.lo):
            return y
        dlo = S1Interval.positive_distance(y.hi, self.lo)
        dhi = S1Interval.positive_distance(self.hi, y.lo)
        if dlo < dhi:
            return S1Interval(y.lo, self.hi, True)
        return S1Interval(self.lo, y.hi, True)

    def intersection(self, y: "S1Interval") -> "S1Interval":
        if y.is_empty:
            return S1Interval.empty()
        if self.fast_contains(y.lo):
            if self.fast_contains(y.hi):
                return y if y.length < self.length else self
            return S1Interval(y.lo, self.hi, True)
        if self.fast_contains(y.hi):
            return S1Interval(self.lo, y.hi, True)
        if y.fast_contains(self.lo):
            return self
        return S1Interval.empty()


class LatLngRect:
    """Latitude-longitude rectangle (radians). S2LatLngRect.cs semantics."""

    __slots__ = ("lat", "lng")

    def __init__(self, lat: R1Interval, lng: S1Interval):
        self.lat = lat
        self.lng = lng

    def __repr__(self) -> str:
        return f"LatLngRect(lat=[{self.lat.lo},{self.lat.hi}], lng=[{self.lng.lo},{self.lng.hi}])"

    @staticmethod
    def empty() -> "LatLngRect":
        return LatLngRect(R1Interval.empty(), S1Interval.empty())

    @staticmethod
    def full() -> "LatLngRect":
        return LatLngRect(R1Interval(-PI / 2, PI / 2), S1Interval.full())

    @staticmethod
    def from_point_pair(lat1: float, lng1: float, lat2: float, lng2: float) -> "LatLngRect":
        return LatLngRect(R1Interval.from_point_pair(lat1, lat2),
                          S1Interval.from_point_pair(lng1, lng2))

    @staticmethod
    def from_point(lat: float, lng: float) -> "LatLngRect":
        """S2LatLngRect.cs:285-289."""
        return LatLngRect(R1Interval(lat, lat), S1Interval(lng, lng))

    @staticmethod
    def from_center_size(center_lat: float, center_lng: float,
                         size_lat: float, size_lng: float) -> "LatLngRect":
        """S2LatLngRect.cs:278-281: FromPoint(center).Expanded(size/2)."""
        return LatLngRect.from_point(center_lat, center_lng).expanded(
            size_lat * 0.5, size_lng * 0.5)

    @property
    def is_empty(self) -> bool:
        return self.lat.is_empty

    @property
    def is_full(self) -> bool:
        return (self.lat.lo == -PI / 2 and self.lat.hi == PI / 2 and self.lng.is_full)

    @property
    def is_valid(self) -> bool:
        """S2LatLngRect.cs:67-75."""
        return (abs(self.lat.lo) <= PI / 2 and abs(self.lat.hi) <= PI / 2
                and self.lng.is_valid and self.lat.is_empty == self.lng.is_empty)

    def get_center(self) -> tuple[float, float]:
        return (self.lat.center, self.lng.center)

    def get_vertex(self, k: int) -> tuple[float, float]:
        """CCW order SW, SE, NE, NW (S2LatLngRect.cs:352-365)."""
        lat = self.lat.lo if k < 2 else self.lat.hi
        lng = self.lng.lo if k in (0, 3) else self.lng.hi
        return (lat, lng)

    def interior_contains_latlng(self, lat: float, lng: float) -> bool:
        return (self.lat.interior_contains(lat)
                and self.lng.interior_contains(lng))

    def __eq__(self, other) -> bool:
        return (isinstance(other, LatLngRect)
                and self.lat.lo == other.lat.lo and self.lat.hi == other.lat.hi
                and self.lng.lo == other.lng.lo and self.lng.hi == other.lng.hi)

    def __hash__(self):
        return hash((self.lat.lo, self.lat.hi, self.lng.lo, self.lng.hi))

    def approx_equals(self, other: "LatLngRect", eps: float = 1e-13) -> bool:
        return (abs(self.lat.lo - other.lat.lo) <= eps
                and abs(self.lat.hi - other.lat.hi) <= eps
                and abs(self.lng.lo - other.lng.lo) <= eps
                and abs(self.lng.hi - other.lng.hi) <= eps)

    def convolve_with_cap(self, angle_rad: float) -> "LatLngRect":
        """Minkowski sum with a cap: union of vertex-cap rect bounds
        (S2LatLngRect.cs:724-740)."""
        from .cap import Cap
        height = 2 * math.sin(angle_rad / 2) ** 2  # 1 - cos
        r = self
        for k in range(4):
            lat, lng = self.get_vertex(k)
            x = math.cos(lat) * math.cos(lng)
            y = math.cos(lat) * math.sin(lng)
            z = math.sin(lat)
            vertex_cap = Cap((x, y, z), height)
            r = r.union(vertex_cap.rect_bound())
        return r

    def contains_latlng(self, lat: float, lng: float) -> bool:
        return self.lat.contains(lat) and self.lng.contains(lng)

    def contains_point(self, x: float, y: float, z: float) -> bool:
        lat = math.atan2(z, math.hypot(x, y))
        lng = math.atan2(y, x)
        return self.contains_latlng(lat, lng)

    def contains_rect(self, other: "LatLngRect") -> bool:
        return (self.lat.contains_interval(other.lat)
                and self.lng.contains_interval(other.lng))

    def interior_contains_rect(self, other: "LatLngRect") -> bool:
        return (self.lat.interior_contains_interval(other.lat)
                and self.lng.interior_contains_interval(other.lng))

    def intersects_rect(self, other: "LatLngRect") -> bool:
        return self.lat.intersects(other.lat) and self.lng.intersects(other.lng)

    def interior_intersects_rect(self, other: "LatLngRect") -> bool:
        return (self.lat.interior_intersects(other.lat)
                and self.lng.interior_intersects(other.lng))

    def add_point(self, lat: float, lng: float) -> "LatLngRect":
        return LatLngRect(self.lat.add_point(lat), self.lng.add_point(lng))

    def union(self, other: "LatLngRect") -> "LatLngRect":
        return LatLngRect(self.lat.union(other.lat), self.lng.union(other.lng))

    def intersection(self, other: "LatLngRect") -> "LatLngRect":
        lat = self.lat.intersection(other.lat)
        lng = self.lng.intersection(other.lng)
        if lat.is_empty or lng.is_empty:
            return LatLngRect.empty()
        return LatLngRect(lat, lng)

    def expanded(self, lat_margin: float, lng_margin: float) -> "LatLngRect":
        """Expand by margins; lat clamped, lng wrapped (S2LatLngRect.cs:664-686)."""
        lat = self.lat.expanded(lat_margin)
        lng = self.lng.expanded(lng_margin)
        if lat.is_empty or lng.is_empty:
            return LatLngRect.empty()
        return LatLngRect(lat.intersection(R1Interval(-PI / 2, PI / 2)), lng)

    def get_distance_latlng(self, lat: float, lng: float) -> float:
        """Min distance (radians, along the sphere) from a (lat, lng) radians
        point to the rect — boundary and interior (S2LatLngRect.cs:381-409)."""
        a = self
        if a.is_empty:
            raise ValueError("distance from empty rect")
        if a.lng.contains(lng):
            return max(0.0, max(lat - a.lat.hi, a.lat.lo - lat))
        # nearest meridian edge: lng.hi if p is in [lng.hi, complement center],
        # else lng.lo (S2LatLngRect.cs:391-398)
        interval = S1Interval.from_point_pair(a.lng.hi, a.lng.complement.center)
        a_lng = a.lng.hi if interval.contains(lng) else a.lng.lo
        from . import sphere
        lo = _latlng_to_xyz(a.lat.lo, a_lng)
        hi = _latlng_to_xyz(a.lat.hi, a_lng)
        n = _latlng_to_xyz(0.0, a_lng - PI / 2)  # loCrossHi
        p = _latlng_to_xyz(lat, lng)
        return float(sphere.point_edge_distance_with_normal(
            np.float64(p[0]), np.float64(p[1]), np.float64(p[2]),
            np.float64(lo[0]), np.float64(lo[1]), np.float64(lo[2]),
            np.float64(hi[0]), np.float64(hi[1]), np.float64(hi[2]),
            np.float64(n[0]), np.float64(n[1]), np.float64(n[2])))

    def get_distance_rect(self, b: "LatLngRect") -> float:
        """Min distance (radians) to another non-empty rect
        (S2LatLngRect.cs:415-484)."""
        a = self
        if a.is_empty or b.is_empty:
            raise ValueError("distance with empty rect")
        if a.lng.intersects(b.lng):
            if a.lat.intersects(b.lat):
                return 0.0
            # shortest path runs along a meridian between the lat intervals
            if a.lat.lo > b.lat.hi:
                lo, hi = b.lat.hi, a.lat.lo
            else:
                lo, hi = a.lat.hi, b.lat.lo
            return hi - lo
        # disjoint lng intervals: closest points lie on the nearer pair of
        # meridian edges; test all four point-vs-edge combinations
        lo_hi = S1Interval.from_point_pair(a.lng.lo, b.lng.hi)
        hi_lo = S1Interval.from_point_pair(a.lng.hi, b.lng.lo)
        if lo_hi.length < hi_lo.length:
            a_lng, b_lng = a.lng.lo, b.lng.hi
        else:
            a_lng, b_lng = a.lng.hi, b.lng.lo
        from . import sphere
        a_lo = _latlng_to_xyz(a.lat.lo, a_lng)
        a_hi = _latlng_to_xyz(a.lat.hi, a_lng)
        a_n = _latlng_to_xyz(0.0, a_lng - PI / 2)
        b_lo = _latlng_to_xyz(b.lat.lo, b_lng)
        b_hi = _latlng_to_xyz(b.lat.hi, b_lng)
        b_n = _latlng_to_xyz(0.0, b_lng - PI / 2)

        def edge_dist(p, lo, hi, n):
            return float(sphere.point_edge_distance_with_normal(
                np.float64(p[0]), np.float64(p[1]), np.float64(p[2]),
                np.float64(lo[0]), np.float64(lo[1]), np.float64(lo[2]),
                np.float64(hi[0]), np.float64(hi[1]), np.float64(hi[2]),
                np.float64(n[0]), np.float64(n[1]), np.float64(n[2])))

        return min(edge_dist(a_lo, b_lo, b_hi, b_n),
                   edge_dist(a_hi, b_lo, b_hi, b_n),
                   edge_dist(b_lo, a_lo, a_hi, a_n),
                   edge_dist(b_hi, a_lo, a_hi, a_n))

    def contains_points(self, x, y, z) -> np.ndarray:
        """Vectorized point containment over xyz arrays (the hot-path
        bbox pre-filter, S2LatLngRect.cs:772-775).

        Unless the latitude range is full, a latitude screen without
        trigonometry runs first, over cache-sized blocks: points of norm
        in (1/2, 2) whose z / |p| lies clearly outside [sin(lo), sin(hi)]
        are rejected, and the exact atan2 test runs on the rest only.  The
        screen's 1e-9 margin is far above the rounding of either test, so
        it never rejects a point the exact test accepts."""
        x, y, z = np.broadcast_arrays(np.asarray(x, dtype=np.float64),
                                      np.asarray(y, dtype=np.float64),
                                      np.asarray(z, dtype=np.float64))
        if self.lat.lo <= -PI / 2 and self.lat.hi >= PI / 2:
            return self._contains_exact(x, y, z)
        shape = x.shape
        x, y, z = x.ravel(), y.ravel(), z.ravel()
        result = np.zeros(len(x), dtype=bool)
        z_lo = math.sin(self.lat.lo) - _SCREEN_MARGIN
        z_hi = math.sin(self.lat.hi) + _SCREEN_MARGIN
        for s in range(0, len(x), _SCREEN_BLOCK):
            bx, by, bz = x[s:s + _SCREEN_BLOCK], y[s:s + _SCREEN_BLOCK], z[s:s + _SCREEN_BLOCK]
            r = bx * bx
            r += by * by
            r += bz * bz
            screened = (r > 0.25) & (r < 4.0)
            np.sqrt(r, out=r)
            np.divide(bz, r, out=r)
            keep = ~screened | ((r >= z_lo) & (r <= z_hi))
            idx = np.flatnonzero(keep) + s
            result[idx] = self._contains_exact(x[idx], y[idx], z[idx])
        return result.reshape(shape)

    def _contains_exact(self, x, y, z) -> np.ndarray:
        lat = np.arctan2(z, np.hypot(x, y))
        lng = np.arctan2(y, x)
        lat_ok = (lat >= self.lat.lo) & (lat <= self.lat.hi)
        lng = np.where(lng == -PI, PI, lng)
        if self.lng.is_inverted:
            lng_ok = ((lng >= self.lng.lo) | (lng <= self.lng.hi)) & (not self.lng.is_empty)
        else:
            lng_ok = (lng >= self.lng.lo) & (lng <= self.lng.hi)
        return lat_ok & lng_ok


class RectBounder:
    """Running lat/lng bbox of a vertex chain with the edge-interior
    latitude-extreme correction (S2EdgeUtil.cs:627-705).  Associative via
    LatLngRect.union — usable as a two-phase Spark aggregate."""

    def __init__(self) -> None:
        self.bound = LatLngRect.empty()
        self._a: tuple[float, float, float] | None = None
        self._a_latlng: tuple[float, float] | None = None

    def add_point(self, x: float, y: float, z: float) -> None:
        lat = math.atan2(z, math.hypot(x, y))
        lng = math.atan2(y, x)
        if self.bound.is_empty:
            self.bound = self.bound.add_point(lat, lng)
        else:
            alat, alng = self._a_latlng
            self.bound = self.bound.union(LatLngRect.from_point_pair(alat, alng, lat, lng))
            ax, ay, az = self._a
            nx, ny, nz = _robust_cross_scalar(ax, ay, az, x, y, z)
            dirx = ny  # cross((nx,ny,nz), (0,0,1)) = (ny, -nx, 0)
            diry = -nx
            da = dirx * ax + diry * ay
            db = dirx * x + diry * y
            if da * db < 0:
                nnorm = math.sqrt(nx * nx + ny * ny + nz * nz)
                abs_lat = math.acos(abs(nz / nnorm))
                latint = self.bound.lat
                if da < 0:
                    latint = R1Interval(latint.lo, max(abs_lat, latint.hi))
                else:
                    latint = R1Interval(min(-abs_lat, latint.lo), latint.hi)
                self.bound = LatLngRect(latint, self.bound.lng)
        self._a = (x, y, z)
        self._a_latlng = (lat, lng)


def _latlng_to_xyz(lat: float, lng: float) -> tuple[float, float, float]:
    """S2LatLng.ToPoint for scalar radians (S2LatLng.cs:170-178)."""
    return (math.cos(lat) * math.cos(lng),
            math.cos(lat) * math.sin(lng),
            math.sin(lat))


def _robust_cross_scalar(ax, ay, az, bx, by, bz):
    sx, sy, sz = ax + bx, ay + by, az + bz
    dx, dy, dz = bx - ax, by - ay, bz - az
    cx = sy * dz - sz * dy
    cy = sz * dx - sx * dz
    cz = sx * dy - sy * dx
    if cx == 0 and cy == 0 and cz == 0:
        from .sphere import ortho
        ox, oy, oz = ortho(np.array([ax]), np.array([ay]), np.array([az]))
        return float(ox[0]), float(oy[0]), float(oz[0])
    return cx, cy, cz
