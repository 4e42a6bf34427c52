"""Driver-side memo + disk cache for covering computations.

A covering is a pure function of (region geometry, coverer parameters) —
an index-build artifact, not data — so recomputing it on every query
construction is wasted serial driver time (an Amdahl term: it never
parallelizes).  This generalizes the cache spatial_join.py has carried
since round 3 for polygon coverings to any region kind (rects, caps,
polylines, radius-expanded unions): callers provide a stable key and a
compute thunk returning a JSON-serializable list of rows.

The disk tier lives under <repo>/.cache/coverings (gitignored), the same
location and lifecycle as the polygon covering cache; in production this
would be shared storage next to the other index artifacts.  Disk keys of
both caches include kernel_digest(), a hash of the kernel sources that
decide a covering, so entries written by other kernel code are never read.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import tempfile

_MEMO: dict[str, list] = {}
_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DIR = os.path.join(os.path.dirname(_PKG), ".cache", "coverings")
_COVERING_SOURCES = ("coverer", "loops", "cell", "cellid", "cellunion", "intervals")


@functools.cache
def kernel_digest() -> str:
    """Hash of the kernel sources that decide a covering."""
    h = hashlib.sha256()
    for name in _COVERING_SOURCES:
        with open(os.path.join(_PKG, "kernel", name + ".py"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _digest(key) -> str:
    return hashlib.sha256((kernel_digest() + repr(key)).encode()).hexdigest()[:32]


def write_json(path: str, rows) -> None:
    """Write rows as JSON through a temp file private to this writer, in
    the same directory, then rename it over path: concurrent writers of one
    key never interleave, and readers see a whole file or none.  Disk
    errors are ignored (the cache is an optimization)."""
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    except OSError:
        return
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, path)
    except OSError:
        pass
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def cached_rows(key, compute):
    """Rows for `key`, from memo, disk, or `compute()` (list of lists/tuples).
    Returned rows are lists (JSON round-trip normalizes tuples)."""
    dig = _digest(key)
    rows = _MEMO.get(dig)
    if rows is not None:
        return rows
    path = os.path.join(_DIR, "r_" + dig + ".json")
    try:
        with open(path) as f:
            rows = json.load(f)
    except (OSError, ValueError):
        rows = None
    if rows is None:
        rows = [list(r) for r in compute()]
        write_json(path, rows)
    _MEMO[dig] = rows
    return rows
