"""Disk tier of the covering caches: keys follow the kernel sources, and
writers never share a temp file."""

import json
import os
import shutil

import pytest

from s2spark.operators import spatial_join as sj
from s2spark.plans import covercache

POLY_KEY = ((b"\x00" * 24,), (0,), 64, 3)


def test_source_digest_follows_covering_sources(tmp_path, monkeypatch):
    pkg = tmp_path / "s2spark"
    shutil.copytree(os.path.join(covercache._PKG, "kernel"), pkg / "kernel")
    monkeypatch.setattr(covercache, "_PKG", str(pkg))
    uncached = covercache.kernel_digest.__wrapped__
    assert uncached() == covercache.kernel_digest()
    for name in ("coverer", "loops", "cell", "cellid", "cellunion", "intervals"):
        src = pkg / "kernel" / (name + ".py")
        before = src.read_bytes()
        src.write_bytes(before + b"\n# changed\n")
        assert uncached() != covercache.kernel_digest(), name
        src.write_bytes(before)


def test_changed_source_digest_changes_file_names(tmp_path, monkeypatch):
    monkeypatch.setattr(covercache, "_DIR", str(tmp_path))
    monkeypatch.setattr(sj, "_DISK_CACHE_DIR", str(tmp_path))
    covercache._MEMO.clear()
    rows_key = ("rect", 1.0, 2.0)
    names = []
    for digest in (covercache.kernel_digest(), "0" * 16):
        monkeypatch.setattr(covercache, "kernel_digest", lambda: digest)
        names.append((covercache._digest(rows_key), sj._key_digest(POLY_KEY)))
        covercache.cached_rows(rows_key, lambda: [(1, 2)])
        covercache._MEMO.clear()
        sj._store_disk_covering(POLY_KEY, [(5, 10, True)])
    assert names[0][0] != names[1][0] and names[0][1] != names[1][1]
    assert len(os.listdir(tmp_path)) == 4
    # an entry written under another digest is not read
    assert sj._load_disk_covering(POLY_KEY) == [(5, 10, True)]
    monkeypatch.setattr(covercache, "kernel_digest", lambda: "1" * 16)
    assert sj._load_disk_covering(POLY_KEY) is None


def test_writers_use_private_temp_files(tmp_path, monkeypatch):
    replace = os.replace
    sources = []

    def spy(src, dst):
        sources.append(src)
        replace(src, dst)

    monkeypatch.setattr(covercache.os, "replace", spy)
    path = str(tmp_path / "k.json")
    covercache.write_json(path, [[1]])
    covercache.write_json(path, [[2]])
    monkeypatch.setattr(sj, "_DISK_CACHE_DIR", str(tmp_path))
    sj._store_disk_covering(POLY_KEY, [(5, 10, True)])
    assert len(set(sources)) == 3
    assert all(os.path.dirname(s) == str(tmp_path) for s in sources)
    assert path + ".tmp" not in sources
    with open(path) as f:
        assert json.load(f) == [[2]]
    # a failed write leaves neither its temp file nor a partial entry
    with pytest.raises(TypeError):
        covercache.write_json(path, [[object()]])
    assert not [n for n in os.listdir(tmp_path) if n.endswith(".tmp")]
    with open(path) as f:
        assert json.load(f) == [[2]]
