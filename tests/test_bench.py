"""bench.py's warmup-dir choice: a smaller sibling fixture or nothing."""

from __future__ import annotations

import os
import shutil

import bench


def _fixture(path, n_bytes: int):
    path.mkdir()
    (path / "documents.parquet").write_bytes(b"x" * n_bytes)
    return path


def test_warmup_dir_picks_smallest_smaller_sibling(tmp_path):
    small = _fixture(tmp_path / "sf0.001", 10)
    _fixture(tmp_path / "sf0.01", 100)
    target = _fixture(tmp_path / "sf0.1", 1000)
    _fixture(tmp_path / "sf10", 100_000)
    assert bench._warmup_dir(str(target)) == str(small)
    # trailing slash on the target names the same dir
    assert bench._warmup_dir(str(target) + "/") == str(small)


def test_warmup_dir_is_none_when_target_is_smallest(tmp_path):
    target = _fixture(tmp_path / "sf0.001", 10)
    _fixture(tmp_path / "sf0.1", 1000)
    _fixture(tmp_path / "sf10", 100_000)
    assert bench._warmup_dir(str(target)) is None


def test_warmup_dir_skips_sibling_vanishing_after_glob(tmp_path, monkeypatch):
    """A sibling deleted between the glob and its stat is skipped, not
    raised -- the race hits os.path.samefile, which must sit inside the
    OSError guard."""
    target = _fixture(tmp_path / "sf0.1", 1000)
    ghost = _fixture(tmp_path / "sf0.01", 100)
    real_isdir = os.path.isdir

    def racing_isdir(p):
        found = real_isdir(p)
        if p == str(ghost):
            shutil.rmtree(ghost)
        return found

    monkeypatch.setattr(os.path, "isdir", racing_isdir)
    assert bench._warmup_dir(str(target)) is None
