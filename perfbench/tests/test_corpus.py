"""The mapreduce_files corpus and its external map/reduce commands."""

import hashlib
import os
import shutil
import statistics
import subprocess
from pathlib import Path

import corpus


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def test_same_seed_writes_identical_files(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), seed=11)
    b = corpus.generate(str(tmp_path / "b"), seed=11)
    c = corpus.generate(str(tmp_path / "c"), seed=12)
    assert len(a) == corpus.N_FILES
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_sizes_are_spread_around_the_median(tmp_path):
    sizes = [os.path.getsize(p) for p in corpus.generate(str(tmp_path), seed=5)]
    assert 0.8 * corpus.MEDIAN_BYTES < statistics.median(sizes) < 1.2 * corpus.MEDIAN_BYTES
    assert max(sizes) > 2 * min(sizes)


def test_external_map_and_reduce_reproduce_python_counts(tmp_path):
    paths = corpus.generate(str(tmp_path / "in"), seed=3)[:5]
    gathered_dir = tmp_path / "gathered"
    gathered_dir.mkdir()
    for path in paths:
        workdir = tmp_path / "map"
        workdir.mkdir()
        subprocess.run(f"{corpus.MAP_CMD} {path}", shell=True, cwd=workdir, check=True)
        stem = Path(path).stem
        os.rename(workdir / corpus.MAP_OUTPUT, gathered_dir / f"{stem}.{corpus.MAP_OUTPUT}")
        shutil.rmtree(workdir)
    out = subprocess.run(
        corpus.REDUCE_CMD, shell=True, cwd=gathered_dir, check=True, capture_output=True
    ).stdout
    gathered, counts = corpus.parse_reduce_output(out)
    assert gathered == len(paths)
    assert counts == corpus.expected_counts(paths)
