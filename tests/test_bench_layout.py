"""bench.py's layout rewrite must fail loudly: its callers time the
directory it returns, so a silent fallback to the raw layout would
measure a different scan parallelism than the one reported."""

import os
import shutil
import sys

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_normalize_layout_raises_on_a_corrupt_table(tmp_path):
    sf_dir = tmp_path / f"sf_corrupt_{os.getpid()}"
    sf_dir.mkdir()
    (sf_dir / "lineitem.parquet").write_bytes(b"not a parquet file")
    out_dir = os.path.join(REPO, ".bench_layout", "v2-" + sf_dir.name)
    try:
        with pytest.raises(pa.ArrowInvalid):
            bench.normalize_layout(str(sf_dir))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
