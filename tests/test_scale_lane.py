"""The scale lane (scripts/scale_experiment.py) at toy size: both
corpus variants synthesize, and every op builds and drains through
bench.measure. The JVM gate is not called: this session's own JVM is
alive."""

from __future__ import annotations

import importlib.util
import pathlib

import bench

from .conftest import SF_DIR

_SCRIPT = pathlib.Path(__file__).parents[1] / "scripts" / "scale_experiment.py"


def test_scale_lane_ops(spark, tmp_path):
    """Every op runs once on the dup-heavy corpus; the low-duplication
    corpus runs dedup_exact."""
    spec = importlib.util.spec_from_file_location("scale_experiment", _SCRIPT)
    scale = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scale)
    n_src = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    for lowdup in (False, True):
        d = tmp_path / f"lowdup_{lowdup}"
        scale.synthesize(spark, 2, SF_DIR, str(d / "documents"), lowdup)
        scale.synthesize_vectors(spark, 2, SF_DIR, str(d / "embeddings"))
        assert spark.read.parquet(str(d / "documents")).count() == 2 * n_src
        ops = ["dedup_exact"] if lowdup else list(scale.OPS)
        for name in ops:
            fn, mode = scale.OPS[name]
            secs, rows = bench.measure(spark, fn, mode, str(d))
            assert isinstance(secs, float), name
            assert rows is not None, name
            if name == "dedup_exact":
                assert rows > 0
