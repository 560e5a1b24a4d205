"""CheckpointManager: manifest publication."""

import json

import pytest

from pgs_spark.streaming import checkpoint
from pgs_spark.streaming.checkpoint import CheckpointManager


def _state(spark, i):
    return spark.createDataFrame([(i, float(i))], "id long, rank double")


def test_torn_manifest_write_is_never_published(spark, tmp_path, monkeypatch):
    """A crash mid-way through writing manifest 3 leaves manifest 2 as the
    newest published one; the torn document is never read."""
    cp = CheckpointManager(spark, str(tmp_path / "ck"), "fp")
    for i in (1, 2):
        cp.save(_state(spark, i), i, metrics={"delta": 1.0 / i}, lineage=False)
    dump = json.dump

    def torn_dump(obj, f, *a, **kw):
        if obj["iteration"] == 3:
            f.write(json.dumps(obj)[:20])
            raise OSError("disk full")
        dump(obj, f, *a, **kw)

    monkeypatch.setattr(checkpoint.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        cp.save(_state(spark, 3), 3, metrics={"delta": 1.0 / 3}, lineage=False)
    monkeypatch.setattr(checkpoint.json, "dump", dump)

    iteration, state, metrics = cp.resume_point()
    assert iteration == 2 and metrics == {"delta": 0.5}
    assert [tuple(r) for r in state.collect()] == [(2, 2.0)]
    cp.prune(keep_last=1)  # the torn .tmp is not a manifest to prune
    assert [m["iteration"] for m in cp.manifests()] == [2]
