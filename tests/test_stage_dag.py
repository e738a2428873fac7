"""StageCatalog.run: declared stage lists, validation, overlap, failure."""
import json
import os
import threading

import pytest

from who_owns_mass_processing_spark.pipeline.checkpoint import StageCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return StageCatalog(spark, str(tmp_path / "stages"), "fp")


def _manifest_stages(cat):
    path = os.path.join(cat.root, "_MANIFEST.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)["stages"]


def test_stage_reading_later_or_unknown_stage_is_rejected(spark, cat):
    def first():
        return spark.range(1)

    def early(later):
        return later

    def later():
        return spark.range(2)

    def typo(frist):
        return frist

    for stages in ([first, early, later], [first, typo]):
        with pytest.raises(ValueError, match="not an earlier stage"):
            cat.run(stages)
        assert _manifest_stages(cat) == {}


def test_independent_stages_overlap_and_dependants_wait(spark, cat):
    barrier = threading.Barrier(2, timeout=60)
    order = []

    def left():
        barrier.wait()  # raises BrokenBarrierError unless `right` runs alongside
        order.append("left")
        return spark.range(3)

    def right():
        barrier.wait()
        order.append("right")
        return spark.range(4)

    def both(left, right):
        order.append("both")
        return left.unionByName(right)

    out = cat.run([left, right, both])
    assert order[-1] == "both" and sorted(order[:2]) == ["left", "right"]
    assert out["both"].count() == 7
    stages = _manifest_stages(cat)
    assert stages["both"]["snapshot_id"] > max(
        stages["left"]["snapshot_id"], stages["right"]["snapshot_id"]
    )


def test_failed_stage_surfaces_and_stops_its_dependants(spark, cat):
    threads_before = threading.active_count()

    def root():
        return spark.range(1)

    def broken(root):
        raise RuntimeError("stage failed")

    def after(broken):
        return broken

    with pytest.raises(RuntimeError, match="stage failed"):
        cat.run([root, broken, after])
    stages = _manifest_stages(cat)
    assert "root" in stages
    assert "broken" not in stages and "after" not in stages
    assert threading.active_count() == threads_before
