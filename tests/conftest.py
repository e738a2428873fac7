from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from who_owns_mass_processing_spark.session import get_spark

    s = get_spark(app_name="pytest", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def synth_small(tmp_path_factory):
    """100-base synthetic images + golden tables, written once per session."""
    from who_owns_mass_processing_spark.synth import write_images_parquet

    root = tmp_path_factory.mktemp("synth")
    ip, gp, ga = write_images_parquet(str(root), n_base=100, seed=42)
    return {"images": ip, "golden_pairs": gp, "golden_assignments": ga, "root": str(root)}
