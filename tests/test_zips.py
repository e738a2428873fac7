"""S5 zip-archive source."""

from __future__ import annotations

import io
import os
import zipfile
from pathlib import Path

import pytest

from who_owns_mass_processing_spark.sources.zips import read_zip_entries


@pytest.fixture(scope="module")
def zip_dir(tmp_path_factory, spark, synth_small):
    """Two zips of real synthetic image payloads + a decoy text entry."""
    images = spark.read.parquet(synth_small["images"]).limit(6).collect()
    root = tmp_path_factory.mktemp("zips")
    for z in range(2):
        p = os.path.join(str(root), f"shard{z}.zip")
        with zipfile.ZipFile(p, "w") as zf:
            for r in images[z * 3 : z * 3 + 3]:
                zf.writestr(f"imgs/{r.image_id}.{r.fmt}", bytes(r.bytes))
            zf.writestr("README.txt", b"not an image")
    return str(root), {r.image_id: bytes(r.bytes) for r in images}


def test_zip_entries_roundtrip(spark, zip_dir):
    root, originals = zip_dir
    df = read_zip_entries(spark, root)
    rows = df.collect()
    assert len(rows) == 8  # 6 images + 2 READMEs
    by_entry = {r.entry: r for r in rows if r.entry.startswith("imgs/")}
    assert len(by_entry) == 6
    for entry, r in by_entry.items():
        image_id = entry.split("/")[1].rsplit(".", 1)[0]
        assert bytes(r.bytes) == originals[image_id]  # byte-exact extraction
        assert r.size == len(originals[image_id])


def test_zip_entry_pattern_filter(spark, zip_dir):
    root, _ = zip_dir
    pngs = read_zip_entries(spark, root, pattern="imgs/*").collect()
    assert len(pngs) == 6
    txt = read_zip_entries(spark, root, pattern="*.txt").collect()
    assert len(txt) == 2


def test_zip_entries_feed_signatures(spark, zip_dir):
    """Extracted payloads decode through the normal signature path."""
    from pyspark.sql import functions as F

    from who_owns_mass_processing_spark.functions.images import image_meta_udf

    root, _ = zip_dir
    entries = read_zip_entries(spark, root, pattern="imgs/*")
    meta = image_meta_udf()
    out = entries.select("entry", meta(F.col("bytes")).alias("m")).collect()
    assert len(out) == 6
    assert all(r.m.w > 0 and r.m.h > 0 for r in out)


def test_pyfiles_zip_importable(tmp_path):
    """dist zip for spark-submit --py-files: package imports from the
    archive alone (the executor-side contract)."""
    import subprocess
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from make_pyfiles import build

    out = build(str(tmp_path / "pkg.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import who_owns_mass_processing_spark.config as c; "
        "print(c.DedupeConfig().fingerprint())" % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    assert r.returncode == 0, r.stderr
    assert len(r.stdout.strip()) == 16
