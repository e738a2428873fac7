"""The traced benchmark run (`perfbench/run.py --trace 1`) wraps operator
functions by module attribute (`perfbench/spans.py`), so renaming or
removing one of those names breaks the traced run at patch time.  This
installs the patches without a Spark session and removes them again."""
import __spark_entry__
from perfbench.spans import Tracer, install
from who_owns_mass_processing_spark.operators import verify


def test_every_traced_name_exists():
    originals = {
        name: getattr(verify, name)
        for name in ("build_jaccard_mapside_bvar", "build_containment_mapside_bvar",
                     "build_winnow_mapside_bvar")
    }
    tracer = Tracer(None)
    try:
        install(tracer, __spark_entry__)  # AttributeError on a missing name
        assert all(getattr(verify, n) is not f for n, f in originals.items())
    finally:
        tracer.unpatch()
    assert all(getattr(verify, n) is f for n, f in originals.items())
