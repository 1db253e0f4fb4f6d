import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_TESTS)
sys.path.insert(0, _ROOT)
# Python workers resolve by-reference-pickled functions (e.g. a
# @field_validator defined in a test module) via PYTHONPATH — add the
# tests dir BEFORE the JVM starts, like --py-files would on a cluster
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_TESTS, _ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


@pytest.fixture(scope="session")
def spark():
    from satya_spark.session import get_spark

    s = get_spark(app_name="satya-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()
