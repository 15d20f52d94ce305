import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
# Spark's Python workers import the package and the benchmark from here
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import harness

    setup = harness.start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield setup.spark
    harness.stop_session(setup.spark)
