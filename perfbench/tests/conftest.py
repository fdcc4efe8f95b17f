import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


@pytest.fixture(scope="session")
def spark():
    import harness  # noqa: PLC0415

    harness.host_env()
    s = harness.start_spark("perfbench-tests")
    yield s
    harness.stop_spark(s)
