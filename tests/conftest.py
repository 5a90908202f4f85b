import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the reference tilemaker checkout, next to this repo, ships this extract
MONACO = os.path.join(os.path.dirname(REPO), "reference", "test",
                      "monaco.pbf")
requires_monaco = pytest.mark.skipif(
    not os.path.exists(MONACO), reason=f"monaco fixture not at {MONACO}")


@pytest.fixture(scope="session")
def spark():
    from tilemaker_spark.session import get_spark
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
