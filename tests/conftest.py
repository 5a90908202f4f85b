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
def synth_pbf(tmp_path_factory):
    """The seed-42, scale-0.02 synthetic extract (sources/synth_osm): the
    Monaco-free stand-in for relation and closure tests.  Its route
    relations 21-24 each list five road ways as members."""
    from tilemaker_spark.sources.synth_osm import write_synth_pbf
    path = str(tmp_path_factory.mktemp("synth_pbf") / "s42.osm.pbf")
    write_synth_pbf(path, seed=42, scale=0.02)
    return path


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
