"""Golden-fixture test: decode the reference's bundled monaco.pbf and assert
the exact corpus statistics the reference asserts in its own test suite
(/root/reference/test/pbf_reader.test.cpp:19-119)."""

import pytest

from conftest import MONACO, requires_monaco
from tilemaker_spark.kernels import pbf

pytestmark = requires_monaco


@pytest.fixture(scope="module")
def decoded():
    return pbf.decode_file(MONACO)


def test_header_bbox(decoded):
    header, _ = decoded
    minlon, minlat, maxlon, maxlat = header["bbox"]
    assert minlon == pytest.approx(7.409205, abs=1e-9)
    assert minlat == pytest.approx(43.72335, abs=1e-9)
    assert maxlon == pytest.approx(7.448637, abs=1e-9)
    assert maxlat == pytest.approx(43.75169, abs=1e-9)


def test_corpus_statistics(decoded):
    _, ents = decoded
    assert len(ents.nodes) == 30477
    assert len(ents.ways) == 4825
    assert len(ents.relations) == 285
    assert ents.n_groups == 6
    assert ents.n_strings == 8236


def test_blob_index(decoded):
    refs = pbf.scan_blobs(MONACO)
    assert len(refs) == 7  # 1 header + 6 data blocks
    assert refs[0].kind == "OSMHeader"
    assert all(r.kind == "OSMData" for r in refs[1:])


def test_golden_node(decoded):
    _, ents = decoded
    node = next(n for n in ents.nodes if n[0] == 21911886)
    assert node[3].get("highway") == "crossing"
    assert 7.40 < node[1] < 7.45 and 43.72 < node[2] < 43.76


def test_golden_way(decoded):
    _, ents = decoded
    way = next(w for w in ents.ways if w[0] == 4224978)
    assert way[2].get("sport") == "soccer"
    assert len(way[1]) == 5
    assert way[1][0] == way[1][4] == 25178088  # closed
    assert way[1][2] == 25178045


def test_golden_relation(decoded):
    _, ents = decoded
    rel = next(r for r in ents.relations if r[0] == 1124039)
    assert len(rel[1]) == 17
    assert rel[1][0][0] == pbf.MEMBER_NODE
    assert rel[1][2][0] == pbf.MEMBER_WAY
    assert rel[1][16][0] == pbf.MEMBER_RELATION

