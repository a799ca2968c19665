"""PBF source: encode a hand-built element set to PBF, read it back
distributed, compare with what was written. This pins the wire format
(varint/zigzag/delta/string-table), the mapping tag pushdown and the
decode-once pin without external fixtures."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from imposm3_spark.mapping.config import load_mapping_str
from imposm3_spark.sources.osm_xml import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from imposm3_spark.sources.pbf import (
    decode_primitive_block,
    enc_field,
    enc_packed,
    enc_zigzag,
    read_pbf,
    scan_blobs,
    write_pbf,
)

META_A = (501, "alice", 3, 1321229471, 9000)
META_B = (502, "bob", 1, 1321229500, 9001)


def _grid_id(x: int, y: int) -> int:
    return y * 7 + x + 1


# 7x5 grid of bare nodes (ids 1..35), then tagged nodes with metadata; at
# block_size=5 the grid fills exactly 7 blobs, so no dense batch mixes
# nodes with and without metadata (DenseInfo would encode the holes as 0)
GRID = [
    (_grid_id(x, y), 10.0 + 0.001 * x, 50.0 + 0.001 * y, {})
    for y in range(5)
    for x in range(7)
]
TAGGED = [
    (101, 10.0015, 50.0005, {"amenity": "cafe", "name": "Corner", "source": "survey"}, META_A),
    (102, 10.0025, 50.0005, {"amenity": "bench"}, META_B),  # value no table maps
    (103, 10.0035, 50.0005, {"highway": "bus_stop", "name": "Stop"}, META_A),
    (104, 10.0045, 50.0005, {"created_by": "JOSM"}, META_B),  # only unmapped keys
]
NODES = GRID + TAGGED
OUTER = [_grid_id(3, 0), _grid_id(6, 0), _grid_id(6, 4), _grid_id(3, 4), _grid_id(3, 0)]
INNER = [_grid_id(4, 1), _grid_id(5, 1), _grid_id(5, 3), _grid_id(4, 3), _grid_id(4, 1)]
WAYS = [
    # open way matching both sub-mappings of one table: two road rows
    (18001, [1, 2, 3, 4], {"highway": "residential", "railway": "tram", "name": "Main"}, META_A),
    (18002, [8, 9, 10], {"highway": "footway"}),
    (18003, [15, 16, 23, 22, 15], {"building": "yes", "source": "survey"}, META_B),
    (18004, OUTER, {}, META_A),
    (18005, INNER, {}),
]
RELATIONS = [
    (
        301,
        [(18004, 1, "outer"), (18005, 1, "inner")],
        {"type": "multipolygon", "landuse": "grass", "note": "x"},
        META_B,
    ),
    (302, [(103, 0, "stop"), (18001, 1, "")], {"type": "route", "route": "bus", "ref": "7"}),
]

GEO_MAPPING = """
tables:
  pois:
    type: point
    mapping:
      amenity: [cafe]
      highway: [bus_stop]
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: geometry}
      - {name: name, type: string, key: name}
      - {name: type, type: mapping_value}
  roads:
    type: linestring
    mappings:
      roads:
        mapping:
          highway: [residential]
      railway:
        mapping:
          railway: [tram]
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: geometry}
      - {name: name, type: string, key: name}
      - {name: type, type: mapping_value}
  buildings:
    type: polygon
    mapping:
      building: [__any__]
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: validated_geometry}
      - {name: type, type: mapping_value}
  landusages:
    type: polygon
    mapping:
      landuse: [grass]
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: validated_geometry}
      - {name: type, type: mapping_value}
"""

ROUTE_MAPPING = """
tables:
  routes:
    type: relation
    relation_types: [route]
    mapping:
      route: [bus]
    columns:
      - {name: osm_id, type: id}
      - {name: ref, type: string, key: ref}
"""


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pbf") / "elements.pbf")
    write_pbf(path, NODES, WAYS, RELATIONS, block_size=5)
    return path


def test_blob_index(pbf_path):
    blobs = scan_blobs(pbf_path)
    assert blobs[0][0] == "OSMHeader"
    assert all(b[0] == "OSMData" for b in blobs[1:])
    assert len(blobs) > 2  # multiple data blocks at block_size=5


def _meta(row):
    return tuple(row["metadata"]) if row["metadata"] else None


def _written_meta(element: tuple, idx: int):
    return element[idx] if len(element) > idx else None


def test_roundtrip(spark, pbf_path):
    n2, w2, r2 = read_pbf(spark, pbf_path)

    # the element schemas exactly, non-null flags included
    assert (n2.schema, w2.schema, r2.schema) == (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA)
    assert n2.count() == len(NODES)
    assert w2.count() == len(WAYS)
    assert r2.count() == len(RELATIONS)

    # coords survive within the PBF 100-nanodegree granularity
    orig = {n[0]: n for n in NODES}
    for row in n2.collect():
        node = orig[row["id"]]
        assert abs(row["lon"] - node[1]) < 1e-7 + 1e-12
        assert abs(row["lat"] - node[2]) < 1e-7 + 1e-12
        assert dict(row["tags"]) == node[3]
        assert _meta(row) == _written_meta(node, 4)

    # tags, refs, members and metadata are exact
    ow = {w[0]: w for w in WAYS}
    for row in w2.collect():
        way = ow[row["id"]]
        assert list(row["refs"]) == way[1]
        assert dict(row["tags"]) == way[2]
        assert _meta(row) == _written_meta(way, 3)

    orels = {r[0]: r for r in RELATIONS}
    for row in r2.collect():
        rel = orels[row["id"]]
        assert [(m["id"], m["type"], m["role"]) for m in row["members"]] == rel[1]
        assert dict(row["tags"]) == rel[2]
        assert _meta(row) == _written_meta(rel, 3)


def _block(strings: list[str], group: bytes) -> bytes:
    """One PrimitiveBlock: string table plus one PrimitiveGroup."""
    table = b"".join(enc_field(1, 2, s.encode()) for s in strings)
    return enc_field(1, 2, table) + enc_field(2, 2, group)


def test_plain_node_id_is_sint64():
    """A plain (non-dense) Node's id is sint64, i.e. zigzag-coded, like
    its lat/lon (osmformat.proto Node)."""

    def node(nid: int, tagged: bool) -> bytes:
        body = enc_field(1, 0, enc_zigzag(nid))
        if tagged:
            body += enc_packed(2, [1]) + enc_packed(3, [2])
        body += enc_field(8, 0, enc_zigzag(500_000_000))
        body += enc_field(9, 0, enc_zigzag(-100_000_000))
        return enc_field(1, 2, body)

    nodes, ways, rels = decode_primitive_block(
        _block(["", "amenity", "cafe"], node(123, True) + node(-7, False))
    )
    assert (ways, rels) == ([], [])
    assert [n[0] for n in nodes] == [123, -7]
    assert nodes[0][1:3] == pytest.approx((-10.0, 50.0))
    assert nodes[0][3] == {"amenity": "cafe"}
    assert nodes[1][3] == {}


def test_way_and_relation_ids_are_int64(spark, tmp_path):
    """Way.id and Relation.id are int64: a negative id (JOSM-edited
    extracts) arrives as the 10-byte varint of its two's complement and
    must decode negative, inside LongType."""
    way = enc_field(1, 0, 2**64 - 5) + enc_packed(8, [enc_zigzag(-1), enc_zigzag(-1)])
    rel = (
        enc_field(1, 0, 2**64 - 9)
        + enc_packed(8, [1])
        + enc_packed(9, [enc_zigzag(-5)])
        + enc_packed(10, [1])
    )
    _, ways, rels = decode_primitive_block(
        _block(["", "outer"], enc_field(3, 2, way) + enc_field(4, 2, rel))
    )
    assert ways == [(-5, [-1, -2], {}, None)]
    assert rels == [(-9, [(-5, 1, "outer")], {}, None)]

    # the writer encodes negative ids the same way, and they reach Spark
    path = str(tmp_path / "negative.pbf")
    write_pbf(
        path,
        [(-1, 1.0, 2.0, {}), (-2, 1.1, 2.1, {})],
        [(-5, [-1, -2], {"highway": "path"})],
        [(-9, [(-5, 1, "outer")], {"type": "multipolygon"})],
    )
    n2, w2, r2 = read_pbf(spark, path)
    assert sorted(r["id"] for r in n2.collect()) == [-2, -1]
    assert [(r["id"], list(r["refs"])) for r in w2.collect()] == [(-5, [-1, -2])]
    assert [r["id"] for r in r2.collect()] == [-9]


def test_pipeline_from_pbf(spark, pbf_path):
    """The import pipeline runs from PBF input: a way matching two
    sub-mappings of one table yields one row per sub-mapping."""
    from imposm3_spark.pipeline.engine import ImportPipeline

    mapping = load_mapping_str(GEO_MAPPING)
    n2, w2, r2 = read_pbf(spark, pbf_path)
    pipe = ImportPipeline(mapping, srid=3857)
    roads = pipe.way_tables(w2, pipe.prepare_coords(n2))["roads"]
    rows = sorted(
        roads.filter(F.col("osm_id") == 18001).collect(), key=lambda r: r["type"]
    )
    assert [r["type"] for r in rows] == ["residential", "tram"]


def test_metadata_roundtrip(spark, tmp_path):
    """Element metadata (element.go:23-29): PBF DenseInfo/Info encode ->
    decode parity for nodes, ways and relations; XML attrs likewise."""
    from imposm3_spark.sources.osm_xml import read_osm_xml

    meta1 = (501, "alice", 3, 1321229471, 9000)
    meta2 = (502, "bob", 1, 1321229500, 9001)
    nodes = [
        (1, 10.0, 50.0, {"amenity": "cafe"}, meta1),
        (2, 10.1, 50.1, {}, meta2),
    ]
    ways = [(100, [1, 2], {"highway": "path"}, meta1)]
    rels = [(200, [(100, 1, "outer")], {"type": "multipolygon"}, meta2)]
    path = str(tmp_path / "meta.pbf")
    write_pbf(path, nodes, ways, rels)
    n2, w2, r2 = read_pbf(spark, path)

    got_n = {r["id"]: tuple(r["metadata"]) for r in n2.collect()}
    assert got_n == {1: meta1, 2: meta2}
    assert tuple(w2.collect()[0]["metadata"]) == meta1
    assert tuple(r2.collect()[0]["metadata"]) == meta2

    # XML attrs parse to the same struct (timestamp -> epoch seconds)
    xml = tmp_path / "meta.osm"
    xml.write_text(
        '<osm version="0.6">'
        '<node id="1" lon="10.0" lat="50.0" uid="501" user="alice" version="3" '
        'timestamp="2011-11-14T00:11:11Z" changeset="9000"/>'
        '<way id="100" uid="502" user="bob" version="1" '
        'timestamp="2011-11-14T00:11:40Z" changeset="9001">'
        '<nd ref="1"/></way>'
        "</osm>"
    )
    import calendar, time as _t

    ts1 = calendar.timegm(_t.strptime("2011-11-14T00:11:11Z", "%Y-%m-%dT%H:%M:%SZ"))
    nx, wx, _rx = read_osm_xml(spark, xml)
    assert tuple(nx.collect()[0]["metadata"]) == (501, "alice", 3, ts1, 9000)
    assert wx.collect()[0]["metadata"]["user_name"] == "bob"

    # fixtures without metadata stay NULL (optional column contract)
    plain = tmp_path / "plain.pbf"
    write_pbf(str(plain), [(7, 1.0, 2.0, {})], [], [])
    n3, _, _ = read_pbf(spark, str(plain))
    assert n3.collect()[0]["metadata"] is None


def test_mapping_pushdown_matches_expression_prefilter(spark, pbf_path):
    """read_pbf(mapping=...) must drop exactly the tags that
    tag_prefilter_expr drops — source pushdown and expression prefilter are
    two implementations of one semantic (mapping/filter.go)."""
    from imposm3_spark.mapping.matcher import tag_prefilter_expr

    m = load_mapping_str(GEO_MAPPING)

    plain_n, plain_w, plain_r = read_pbf(spark, pbf_path)
    push_n, push_w, push_r = read_pbf(spark, pbf_path, mapping=m)

    for kind, plain, pushed in (
        ("node", plain_n, push_n),
        ("way", plain_w, push_w),
        ("relation", plain_r, push_r),
    ):
        expr_side = {
            r["id"]: dict(r["t"])
            for r in plain.select(
                "id", tag_prefilter_expr(m, kind, F.col("tags")).alias("t")
            ).collect()
        }
        push_side = {r["id"]: dict(r["tags"]) for r in pushed.collect()}
        assert push_side == expr_side, kind
        # every kind has tags on both sides of the filter
        plain_side = {r["id"]: dict(r["tags"]) for r in plain.collect()}
        assert any(push_side.values()), kind
        assert any(push_side[i] != tags for i, tags in plain_side.items()), kind

    # pushdown keeps row counts (tagless rows remain as coords)
    assert push_n.count() == plain_n.count()
    assert push_w.count() == plain_w.count()


def test_read_pbf_union_prefilter(spark, pbf_path):
    """read_pbf(mapping=[m1, m2]) keeps a tag if ANY mapping keeps it —
    one parse can feed several pipelines (benchimport's geometry + route
    passes) without re-reading the file."""
    geo = load_mapping_str(GEO_MAPPING)
    route = load_mapping_str(ROUTE_MAPPING)

    _, _, rels_geo = read_pbf(spark, pbf_path, mapping=geo)
    _, _, rels_union = read_pbf(spark, pbf_path, mapping=[geo, route])

    def with_key(df, key):
        return df.filter(F.col("tags").getItem(key).isNotNull()).count()

    # the route mapping needs the relation "route" tag; the geometry
    # mapping alone filters it out, the union keeps it
    assert with_key(rels_geo, "route") == 0
    assert with_key(rels_union, "route") > 0
    assert rels_union.count() >= rels_geo.count()


def _canon(value):
    """A collected value as a hashable, order-free form for set comparison."""
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def _rows(df) -> list:
    return sorted((_canon(r.asDict(recursive=True)) for r in df.collect()), key=repr)


def test_read_pbf_decodes_once(spark, pbf_path, tmp_path):
    """Every action after the first reads the pinned decode, not the file:
    once the first table is written, zeroing the PBF changes no table."""
    from imposm3_spark.pipeline.engine import ImportPipeline

    mapping = load_mapping_str(GEO_MAPPING)
    pbf = str(tmp_path / "doomed.pbf")
    shutil.copy(pbf_path, pbf)
    assert len(scan_blobs(pbf)) > 2

    tables = ImportPipeline(mapping, srid=3857).run(*read_pbf(spark, pbf, mapping=mapping))
    names = sorted(tables)
    tables[names[0]].write.parquet(str(tmp_path / names[0]))

    size = os.path.getsize(pbf)
    with open(pbf, "wb") as fh:
        fh.write(b"\0" * size)
    for name in names[1:]:
        tables[name].write.parquet(str(tmp_path / name))

    fresh = ImportPipeline(mapping, srid=3857).run(*read_pbf(spark, pbf_path, mapping=mapping))
    assert sorted(fresh) == names
    for name in names:
        want = _rows(fresh[name])
        assert want, name
        assert _rows(spark.read.parquet(str(tmp_path / name))) == want, name
