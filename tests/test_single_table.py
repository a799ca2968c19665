"""single_table + any_any suites: __any__ matching, single id space, area
dispatch, duplicate ids across element kinds, load_all prefilter.

Ported from /root/reference/test/single_table_test.go and any_any_test.go.
"""

import re

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.update import OsmState, apply_batch
from imposm3_spark.elements import REL_ID_OFFSET
from imposm3_spark.geom import py_geom, wkb as wkblib
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osc_xml, read_osm_xml

HSTORE_RE = re.compile(r'"((?:[^"\\]|\\.)*)"=>"((?:[^"\\]|\\.)*)"')


def parse_hstore(s):
    return {
        k.replace('\\"', '"').replace("\\\\", "\\"): v.replace('\\"', '"').replace("\\\\", "\\")
        for k, v in HSTORE_RE.findall(s)
    }


@pytest.fixture(scope="module")
def single(spark):
    mapping = load_mapping("/root/reference/test/single_table_mapping.json")
    nodes, ways, relations = read_osm_xml(spark, "/root/reference/test/single_table.osm")
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, relations).items()}

    changes = read_osc_xml(spark, "/root/reference/test/single_table.osc")
    batch = apply_batch(pipe, OsmState(nodes, ways, relations), tables, changes)
    return tables, batch.tables


def rows_of(t, osm_id):
    return t.filter(F.col("osm_id") == osm_id).collect()


def geom_type(row):
    return wkblib.parse_wkb(bytes(row["geometry"]))["type"]


def geom_length(row):
    parsed = wkblib.parse_wkb(bytes(row["geometry"]))
    return py_geom.line_length(parsed["coords"])


def test_non_mapped_node_missing(single):
    tables, _ = single
    assert rows_of(tables["all"], 10001) == []


def test_mapped_node(single):
    tables, _ = single
    rows = rows_of(tables["all"], 10002)
    assert len(rows) == 1
    assert parse_hstore(rows[0]["tags"]) == {"random": "tag", "but": "mapped", "poi": "unicorn"}


def test_non_mapped_way_missing(single):
    tables, _ = single
    for wid in (20101, 20102, 20103):
        assert rows_of(tables["all"], wid) == []
        assert rows_of(tables["all"], -wid) == []


def test_mapped_way(single):
    tables, _ = single
    rows = rows_of(tables["all"], -20201)
    assert len(rows) == 1
    assert parse_hstore(rows[0]["tags"]) == {"random": "tag", "highway": "yes"}
    assert abs(geom_length(rows[0]) - 111319.5) < 1


def test_non_mapped_closed_way_missing(single):
    tables, _ = single
    assert rows_of(tables["all"], 20301) == []
    assert rows_of(tables["all"], -20301) == []


def test_mapped_closed_way(single):
    tables, _ = single
    rows = rows_of(tables["all"], -20401)
    assert len(rows) == 1
    assert parse_hstore(rows[0]["tags"]) == {"random": "tag", "building": "yes"}


def test_mapped_closed_way_area_yes(single):
    tables, _ = single
    rows = rows_of(tables["all"], -20501)
    assert len(rows) == 1
    assert geom_type(rows[0]) in ("Polygon", "MultiPolygon")


def test_mapped_closed_way_area_no(single):
    tables, _ = single
    rows = rows_of(tables["all"], -20502)
    assert len(rows) == 1
    assert geom_type(rows[0]) == "LineString"


def test_mapped_closed_way_without_area(single):
    # stored twice: linestring AND polygon
    tables, _ = single
    rows = rows_of(tables["all"], -20601)
    assert len(rows) == 2
    assert {geom_type(r) for r in rows} == {"LineString", "Polygon"}


def test_duplicate_ids_node_way_rel(single):
    tables, _ = single
    assert len(rows_of(tables["all"], 31101)) == 1  # node
    way_rows = rows_of(tables["all"], -31101)
    assert len(way_rows) == 2  # line + polygon
    rel_rows = rows_of(tables["all"], REL_ID_OFFSET - 31101)
    assert len(rel_rows) == 1
    assert geom_type(rel_rows[0]) in ("Polygon", "MultiPolygon")


def test_duplicate_ids_after_update(single):
    # single_table_test.go:183-205
    _, updated = single
    assert len(rows_of(updated["all"], 31101)) == 1
    assert len(rows_of(updated["all"], -31101)) == 2
    assert len(rows_of(updated["all"], REL_ID_OFFSET - 31101)) == 1


def test_modified_relation_not_duplicated(single):
    # single_table_test.go:207-214 (#88)
    _, updated = single
    assert len(rows_of(updated["all"], REL_ID_OFFSET - 32901)) == 1


def test_way_geometry_after_node_moved(single):
    # single_table_test.go:216-218
    _, updated = single
    rows = rows_of(updated["all"], -20201)
    assert len(rows) == 1
    assert abs(geom_length(rows[0]) - 222639) < 1


# ---- any_any (load_all + __any__: [__any__]) ----


@pytest.fixture(scope="module")
def anyany(spark):
    mapping = load_mapping("/root/reference/test/any_any_mapping.json")
    nodes, ways, relations = read_osm_xml(spark, "/root/reference/test/any_any.osm")
    pipe = ImportPipeline(mapping, srid=3857)
    return {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, relations).items()}


def test_any_any_inserted_nodes(anyany):
    # any_any_test.go:57-66
    assert rows_of(anyany["all"], 10000) == []  # untagged
    checks = {
        10001: {"random": "tag"},
        10002: {"amenity": "shop"},
        10003: {"random": "tag", "but": "mapped", "amenity": "shop"},
    }
    for osm_id, tags in checks.items():
        rows = rows_of(anyany["all"], osm_id)
        assert len(rows) == 1, osm_id
        assert parse_hstore(rows[0]["tags"]) == tags
    for osm_id in (10002, 10003):
        rows = rows_of(anyany["amenities"], osm_id)
        assert len(rows) == 1, osm_id
        assert rows[0]["type"] == "shop"


def test_srid_4326_keeps_lonlat(spark):
    """EPSG:4326 path (config.go:156-160, writer.go:64-75): identical rows,
    geometry carries raw lon/lat instead of mercator meters."""
    from imposm3_spark.geom.wkb import parse_wkb
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.sources.osm_xml import read_osm_xml

    mapping = load_mapping("/root/reference/test/single_table_mapping.json")
    nodes, ways, relations = read_osm_xml(
        spark, "/root/reference/test/single_table.osm"
    )
    rows3857 = ImportPipeline(mapping, srid=3857).run(nodes, ways, relations)["all"].collect()
    rows4326 = ImportPipeline(mapping, srid=4326).run(nodes, ways, relations)["all"].collect()
    # identical row multiset (incl. duplicate-mapping rows), 14 rows
    assert sorted(r["osm_id"] for r in rows3857) == sorted(
        r["osm_id"] for r in rows4326
    )
    assert len(rows4326) == 14

    src = {r["id"]: (r["lon"], r["lat"]) for r in nodes.collect()}
    # node rows (positive ids) carry the raw fixture lon/lat in 4326
    checked = 0
    for row in rows4326:
        if row["osm_id"] <= 0:
            continue
        g = parse_wkb(bytes(row["geometry"]))
        assert g["srid"] == 4326
        lon, lat = src[row["osm_id"]]
        # coords pass through the reference's cache quantization
        # (serialize.go:5-13) -> precision 360/(2^32-1) ~ 8.4e-8 deg
        assert g["coords"][0] == pytest.approx(lon, abs=2e-7)
        assert g["coords"][1] == pytest.approx(lat, abs=2e-7)
        checked += 1
    assert checked >= 2
    # and the 3857 geometry is projected (different srid tag)
    some = next(r for r in rows3857 if r["osm_id"] > 0)
    assert parse_wkb(bytes(some["geometry"]))["srid"] == 3857
