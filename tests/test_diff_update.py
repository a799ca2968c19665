"""Diff/streaming path: apply complete_db.osc to the imported state and
assert the post-update records from /root/reference/test/completedb_test.go
(generalized-table assertions come with the generalization milestone).
"""

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.update import OsmState, apply_batch
from imposm3_spark.geom import py_geom, wkb as wkblib
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osc_xml, read_osm_xml

FIXTURE = "/root/reference/test/complete_db.osm"
CHANGES = "/root/reference/test/complete_db.osc"
MAPPING = "/root/reference/test/complete_db_mapping.json"

MISSING = object()


@pytest.fixture(scope="module")
def updated(spark):
    mapping = load_mapping(MAPPING)
    nodes, ways, relations = read_osm_xml(spark, FIXTURE)
    pipe = ImportPipeline(mapping, srid=3857)
    tables = pipe.run(nodes, ways, relations)
    tables = {n: df.localCheckpoint() for n, df in tables.items()}

    # initial generalized tables (A6), then refreshed PER AFFECTED ID
    # through the batch (T6/J7) — the gen assertions below therefore
    # validate the incremental path, not a wholesale rebuild
    from imposm3_spark.pipeline.generalize import build_generalized_tables

    gen_needed = {"roads_gen0", "roads_gen1", "waterareas_gen0", "waterareas_gen1",
                  "landusages_gen0", "landusages_gen1"}
    gens0 = build_generalized_tables(mapping, tables)
    gens0 = {n: df.localCheckpoint() for n, df in gens0.items() if n in gen_needed}

    state = OsmState(nodes, ways, relations)
    changes = read_osc_xml(spark, CHANGES)
    batch = apply_batch(pipe, state, tables, changes, gens=gens0)
    needed = {"roads", "landusages", "waterareas", "places", "buildings", "barrierpoints"}
    out = {n: df for n, df in batch.tables.items() if n in needed}
    out.update({n: df for n, df in batch.gens.items() if n in gen_needed})
    return out


def rows_of(tables, name, osm_id):
    return tables[name].filter(F.col("osm_id") == osm_id).collect()


def assert_records(tables, checks):
    for table, osm_id, expected in checks:
        rows = rows_of(tables, table, osm_id)
        if expected is MISSING:
            assert not rows, f"{table}/{osm_id}: expected missing, got {rows}"
        else:
            assert len(rows) == 1, f"{table}/{osm_id}: expected 1 row, got {len(rows)}"
            assert rows[0]["type"] == expected, f"{table}/{osm_id}: {rows[0]['type']!r} != {expected!r}"


def geom_area(row):
    parsed = wkblib.parse_wkb(bytes(row["geometry"]))
    polys = [parsed["coords"]] if parsed["type"] == "Polygon" else parsed["coords"]
    return py_geom.multipolygon_area(polys)


def test_no_duplicates(updated):
    # completedb_test.go:434-458: only roads/18001 may appear twice
    for table in ("roads", "landusages"):
        dupes = (
            updated[table]
            .groupBy("osm_id")
            .count()
            .filter(F.col("count") > 1)
            .collect()
        )
        if table == "roads":
            assert [(r["osm_id"], r["count"]) for r in dupes] in ([(18001, 2)], []), dupes
        else:
            assert dupes == [], dupes


def test_updated_landusage(updated):
    # completedb_test.go:460-475: node 1001 moved; point no longer inside
    from imposm3_spark.geom.proj import py_quantize_coord, py_wgs_to_merc

    x, y = py_wgs_to_merc(py_quantize_coord(13.4), py_quantize_coord(47.5))
    rows = rows_of(updated, "landusages", -1001)
    assert len(rows) == 1
    parsed = wkblib.parse_wkb(bytes(rows[0]["geometry"]))
    shell = parsed["coords"][0] if parsed["type"] == "Polygon" else parsed["coords"][0][0]
    assert py_geom.point_in_ring((x, y), shell) == -1


def test_partial_delete(updated):
    # completedb_test.go:477-491
    assert_records(updated, [("landusages", -2001, MISSING), ("landusages", 2001, MISSING)])


def test_updated_nodes(updated):
    # completedb_test.go:493-506
    rows = rows_of(updated, "places", 10001)
    assert len(rows) == 1 and rows[0]["type"] == "village" and rows[0]["name"] == "Bar"
    rows = rows_of(updated, "places", 10002)
    assert len(rows) == 1 and rows[0]["type"] == "city" and rows[0]["name"] == "Baz"


def test_landusage_to_waterarea(updated):
    # completedb_test.go:508-531 (base tables)
    assert_records(
        updated,
        [
            ("waterareas", 11001, "water"),
            ("waterareas", -13001, "water"),
            ("landusages", 11001, MISSING),
            ("landusages", -13001, MISSING),
        ],
    )


def test_changed_hole_tags(updated):
    # completedb_test.go:533-548
    assert_records(
        updated,
        [("waterareas", -14011, MISSING), ("landusages", -14001, "park")],
    )
    rows = rows_of(updated, "waterareas", 14011)
    assert len(rows) == 1
    assert abs(geom_area(rows[0]) - 26672019779) < 1
    rows = rows_of(updated, "landusages", -14001)
    assert abs(geom_area(rows[0]) - 10373697182) < 1


def test_split_outer_multipolygon_way2(updated):
    # completedb_test.go:550-567
    assert_records(
        updated,
        [("landusages", 15001, MISSING), ("roads", 15002, "residential")],
    )
    rows = rows_of(updated, "landusages", -15001)
    assert len(rows) == 1
    assert abs(geom_area(rows[0]) - 9816216452) < 1


def test_merge_outer_multipolygon_way2(updated):
    # completedb_test.go:569-596
    assert_records(
        updated,
        [("landusages", 16001, MISSING), ("roads", 16002, MISSING)],
    )
    rows = rows_of(updated, "landusages", -16001)
    assert len(rows) == 1
    assert abs(geom_area(rows[0]) - 12779350582) < 1


def test_way_with_invalid_layer_update(updated):
    # completedb_test.go:598-603: layer is now a valid int32
    rows = rows_of(updated, "roads", 17003)
    assert len(rows) == 1
    assert rows[0]["z_order"] == 23


def test_node_way_ref_after_delete(updated):
    # completedb_test.go:605-625: way deleted, node stays as barrierpoint
    assert_records(
        updated,
        [("roads", 20001, MISSING), ("barrierpoints", 20001, "block")],
    )


def test_way_rel_ref_after_delete(updated):
    # completedb_test.go:627-641
    assert_records(
        updated,
        [
            ("roads", 21001, "residential"),
            ("landusages", 21001, MISSING),
            ("landusages", -21001, MISSING),
        ],
    )


def test_residential_to_secondary(updated):
    # completedb_test.go:643-651: the now-secondary road enters gen tables
    assert_records(
        updated,
        [
            ("roads", 40001, "secondary"),
            ("roads_gen0", 40001, "secondary"),
            ("roads_gen1", 40001, "secondary"),
        ],
    )


def test_landusage_to_waterarea_gen(updated):
    # completedb_test.go:508-531 (generalized tables)
    assert_records(
        updated,
        [
            ("waterareas_gen0", 11001, "water"),
            ("waterareas_gen0", -13001, "water"),
            ("waterareas_gen1", 11001, "water"),
            ("waterareas_gen1", -13001, "water"),
            ("landusages_gen0", 11001, MISSING),
            ("landusages_gen0", -13001, MISSING),
            ("landusages_gen1", 11001, MISSING),
            ("landusages_gen1", -13001, MISSING),
        ],
    )


def test_relation_after_remove(updated):
    # completedb_test.go:653-660
    assert_records(
        updated,
        [
            ("buildings", 50011, "yes"),
            ("landusages", 50021, MISSING),
            ("landusages", -50021, MISSING),
        ],
    )


def test_relation_without_tags2(updated):
    # completedb_test.go:662-678
    assert_records(
        updated,
        [
            ("buildings", 50111, "yes"),
            ("buildings", 50121, MISSING),
            ("buildings", -50121, MISSING),
        ],
    )


def test_duplicate_ids2(updated):
    # completedb_test.go:680-689
    assert_records(
        updated,
        [
            ("buildings", 51001, "way"),
            ("buildings", -51001, MISSING),
            ("buildings", 51011, MISSING),
            ("buildings", -51011, "mp"),
        ],
    )


def test_relation_updated_by_node2(updated):
    # completedb_test.go:691-695. The post-move ring is a perfect bowtie
    # with two EXACTLY equal lobes; GEOS buffer(0) noding places the
    # crossing vertex ~1.2e-8 relative away from the exact rational
    # intersection, so the kept lobe differs by ~196 m^2 on 1.6e10 —
    # tolerance covers that irreducible difference.
    rows = rows_of(updated, "buildings", -52121)
    assert len(rows) == 1
    assert abs(geom_area(rows[0]) - 16276875196.653734) < 200


def test_duplicate_node_create(updated):
    # completedb_test.go:697-703
    rows = rows_of(updated, "buildings", 53111)
    assert len(rows) == 1
