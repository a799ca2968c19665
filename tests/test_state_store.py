"""Bucketed state store: round-trip fidelity, atomic republish, and the
scale contract — joins against the bucketed side plan WITHOUT an Exchange
on the state side."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.state_store import BucketedStateStore
from imposm3_spark.diff.update import OsmState
from imposm3_spark.sources.osm_xml import read_osm_xml

FIX = Path(__file__).parent / "fixtures" / "osm"
OSM = str(FIX / "route_relation.osm")


@pytest.fixture()
def state(spark):
    nodes, ways, rels = read_osm_xml(spark, OSM)
    return OsmState(nodes, ways, rels)


def test_round_trip(spark, state, tmp_path):
    store = BucketedStateStore(spark, str(tmp_path / "st"), buckets=4)
    store.save(state)
    loaded = store.load()
    for kind in ("nodes", "ways", "relations"):
        a = getattr(state, kind)
        b = getattr(loaded, kind)
        assert a.count() == b.count()
        assert {r["id"] for r in a.select("id").collect()} == {
            r["id"] for r in b.select("id").collect()
        }


def test_republish_supersedes(spark, state, tmp_path):
    store = BucketedStateStore(spark, str(tmp_path / "st"), buckets=4)
    store.save(state)
    fewer = OsmState(
        state.nodes.filter(F.col("id") % 2 == 0), state.ways, state.relations
    )
    store.save(fewer)
    fresh = BucketedStateStore(spark, str(tmp_path / "st"), buckets=4)
    loaded = fresh.load()
    assert loaded.nodes.count() == fewer.nodes.count()


def test_bucketed_join_no_state_side_exchange(spark, state, tmp_path):
    store = BucketedStateStore(spark, str(tmp_path / "st"), buckets=4)
    store.save(state)
    loaded = store.load()
    # the fixture's node ids are 100101-100109
    ids = spark.range(100100, 100200).select(F.col("id"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = loaded.nodes.join(ids, "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # shuffle join: only the probe (range) side exchanges; the bucketed
        # state side is scanned pre-partitioned on id
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # and the result is still correct
        want = state.nodes.filter(F.col("id").between(100100, 100199)).count()
        assert want > 0 and joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_load_without_save_raises(spark, tmp_path):
    store = BucketedStateStore(spark, str(tmp_path / "empty"), buckets=4)
    with pytest.raises(FileNotFoundError):
        store.load()


def test_runner_with_durable_state(spark, tmp_path):
    """ReplicationRunner + BucketedStateStore: state survives a 'restart'
    (a fresh runner resumes from the published tables and last.state.txt)."""
    import shutil

    from imposm3_spark.diff.runner import ReplicationRunner
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline

    mapping = load_mapping(str(FIX / "route_relation_mapping.yml"))
    nodes, ways, rels = read_osm_xml(spark, OSM)
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}

    diff_dir = tmp_path / "diffs"
    diff_dir.mkdir()
    shutil.copy(FIX / "route_relation.osc", diff_dir / "1.osc")
    store = BucketedStateStore(spark, str(tmp_path / "st"), buckets=4)
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=OsmState(nodes, ways, rels),
        tables=tables,
        diff_dir=str(diff_dir),
        state_file=str(tmp_path / "last.state.txt"),
        state_store=store,
    )
    assert runner.run() == 1

    # 'restart': a new runner over the same store + state file
    runner2 = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=None,
        tables=dict(runner.tables),
        diff_dir=str(diff_dir),
        state_file=str(tmp_path / "last.state.txt"),
        state_store=BucketedStateStore(spark, str(tmp_path / "st"), buckets=4),
    )
    runner2.resume()
    # the moved node (route_relation.osc modifies node 100103 to
    # lat 53.001 lon 8.201) is in the durable state with its new position
    moved = runner2.state.nodes.filter(F.col("id") == 100103).collect()
    assert len(moved) == 1
    assert moved[0]["lat"] == pytest.approx(53.001)
    # no new sequence -> nothing applied, state intact
    assert runner2.run() == 0
    assert runner2.current_sequence() == 1
