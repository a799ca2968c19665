"""Structured Streaming replication: OSC files land in a dir, the stream
applies them exactly once (checkpointed), output tables update live."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.update import OsmState
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osm_xml
from imposm3_spark.streaming import StreamingReplicator

FIX = Path(__file__).parent / "fixtures" / "osm"
OSM = str(FIX / "route_relation.osm")
OSC = str(FIX / "route_relation.osc")
MAPPING = str(FIX / "route_relation_mapping.yml")


@pytest.fixture()
def setup(spark, tmp_path):
    mapping = load_mapping(MAPPING)
    nodes, ways, rels = read_osm_xml(spark, OSM)
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    return spark, pipe, OsmState(nodes, ways, rels), tables, landing, ckpt


def _drain(repl, landing, ckpt):
    q = repl.start(str(landing), str(ckpt), available_now=True)
    q.awaitTermination(120)
    assert not q.isActive
    return repl


def test_stream_applies_osc(setup):
    spark, pipe, state, tables, landing, ckpt = setup
    # route_relation.osc moves stop 100103, renames way 100503 and drops
    # way 100512 from route relation 100902
    shutil.copy(OSC, landing / "000000001.osc")
    repl = StreamingReplicator(
        spark=spark, pipe=pipe, state=state, tables=dict(tables)
    )
    _drain(repl, landing, ckpt)
    assert repl.batches_applied == 1

    # route_relation_test.go:125-150 MemberGeomUpdated2 through the stream
    members = repl.tables["route_members"]
    rows = members.filter(
        (F.col("osm_id") == -100902) & (F.col("member") == 100503)
    ).collect()
    assert len(rows) == 1 and rows[0]["name"] == "new name"
    # removed member is gone
    assert (
        members.filter((F.col("osm_id") == -100902) & (F.col("member") == 100512)).count()
        == 0
    )

    # the same checkpoint does not re-apply the same file
    _drain(repl, landing, ckpt)
    assert repl.batches_applied == 1

    # a second landed copy under a NEW name IS picked up (new sequence)
    shutil.copy(OSC, landing / "000000002.osc")
    _drain(repl, landing, ckpt)
    assert repl.batches_applied == 2


def test_stream_idempotent_restart(setup):
    """A new replicator over the same checkpoint dir skips already-applied
    files — last.state.txt semantics via checkpointLocation (T8)."""
    spark, pipe, state, tables, landing, ckpt = setup
    shutil.copy(OSC, landing / "000000001.osc")
    repl = StreamingReplicator(spark=spark, pipe=pipe, state=state, tables=dict(tables))
    _drain(repl, landing, ckpt)
    assert repl.batches_applied == 1

    fresh = StreamingReplicator(spark=spark, pipe=pipe, state=state, tables=dict(tables))
    _drain(fresh, landing, ckpt)
    assert fresh.batches_applied == 0
