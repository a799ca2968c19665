"""Replication loop: sequence files applied exactly once, state checkpoint
survives restarts (update/cmd.go semantics)."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.runner import (
    ReplicationRunner,
    parse_state_txt,
    sequence_path,
    write_state_txt,
)
from imposm3_spark.diff.update import OsmState
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osm_xml

FIX = Path(__file__).parent / "fixtures" / "osm"


def test_state_txt_roundtrip(tmp_path):
    p = tmp_path / "last.state.txt"
    write_state_txt(p, 42)
    st = parse_state_txt(p.read_text())
    assert st["sequenceNumber"] == "42"


def test_sequence_path_layouts(tmp_path):
    (tmp_path / "000/000").mkdir(parents=True)
    (tmp_path / "000/000/007.osc.gz").write_bytes(b"")
    assert sequence_path(tmp_path, 7).name == "007.osc.gz"
    (tmp_path / "9.osc").write_text("")
    assert sequence_path(tmp_path, 9).name == "9.osc"
    assert sequence_path(tmp_path, 12345) is None


@pytest.fixture(scope="module")
def runner_setup(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("repl")
    mapping = load_mapping(str(FIX / "route_relation_mapping.yml"))
    nodes, ways, rels = read_osm_xml(spark, str(FIX / "route_relation.osm"))
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}
    shutil.copy(FIX / "route_relation.osc", tmp / "1.osc")
    return spark, pipe, OsmState(nodes, ways, rels), tables, tmp


def test_runner_applies_and_checkpoints(runner_setup):
    spark, pipe, state, tables, tmp = runner_setup
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=state,
        tables=dict(tables),
        diff_dir=str(tmp),
        state_file=str(tmp / "last.state.txt"),
    )
    assert runner.current_sequence() == 0
    applied = runner.run()
    assert applied == 1
    assert runner.current_sequence() == 1

    # the diff landed: member name updated (route_relation_test.go:135-141
    # MemberGeomUpdated2)
    rows = (
        runner.tables["route_members"]
        .filter((F.col("osm_id") == -100902) & (F.col("member") == 100503))
        .collect()
    )
    assert len(rows) == 1 and rows[0]["name"] == "new name"

    # re-running applies nothing (exactly-once)
    assert runner.run() == 0
