"""One diff batch, every caller: `apply_batch` is the only batch body, so
the replication runner, the Structured Streaming replicator and the
`diff` command must leave identical tables behind, and the broadcast-hint
gate's unhinted branch must give the same result as the hinted one."""

import glob
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from imposm3_spark.cli import main
from imposm3_spark.diff import update
from imposm3_spark.diff.runner import ReplicationRunner
from imposm3_spark.diff.update import OsmState
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.pipeline.generalize import build_generalized_tables
from imposm3_spark.sources.osm_xml import read_osc_xml, read_osm_xml
from imposm3_spark.streaming import StreamingReplicator

FIX = Path(__file__).parent / "fixtures" / "osm"
OSM = str(FIX / "route_relation.osm")
OSC = str(FIX / "route_relation.osc")
MAPPING = str(FIX / "route_relation_mapping.yml")


@pytest.fixture(scope="module")
def base(spark):
    mapping = load_mapping(MAPPING)
    nodes, ways, rels = read_osm_xml(spark, OSM)
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}
    gens = {
        n: df.localCheckpoint()
        for n, df in build_generalized_tables(mapping, tables).items()
    }
    return spark, pipe, OsmState(nodes, ways, rels), tables, gens


def _tiles(expire_dir) -> set[tuple[int, int, int]]:
    out = set()
    for path in glob.glob(os.path.join(str(expire_dir), "*", "*.tiles")):
        with open(path) as fh:
            out |= {tuple(int(v) for v in line.split("/")) for line in fh if line.strip()}
    return out


def _assert_same(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for name, df in want.items():
        other = got[name].select(*df.columns)
        assert other.count() == df.count(), name
        assert df.exceptAll(other).count() == 0, name
        assert other.exceptAll(df).count() == 0, name


@pytest.fixture(scope="module")
def runner_result(base, tmp_path_factory):
    spark, pipe, state, tables, gens = base
    tmp = tmp_path_factory.mktemp("runner")
    diff_dir = tmp / "diffs"
    diff_dir.mkdir()
    shutil.copy(OSC, diff_dir / "1.osc")
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=state,
        tables=dict(tables),
        diff_dir=str(diff_dir),
        state_file=str(tmp / "last.state.txt"),
        expire_dir=str(tmp / "expire"),
        gens=dict(gens),
    )
    assert runner.run() == 1
    return runner.tables, runner.gens, _tiles(tmp / "expire"), runner.last_stage_secs


def test_runner_stage_keys(runner_result):
    *_, stage_secs = runner_result
    assert list(stage_secs) == [
        "read", "state", "frontier", "rebuild", "tables", "expire", "gens",
    ]


def test_runner_batch_landed(base, runner_result):
    *_, gens = base
    new_tables, new_gens, tiles, _ = runner_result
    # the renamed member way and the dropped member (route_relation.osc)
    members = new_tables["route_members"].filter(F.col("osm_id") == -100902)
    names = {r["member"]: r["name"] for r in members.collect()}
    assert names[100503] == "new name" and 100512 not in names
    # the moved stop changed the geometry of primary road 100501, which
    # the gen table holds
    moved = F.col("osm_id") == 100501
    assert (
        new_gens["roads_gen0"].filter(moved).first()["geometry"]
        != gens["roads_gen0"].filter(moved).first()["geometry"]
    )
    assert tiles


def test_three_callers_same_result(base, runner_result, tmp_path):
    spark, pipe, state, tables, gens = base
    want_tables, want_gens, want_tiles, _ = runner_result

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(OSC, landing / "000000001.osc")
    repl = StreamingReplicator(
        spark=spark,
        pipe=pipe,
        state=state,
        tables=dict(tables),
        gens=dict(gens),
        expire_dir=str(tmp_path / "expire"),
    )
    q = repl.start(str(landing), str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    assert not q.isActive and repl.batches_applied == 1
    _assert_same(repl.tables, want_tables)
    _assert_same(repl.gens, want_gens)
    assert _tiles(tmp_path / "expire") == want_tiles

    out = tmp_path / "parquet"
    argv = ["-mapping", MAPPING, "-write-parquet", str(out)]
    assert main(["import", *argv, "-read", OSM, "-diff"]) == 0
    assert main(["diff", *argv, OSC]) == 0
    _assert_same(
        {n: spark.read.parquet(str(out / n)) for n in want_tables}, want_tables
    )


def test_unhinted_path_same_result(base, runner_result, tmp_path, monkeypatch):
    """A gate of 0 changes and a broadcast limit of 0 ids send even this
    small batch down the hint=False branch: sort-merge joins instead of
    broadcasts, same rows."""
    spark, pipe, state, tables, gens = base
    want_tables, want_gens, want_tiles, _ = runner_result
    monkeypatch.setattr(update, "DIFF_GATE", 0)
    monkeypatch.setattr(update, "BROADCAST_LIMIT", 0)
    hints = []
    rebuild = update.rebuild_tables

    def spy(*args, hint):
        hints.append(hint)
        return rebuild(*args, hint=hint)

    monkeypatch.setattr(update, "rebuild_tables", spy)
    batch = update.apply_batch(
        pipe,
        state,
        dict(tables),
        read_osc_xml(spark, OSC),
        gens=dict(gens),
        expire_dir=str(tmp_path / "expire"),
    )
    assert hints == [False]
    _assert_same(batch.tables, want_tables)
    _assert_same(batch.gens, want_gens)
    assert _tiles(tmp_path / "expire") == want_tiles
