"""Replication loop (SURVEY §2.1 S5, §2.8 T1/T8).

Parity target: update/cmd.go:48-257 (diffImportLoop / importLoop) and
vendor go-osm replication/diff — poll a sequence-numbered directory of
OsmChange files, apply each exactly once, checkpoint `last.state.txt`.

Spark shape: a driver-side micro-batch loop (the reference has no
watermarks/event-time either — every change applies, last-write-wins per
id). Each batch is `apply_batch` (pure DataFrame algebra) + an atomic state
write, i.e. foreachBatch semantics with a file checkpoint. The element
state and output tables are local checkpoints pinned by each batch; the
previous versions are dropped, so their blocks are freed once garbage
collected — bounded memory, restart picks up from last.state.txt.

Sequence files follow the osmosis layout the reference consumes:
  <dir>/NNN/NNN/NNN.osc.gz  (or flat <dir>/<seq>.osc[.gz])
with a sibling .state.txt; we accept both layouts.
"""

from __future__ import annotations

import gc
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from imposm3_spark.diff.update import OsmState, apply_batch
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osc_xml


def parse_state_txt(text: str) -> dict[str, str]:
    """osmosis state.txt: key=value lines, '#' comments."""
    out = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if "=" in line:
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip().replace("\\:", ":")
    return out


def write_state_txt(path: str | Path, sequence: int, timestamp: str | None = None) -> None:
    ts = timestamp or time.strftime("%Y-%m-%dT%H\\:%M\\:%SZ", time.gmtime())
    tmp = Path(str(path) + "~")
    tmp.write_text(f"timestamp={ts}\nsequenceNumber={sequence}\n")
    tmp.rename(path)


def sequence_path(diff_dir: str | Path, seq: int) -> Path | None:
    """Locate the change file for a sequence (nested osmosis layout or
    flat)."""
    diff_dir = Path(diff_dir)
    nested = f"{seq // 1_000_000:03d}/{(seq // 1000) % 1000:03d}/{seq % 1000:03d}"
    for cand in (
        diff_dir / f"{nested}.osc.gz",
        diff_dir / f"{nested}.osc",
        diff_dir / f"{seq}.osc.gz",
        diff_dir / f"{seq}.osc",
    ):
        if cand.exists():
            return cand
    return None


@dataclass
class ReplicationRunner:
    spark: SparkSession
    pipe: ImportPipeline
    state: OsmState
    tables: dict[str, DataFrame]
    diff_dir: str
    state_file: str
    expire_dir: str | None = None
    expire_zoom: int = 14  # `-expiretiles-zoom` / config expiretiles_zoom
    gens: dict[str, DataFrame] | None = None  # generalized tables (T6)
    # optional durable element state (diff/state_store.py): saved after
    # every batch; `resume()` reloads it, so a restarted runner continues
    # from last.state.txt with id-bucketed (shuffle-free-join) state
    state_store: "object | None" = None
    # optional diff/download.DiffDownloader: when the next sequence is not
    # in diff_dir yet, fetch it from the remote feed first (`imposm run`
    # against a live replication endpoint, update/cmd.go:48-257)
    downloader: "object | None" = None
    # per-stage walls of the most recent apply_one (observability only;
    # see imposm3_spark/benchdiff.py)
    last_stage_secs: dict = field(default_factory=dict)

    def current_sequence(self) -> int:
        p = Path(self.state_file)
        if not p.exists():
            return 0
        return int(parse_state_txt(p.read_text()).get("sequenceNumber", 0))

    def apply_one(self, seq: int) -> bool:
        """Import one sequence file (exactly-once via the state file —
        update/cmd.go:259-320). Returns False when the file is absent."""
        path = sequence_path(self.diff_dir, seq)
        if path is None:
            return False
        # Stage walls for observability (imposm3_spark/benchdiff.py reads
        # them): "read" here, the batch stages from apply_batch, "store" at
        # the durable save.
        t0 = time.perf_counter()
        changes = read_osc_xml(self.spark, path)
        stage_secs = {"read": round(time.perf_counter() - t0, 3)}
        batch = apply_batch(
            self.pipe,
            self.state,
            self.tables,
            changes,
            gens=self.gens,
            expire_dir=self.expire_dir,
            expire_zoom=self.expire_zoom,
        )
        stage_secs.update(batch.stage_secs)
        self.state, self.tables, self.gens = batch.state, batch.tables, batch.gens
        if self.state_store is not None:
            # durable publish BEFORE the sequence checkpoint: a crash
            # between the two replays the batch onto the already-updated
            # state, which is idempotent (last-write-wins upsert)
            t0 = time.perf_counter()
            self.state_store.save(batch.state)
            self.state = self.state_store.load()
            stage_secs["store"] = round(time.perf_counter() - t0, 3)
        write_state_txt(self.state_file, seq)
        self.last_stage_secs = stage_secs
        # drop the py4j handles of the replaced state/tables promptly so
        # the ContextCleaner can free their checkpoint blocks — without
        # this, round-11 probes measured 1-2.4 s of old-gen GC landing
        # inside the NEXT batch's table pins
        gc.collect()
        return True

    def resume(self) -> None:
        """Reload element state from the durable store (restart path)."""
        if self.state_store is None:
            raise ValueError("no state_store configured")
        self.state = self.state_store.load()

    def run(self, max_batches: int | None = None, poll_interval: float = 0.0) -> int:
        """Consume sequences until none is available (or max_batches).
        Returns the number of batches applied. With poll_interval > 0 the
        loop waits for the next file like `imposm run` (minimum 1-minute
        interval in the reference, config.go:136-138)."""
        applied = 0
        seq = self.current_sequence()
        while max_batches is None or applied < max_batches:
            nxt = seq + 1
            if self.downloader is not None and sequence_path(self.diff_dir, nxt) is None:
                try:
                    self.downloader.fetch_sequence(nxt, max_tries=1)
                except Exception:
                    pass  # not published yet — fall through to poll/exit
            if not self.apply_one(nxt):
                if poll_interval > 0:
                    time.sleep(poll_interval)
                    continue
                break
            seq = nxt
            applied += 1
        return applied
