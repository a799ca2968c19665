"""The benchmark's two workloads, each a closed loop with one client.

`osm`: a seeded city is imported during set-up; that import is the warm-up
and the replication base. The timed part drains a `.osc` sequence through
`ReplicationRunner.apply_one` (expiry and generalized tables on), then
imports the city as it stands after the last applied batch, in
`cli.cmd_import`'s order, with one parquet write per table.

`curate`: seed-permuted replicas of the documents fixture go through the
datapipe functions in `cli.cmd_curate`'s order (quality gate,
decontamination, exact dedup, MinHash near-dup, representatives, parquet),
pass after pass.

Operations (diff batches, table writes, curate stages, checks) are
counted. Every check runs outside the clock; a failed check is counted,
never skipped. A call that raises ends the run, which then reports itself
incorrect.
"""

from __future__ import annotations

import gc
import glob
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from city import deg, make_city, make_sequence, write_sequence
from corpus import NGRAM, contaminated, write_corpus
from spans import MEASURES, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
MAPPING = os.path.join(HERE, "mapping.yml")
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")

CITY_BLOCKS = 20  # 20 x 20 blocks, ~10k elements
MINUTELY, CATCHUP = 100, 2000  # changes per batch of each class
TIMED_BATCHES = 12  # generated; the loop stops at --seconds
CURATE_COPIES = 1  # 5000 fixture docs, token order permuted by the seed
MIN_QUALITY = 0.75  # cmd_curate's -min-quality default

SPANS = (
    "sources.pbf.read_pbf",
    "pipeline.engine.run",
    "pipeline.generalize.build",
    "sinks.parquet.write",
    "diff.runner.apply_one.minutely",
    "diff.runner.apply_one.catchup",
    "datapipe.text.score",
    "datapipe.dedup.decontaminate",
    "datapipe.dedup.exact",
    "datapipe.dedup.neardup",
)
RUNNER_STAGES = ("read", "state", "frontier", "rebuild", "tables", "expire", "gens")


@dataclass
class Run:
    """One workload run: its session, tracer, scratch dir and tallies."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    trace: bool
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    results: dict[str, tuple[float, str]] = field(default_factory=dict)  # name -> (value, unit)
    notes: list[str] = field(default_factory=list)
    setup_done: float | None = None  # perf_counter at the first timed call
    overhead: list[tuple[float, float]] = field(default_factory=list)  # (untraced mean, traced) walls
    traced_wall_s: float = 0.0

    def op(self, ok: bool, n: int = 1) -> bool:
        """Count n operations, all failed unless ok."""
        self.attempted += n
        self.failed += 0 if ok else n
        return ok

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.op(ok)
        self.checks.append((name, ok, detail))


def drain(spark) -> None:
    """Let deferred cleanup finish before a timed part starts: drop Python
    references, then give the ContextCleaner idle actions and a pause to
    evict the released checkpoint blocks."""
    gc.collect()
    for _ in range(2):
        spark.range(1_000_000).count()
        time.sleep(0.5)


def z14_tile(lon: float, lat: float) -> tuple[int, int, int]:
    """The slippy-map tile holding a point at zoom 14."""
    n = 1 << 14
    rad = math.radians(lat)
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi) / 2.0 * n)
    return 14, x, y


# ---------------------------------------------------------------------------
# osm
# ---------------------------------------------------------------------------


def _import_pass(run: Run, mapping, pbf: str, out: str, it: int) -> float:
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.pipeline.generalize import build_generalized_tables
    from imposm3_spark.sources.pbf import read_pbf

    span = run.tracer.span
    t0 = time.perf_counter()
    with span("sources.pbf.read_pbf", it):
        nodes, ways, rels = read_pbf(run.spark, pbf, mapping=mapping)
    with span("pipeline.engine.run", it):
        tables = ImportPipeline(mapping, srid=3857).run(nodes, ways, rels)
    with span("pipeline.generalize.build", it):
        gens = build_generalized_tables(mapping, tables)
    for name, df in {**tables, **gens}.items():
        with span("sinks.parquet.write", it, table=name):
            df.write.mode("overwrite").parquet(os.path.join(out, name))
        run.op(True)
    return time.perf_counter() - t0


def run_osm(run: Run) -> None:
    import pyarrow.parquet as pq

    from imposm3_spark.diff.runner import ReplicationRunner
    from imposm3_spark.diff.update import OsmState
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.pipeline.generalize import build_generalized_tables
    from imposm3_spark.sources.pbf import read_pbf

    spark = run.spark
    # catch-up first: the first applied batch also pays the diff path's
    # first-call cost, and the end-to-end latency is the minutely one
    sizes = [("catchup", CATCHUP) if i % 2 == 0 else ("minutely", MINUTELY)
             for i in range(TIMED_BATCHES)]
    city = make_city(run.seed, CITY_BLOCKS, CITY_BLOCKS)
    seq = make_sequence(city, run.seed, sizes)
    gen = os.path.join(run.work, "gen")
    os.makedirs(gen)
    city.write_pbf(os.path.join(gen, "city.pbf"))
    write_sequence(seq, os.path.join(gen, "diff"))
    mapping = load_mapping(MAPPING)
    diff_dir = os.path.join(gen, "diff")
    expire_dir = os.path.join(run.work, "expire")
    os.makedirs(expire_dir)

    # warm-up: the base import, kept pinned as the replication base
    nodes, ways, rels = (
        df.localCheckpoint() for df in read_pbf(spark, os.path.join(gen, "city.pbf"), mapping=mapping)
    )
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}
    gens = {n: df.localCheckpoint() for n, df in build_generalized_tables(mapping, tables).items()}
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=OsmState(nodes, ways, rels),
        tables=tables,
        diff_dir=diff_dir,
        state_file=os.path.join(run.work, "last.state.txt"),
        expire_dir=expire_dir,
        gens=gens,
    )
    del nodes, ways, rels, tables, gens
    drain(spark)

    # timed: drain the sequence for --seconds, at least one batch per class
    run.tracer.set_enabled(run.trace)
    run.setup_done = t_loop = time.perf_counter()
    walls: dict[str, list[float]] = {"minutely": [], "catchup": []}
    changes: dict[str, int] = {"minutely": 0, "catchup": 0}
    seq_no = 1
    while seq_no <= len(seq.batches):
        if time.perf_counter() - t_loop >= run.seconds and all(walls.values()):
            break
        kind = seq.kinds[seq_no - 1]
        n_changes = len(seq.batches[seq_no - 1])
        with run.tracer.span(f"diff.runner.apply_one.{kind}", seq_no, changes=n_changes) as rec:
            t0 = time.perf_counter()
            ok = run.op(runner.apply_one(seq_no))
            wall = time.perf_counter() - t0
        if rec is not None:
            rec["stages"] = dict(runner.last_stage_secs)
            run.traced_wall_s += wall
        if not ok:
            break
        walls[kind].append(wall)
        changes[kind] += n_changes
        seq_no += 1
    applied = seq_no - 1
    final = seq.states[applied - 1]
    run.tracer.set_enabled(False)

    # timed: import the city as it stands after the last applied batch,
    # once the replication batches' released blocks are cleaned up
    final_pbf = os.path.join(run.work, "final.pbf")
    final.write_pbf(final_pbf)
    drain(spark)
    out = os.path.join(run.work, "import")
    import_wall = _import_pass(run, mapping, final_pbf, out, 0)
    if run.trace:
        # the same pass again, traced, then once more untraced: the traced
        # pass is compared with the mean of its untraced neighbours, so the
        # passes still getting faster do not read as negative overhead
        run.tracer.set_enabled(True)
        traced = _import_pass(run, mapping, final_pbf, os.path.join(run.work, "import_traced"), 1)
        run.tracer.set_enabled(False)
        run.traced_wall_s += traced
        after = _import_pass(run, mapping, final_pbf, os.path.join(run.work, "import_after"), 2)
        run.overhead.append(((import_wall + after) / 2, traced))

    # checks
    expected = final.expected_counts()
    got = {  # from the parquet footers, without Spark
        n: sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(out, n, "*.parquet")))
        for n in expected
    }
    for name, want in expected.items():
        run.check(f"import.rows.{name}", got[name] == want, f"{got[name]} rows, expected {want}")
    maintained = {**runner.tables, **runner.gens}
    for name in expected:
        ref = spark.read.parquet(os.path.join(out, name))
        mine = maintained[name].select(*ref.columns)
        bad = mine.exceptAll(ref).unionAll(ref.exceptAll(mine)).count()
        run.check(f"diff.equals_fresh_import.{name}", bad == 0, f"{bad} mismatched rows")
    expired: set[tuple[int, int, int]] = set()
    for path in glob.glob(os.path.join(expire_dir, "*", "*.tiles")):
        with open(path) as fh:
            expired |= {tuple(int(v) for v in line.split("/")) for line in fh if line.strip()}
    want_tiles = {
        z14_tile(deg(x), deg(y))
        for moves in seq.poi_moves[:applied]
        for move in moves
        for x, y in move
    }
    missing = len(want_tiles - expired)
    run.check("diff.expiry_covers_moved_pois", missing == 0, f"{missing} of {len(want_tiles)} z14 tiles missing")

    run.results["import_elements_per_s"] = (final.n_elements / import_wall, "elements/s")
    run.results["diff_minutely_p50_s"] = (
        statistics.median(walls["minutely"]) if walls["minutely"] else 0.0, "s"
    )
    catchup_s = sum(walls["catchup"])
    run.results["diff_catchup_changes_per_s"] = (
        changes["catchup"] / catchup_s if catchup_s else 0.0, "changes/s"
    )
    run.notes.append(
        f"diff batches timed: {len(walls['minutely'])} minutely (n for the p50), "
        f"{len(walls['catchup'])} catch-up; city {final.n_elements} elements; "
        f"import pass {import_wall:.2f} s"
    )
    run.results["throughput_per_s"] = (run.results["import_elements_per_s"][0], "1/s")
    run.results["latency_p50_s"] = (run.results["diff_minutely_p50_s"][0], "s")


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def _curate_pass(run: Run, docs, bench, out: str, it: int) -> float:
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import cluster as cl
    from imposm3_spark.datapipe import dedup as dd
    from imposm3_spark.datapipe import text as tx

    span = run.tracer.span
    t0 = time.perf_counter()
    # pinned once, after exact dedup, as cmd_curate does: the lazy quality
    # gate and decontamination run inside that pin, so their work is
    # attributed to the exact-dedup span
    with span("datapipe.text.score", it):
        q = docs.withColumns(
            {"n_tokens": tx.token_count(F.col("text")), "quality": tx.quality_score(F.col("text"))}
        ).filter(F.col("quality") >= MIN_QUALITY)
    with span("datapipe.dedup.decontaminate", it):
        hit = dd.decontaminate(q, bench, shingle_k=NGRAM).select("doc_id")
        q = q.join(F.broadcast(hit), "doc_id", "left_anti")
    with span("datapipe.dedup.exact", it):
        keep = dd.exact_dedup(q).select("doc_id")
        q = q.join(keep, "doc_id", "leftsemi").localCheckpoint()
    with span("datapipe.dedup.neardup", it):
        # 5-gram shingles and a bucket cap of 64: the fixture's 31-word
        # vocabulary makes the default 3-gram shingles collide by chance
        pairs = dd.minhash_lsh_pairs(q, shingle_k=5, max_bucket_size=64)
        q = cl.dedup_representatives(q, pairs, "doc_id", pair_a="id_a", pair_b="id_b")
    with span("sinks.parquet.write", it):
        q.select("doc_id", "text").write.mode("overwrite").parquet(out)
    run.op(True, 5)  # score, decontaminate, exact, near-dup, write
    return time.perf_counter() - t0


def run_curate(run: Run) -> None:
    import pyarrow.parquet as pq

    spark = run.spark
    gen = os.path.join(run.work, "gen")
    corpus_dir = os.path.join(gen, "corpus")
    n_in = write_corpus(DOCUMENTS, run.seed, CURATE_COPIES, corpus_dir, os.path.join(gen, "eval.parquet"))
    docs = spark.read.parquet(corpus_dir)
    bench = spark.read.parquet(os.path.join(gen, "eval.parquet"))

    # warm-up: one pass over the first corpus file; most of a cold pass's
    # cost (JIT, worker start-up) does not grow with its size
    first = sorted(glob.glob(os.path.join(corpus_dir, "*.parquet")))[0]
    _curate_pass(run, spark.read.parquet(first), bench, os.path.join(run.work, "warm"), -1)
    drain(spark)

    # timed: whole passes for --seconds; a traced run alternates untraced
    # and traced passes and ends on an untraced one, so each traced pass
    # sits between two untraced ones
    run.setup_done = t_loop = time.perf_counter()
    outs, walls, every = [], [], []
    i = 0
    while True:
        traced = run.trace and i % 2 == 1
        run.tracer.set_enabled(traced)
        out = os.path.join(run.work, f"curated{i}")
        wall = _curate_pass(run, docs, bench, out, i)
        run.tracer.set_enabled(False)
        gc.collect()  # release the pass's pin before the next one
        outs.append(out)
        every.append(wall)
        if traced:
            run.traced_wall_s += wall
        else:
            walls.append(wall)
        i += 1
        if time.perf_counter() - t_loop >= run.seconds and (not run.trace or (i >= 3 and not traced)):
            break
    if run.trace:
        run.overhead.extend(((every[j - 1] + every[j + 1]) / 2, every[j]) for j in range(1, i - 1, 2))

    # checks, on every pass's output
    eval_texts = pq.read_table(os.path.join(gen, "eval.parquet")).column("text").to_pylist()
    for i, out in enumerate(outs):
        t = pq.read_table(out)
        ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        run.check(f"curate.{i}.nonempty", 0 < len(ids) < n_in, f"{len(ids)} of {n_in} docs kept")
        run.check(f"curate.{i}.ids_unique", len(set(ids)) == len(ids))
        run.check(f"curate.{i}.texts_unique", len(set(texts)) == len(texts))
        dirty = contaminated(texts, eval_texts)
        run.check(f"curate.{i}.no_shared_8gram_with_eval", dirty == 0, f"{dirty} docs share an 8-gram")

    run.results["curate_docs_per_s"] = (n_in * len(walls) / sum(walls), "docs/s")
    run.results["curate_pass_p50_s"] = (statistics.median(walls), "s")
    run.notes.append(
        f"curate passes timed: {len(walls)} untraced of {n_in} docs each, walls "
        + " ".join(f"{w:.2f}" for w in walls)
    )
    run.results["throughput_per_s"] = (run.results["curate_docs_per_s"][0], "1/s")
    run.results["latency_p50_s"] = (run.results["curate_pass_p50_s"][0], "s")


WORKLOADS = {"osm": run_osm, "curate": run_curate}


# ---------------------------------------------------------------------------
# per-layer figures from the traced run
# ---------------------------------------------------------------------------


def layer_metrics(run: Run) -> dict[str, tuple[float, str]]:
    """Per-layer values: for each span, the median over traced iterations
    of the per-iteration sum of each measure (0 for a layer the workload
    never calls)."""
    units = {"jobs": "count", "tasks": "count", "failed_tasks": "count",
             "shuffle_mb": "MB", "spill_mb": "MB"}
    spans = run.tracer.spans
    out: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        per_it: dict[int, dict[str, float | None]] = {}
        for s in spans:
            if s["name"] == name:
                acc = per_it.setdefault(s["iteration"], dict.fromkeys(MEASURES, 0.0))
                for m in MEASURES:
                    acc[m] = None if acc[m] is None or s[m] is None else acc[m] + s[m]
        for m in MEASURES:
            vals = [acc[m] for acc in per_it.values()]
            measured = [v for v in vals if v is not None]
            # -1 marks a layer that ran but whose figures were all lost
            value = statistics.median(measured) if measured else (-1.0 if vals else 0.0)
            out[f"{name}.{m}"] = (value, units.get(m, "s"))
    for kind in ("minutely", "catchup"):
        recs = [s for s in spans if s["name"] == f"diff.runner.apply_one.{kind}"]
        for st in RUNNER_STAGES:
            vals = [r["stages"].get(st, 0.0) for r in recs]
            out[f"diff.runner.apply_one.{kind}.{st}_s"] = (statistics.median(vals) if vals else 0.0, "s")
        wall = sum(r["wall_s"] for r in recs)
        out[f"diff.runner.apply_one.{kind}.changes_per_s"] = (
            sum(r["changes"] for r in recs) / wall if wall else 0.0, "1/s"
        )
    top = sum(s["wall_s"] for s in spans if s["parent"] is None)
    out["trace.span_coverage"] = (top / run.traced_wall_s if run.traced_wall_s else 0.0, "ratio")
    out["trace.overhead_share"] = (
        statistics.median(t / u - 1.0 for u, t in run.overhead) if run.overhead else 0.0, "ratio"
    )
    out["trace.bookkeeping_s"] = (run.tracer.bookkeeping_s, "s")
    out["trace.lost"] = (float(sum(s["lost"] for s in spans)), "count")
    return out
