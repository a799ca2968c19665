"""Incremental update: apply OsmChange batches to element state + output
tables (SURVEY §2.8 T1-T8; reference: update/process.go:23-317).

Semantics ported:
- last-write-wins per element id within a batch (T1)
- delete-before-insert: every changed element's rows are removed from all
  output tables before rebuilt rows are inserted (T2, update/deleter.go)
- cascading invalidation: a changed node rebuilds referencing ways and
  relations; a changed way rebuilds referencing relations — computed
  against the union of OLD and NEW reference indexes so both the previous
  and the new geometry owners are refreshed (T3, update/process.go:220-259)
- the rebuild reuses the exact import pipeline on the affected subset (T5)

Spark shape: a batch is pure DataFrame algebra — anti-join + union for
state, semi-joins for the frontier, the ImportPipeline for rebuild. Wrap
`apply_batch` in foreachBatch for Structured Streaming; state tables would
be Delta/parquet at scale (here: local checkpoints, pinned per batch).

`apply_batch` is the only batch body: the replication runner, the
Structured Streaming replicator and the `diff` command all call it once
per batch (reference: both `imposm diff` and `imposm run` feed
importDiffFile).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imposm3_spark import elements as el
from imposm3_spark.diff import refindex as ri
from imposm3_spark.pipeline.engine import ImportPipeline, _union_all


@dataclass
class OsmState:
    """Current element snapshot (the Spark analog of OSMCache)."""

    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame


def _last_change_per_id(changes: DataFrame, kind: str) -> DataFrame:
    ch = changes.filter(F.col("kind") == kind)
    w = Window.partitionBy(F.col(kind)["id"]).orderBy(F.desc("pos"))
    return ch.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def apply_changes_to_state(state: OsmState, changes: DataFrame) -> OsmState:
    """New element snapshot after the batch (T4)."""

    def upd(df: DataFrame, kind: str) -> DataFrame:
        last = _last_change_per_id(changes, kind)
        changed_ids = last.select(F.col(kind)["id"].alias("id"))
        kept = df.join(changed_ids, "id", "left_anti")
        upserts = last.filter(F.col("op") != "delete").select(f"{kind}.*")
        # allowMissingColumns: pre-metadata state DataFrames (or fixture
        # frames built without the optional metadata struct) upsert cleanly
        return kept.unionByName(upserts, allowMissingColumns=True)

    return OsmState(
        nodes=upd(state.nodes, "node"),
        ways=upd(state.ways, "way"),
        relations=upd(state.relations, "relation"),
    )


@dataclass
class Frontier:
    """Element ids whose output rows must be rebuilt."""

    node_ids: DataFrame  # (id)
    way_ids: DataFrame
    rel_ids: DataFrame


def compute_frontier(state: OsmState, new_state: OsmState, changes: DataFrame) -> Frontier:
    """T3: changed ids + transitive dependents (2 hops max: node->way->rel).

    Dependencies are resolved against BOTH the old and new state: the old
    index catches ways/relations that referenced a now-deleted element; the
    new index catches references added by the batch.

    The three id sets are localCheckpointed (tiny — bounded by the batch's
    blast radius). Everything downstream of a batch references the
    frontier MANY times (3 rebuild semi-joins, ~7 delete anti-joins, 6
    expiry branches), and Spark re-executes a shared subtree once per
    referencing branch — unpinned, each reference re-pays the full
    reverse-reference scan of the state. Round-10 benchdiff measured the
    unpinned chain at ~10x the pinned wall on a 32-replica Monaco state."""
    changed_nodes = changes.filter(F.col("kind") == "node").select(
        F.col("node")["id"].alias("id")
    ).distinct()
    changed_ways = changes.filter(F.col("kind") == "way").select(
        F.col("way")["id"].alias("id")
    ).distinct()
    changed_rels = changes.filter(F.col("kind") == "relation").select(
        F.col("relation")["id"].alias("id")
    ).distinct()

    # pin each hop BEFORE the next consumes it, so the rel hop scans the
    # state once against a materialized way frontier instead of embedding
    # (and re-executing) the whole way-hop subtree
    changed_nodes = changed_nodes.localCheckpoint()

    dep_ways = _union_all(
        [
            ri.dependent_ways(state.ways, changed_nodes),
            ri.dependent_ways(new_state.ways, changed_nodes),
        ]
    ).distinct()
    way_frontier = changed_ways.unionByName(dep_ways).distinct().localCheckpoint()

    dep_rels = _union_all(
        [
            ri.dependent_relations(state.relations, changed_nodes, way_frontier),
            ri.dependent_relations(new_state.relations, changed_nodes, way_frontier),
        ]
    ).distinct()
    rel_frontier = changed_rels.unionByName(dep_rels).distinct().localCheckpoint()
    return Frontier(node_ids=changed_nodes, way_ids=way_frontier, rel_ids=rel_frontier)


def affected_osm_ids(pipe: ImportPipeline, frontier: Frontier) -> dict[str, DataFrame]:
    """osm_id sets to DELETE per table type, with the writers' id mangling
    (T2; update/deleter.go deletes by id from every possibly-matching
    table)."""
    single = pipe.mapping.single_id_space
    node_ids = frontier.node_ids.select(el.node_osm_id(F.col("id")).alias("osm_id"))
    way_ids = frontier.way_ids.select(el.way_osm_id(F.col("id"), single).alias("osm_id"))
    rel_ids = frontier.rel_ids.select(el.relation_osm_id(F.col("id"), single).alias("osm_id"))
    return {
        "point": node_ids,
        "linestring": way_ids,
        "polygon": way_ids.unionByName(rel_ids),
        "geometry": node_ids.unionByName(way_ids).unionByName(rel_ids),
        "relation": rel_ids,
        "relation_member": rel_ids,
    }


def rebuild_tables(
    pipe: ImportPipeline,
    new_state: OsmState,
    frontier: Frontier,
    hint: bool = True,
) -> dict[str, DataFrame]:
    """T5: run the import pipeline on the frontier subset. Coordinates and
    member elements resolve against the full new state (a moved node must
    pull its way's other, unchanged nodes) — but only the REACHABLE
    CLOSURE of the frontier is ever read, so the state tables are pruned
    to it first with broadcast semi joins (one scan each, no exchange).
    Unpruned, the pipeline's resolve joins sort-merge — i.e. shuffle the
    ENTIRE coord/way tables per batch, which at planet scale turns a
    500-element diff into a full-data shuffle.

    Closure: frontier rels -> their way/node members; (frontier ∪ member)
    ways -> their refs. All broadcast sets are blast-radius-bounded (a
    batch's elements × mean way length)."""
    # explicit broadcast: frontier.rel_ids is a checkpointed RDD scan with
    # no size statistics, so the planner fell back to SortMergeJoin and
    # shuffled the ENTIRE relations state (with its members arrays) per
    # batch — round-10 probe caught it; the id set is blast-radius-sized
    # like every other frontier side here
    # hint=False (count-gated by apply_batch, round-10 ADVICE): a catch-up
    # batch's frontier can exceed broadcastable size — the unhinted joins
    # degrade to sort-merge gracefully instead of OOMing the driver.
    maybe_bcast = (lambda d: F.broadcast(d)) if hint else (lambda d: d)
    rels = new_state.relations.join(
        maybe_bcast(frontier.rel_ids), "id", "leftsemi"
    ).localCheckpoint()

    member_way_ids = (
        rels.select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == 1)
        .select(F.col("m.id").alias("id"))
    )
    way_ids = (
        frontier.way_ids.unionByName(member_way_ids).distinct().localCheckpoint()
    )
    needed_ways = new_state.ways.join(
        maybe_bcast(way_ids), "id", "leftsemi"
    ).localCheckpoint()
    ways = needed_ways.join(maybe_bcast(frontier.way_ids), "id", "leftsemi")

    member_node_ids = (
        rels.select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == 0)
        .select(F.col("m.id").alias("id"))
    )
    ref_ids = (
        needed_ways.select(F.explode("refs").alias("id"))
        .unionByName(member_node_ids)
        .unionByName(frontier.node_ids)
        .distinct()
        .localCheckpoint()
    )
    needed_nodes = new_state.nodes.join(
        maybe_bcast(ref_ids), "id", "leftsemi"
    ).localCheckpoint()
    nodes = needed_nodes.join(maybe_bcast(frontier.node_ids), "id", "leftsemi")

    coords = pipe.prepare_coords(needed_nodes)
    tables: dict[str, list[DataFrame]] = {}
    # The four builders are independent given the materialized prunes, and
    # each contains lazy pins whose non-final stages AQE materializes AT
    # CONSTRUCTION — built serially, those stage chains run one builder at
    # a time. Constructing them from a small pool overlaps the chains
    # (the same concurrent-submission pattern as apply_batch's
    # state pins): probe at 32 replicas/500 changes measured the parts
    # wall 12-16 s serial vs ~10 s threaded. pipe._expr races at worst
    # rebuild an identical Column tree (last write wins — all values
    # equal); part ORDER stays deterministic via the futures list.
    builders = (
        lambda: pipe.relation_member_tables(rels, needed_ways, needed_nodes),
        lambda: pipe.relation_tables(rels, needed_ways, coords),
        lambda: pipe.way_tables(ways, coords),
        lambda: pipe.node_tables(nodes),
    )
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        parts = [f.result() for f in [pool.submit(b) for b in builders]]
    for part in parts:
        for name, df in part.items():
            tables.setdefault(name, []).append(df)
    return {name: _union_all(dfs) for name, dfs in tables.items()}


def _resolve_latlon(ways: DataFrame, nodes: DataFrame, keep_cols: list[str]) -> DataFrame:
    """Attach lon/lat coord arrays to ways, position-ordered. Unresolvable
    refs become (0,0) placeholder nodes — the tile expiry skips them,
    exactly like the reference's partially-filled ways (tilelist.go
    skip-empty-node checks).

    Join shape: `ways` is a diff-batch blast radius (small); `nodes` is
    the FULL element state. A direct left join would sort-merge — i.e.
    shuffle the entire node table per call (4 calls per batch). Instead
    the node side is pruned with a broadcast semi join on the referenced
    ids (one scan of state, no exchange), and the pruned set — bounded by
    the frontier ways' total ref count — broadcasts into the outer join.
    `ways` is pinned on entry: it is referenced three times below (the
    explode, the ref-id prune, the final join), and its upstream subtree
    (frontier semi join + the giant match predicates, which Catalyst
    pushes below the join onto the full way table) must execute once, not
    per reference."""
    # LAZY pin: all three references below land inside the caller's single
    # expiry-union action, so a lazy checkpoint keeps the compute-once
    # semantics without a dedicated scheduler job per call (4 calls per
    # diff batch). Warm in-JVM alternating A/B, 3 rounds at 32 Monaco
    # replicas: lazy won every round, wall medians 85.5 s vs 96.9 s for
    # 2x500-change batches (round-10).
    ways = ways.localCheckpoint(eager=False)
    ex = ways.select("id", "refs").dropDuplicates(["id"]).select(
        "id", F.posexplode("refs").alias("pos", "ref")
    )
    ref_ids = ex.select(F.col("ref").alias("id")).distinct()
    needed = nodes.join(F.broadcast(ref_ids), "id", "leftsemi")
    j = ex.join(
        F.broadcast(needed.select(F.col("id").alias("ref"), "lon", "lat")), "ref", "left"
    )
    agg = j.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "pos",
                    F.struct(
                        F.coalesce("lon", F.lit(0.0)).alias("lon"),
                        F.coalesce("lat", F.lit(0.0)).alias("lat"),
                    ).alias("c"),
                )
            )
        ).alias("_pts")
    )
    resolved = agg.select("id", F.transform("_pts", lambda p: p["c"]).alias("coords"))
    return ways.select("id", *[c for c in keep_cols if c != "id"]).join(
        resolved, "id", "inner"
    )


def _eval_once(cond):
    """Trivially-true nondeterministic guard (spark_partition_id() is
    never negative — value unchanged): bars Catalyst from substituting
    the wrapped expression into pushed-down filters, so a cheap pruning
    join below runs FIRST and the expression touches only surviving
    rows. See _match_after_prune for the measured case."""
    return F.when(F.spark_partition_id() >= 0, cond)


def _match_after_prune(df: DataFrame, cond) -> DataFrame:
    """Filter ``df`` by the (expensive) mapping-match predicate WITHOUT
    letting Catalyst push it below the frontier semi join.

    The expiry branches prune the full element state to the batch's blast
    radius with a broadcast LEFT SEMI join (620k rows -> ~2k at the bench
    state), then filter by the mapping match expression — a tree holding
    every unit's match + table filter. Pushed below the join (the default
    for a deterministic filter), that tree evaluates over the ENTIRE
    state per branch per batch: round-10 probe measured the four
    _resolve_latlon constructions at 11-14 s/batch, almost all of it
    full-table match evaluation. The _eval_once guard bars the
    substitution, so the semi join runs first and the match tree touches
    only blast-radius rows."""
    flag = "_match_keep"
    return df.withColumn(flag, _eval_once(cond)).filter(F.col(flag)).drop(flag)


def _any_match(pipe: ImportPipeline, units, tags, closed, relation: bool):
    from imposm3_spark.mapping.matcher import table_filter_expr

    cond = F.lit(False)
    for u in units:
        m = u.match_expr(tags)
        f = table_filter_expr(pipe.mapping, u.table, tags, m["key"], closed, relation=relation)
        cond = cond | (m.isNotNull() & f)
    return cond


def expired_tiles_for_batch(
    pipe: ImportPipeline,
    state: OsmState,
    new_state: OsmState,
    frontier: Frontier,
    max_zoom: int = 14,
    hint: bool = True,
) -> DataFrame:
    """T7: z/x/y tiles touched by the batch — both the OLD geometries (the
    deleter expires rows it removes, update/deleter.go:136-238) and the
    NEW ones (writers expire inserted rows). Expiry is MATCH-AWARE: only
    elements whose tags match the mapping on that side expire — a node
    modified to an unmapped tag expires its old location but not its new
    one (test/expire_tiles_test.go:100-104).

    - matched nodes expire as padded points
    - matched ways as line walks; closed geometry (polygon match) as bbox
      fills with the <64/<500 zoom cascade
    - matched relations expire every way member's node run; the deleter
      side uses closed=polygon-matched (deleter.go:153), the writer side
      closed=true (writer/relations.go:127-131)

    Returns DISTINCT (z, x, y); feed to TileExpireList/flush for the file
    sink (S14)."""
    from imposm3_spark.expire.tiles import expired_tiles
    from imposm3_spark.mapping.matcher import tag_prefilter_expr

    # The match/prefilter Column trees are LARGE (every unit's match +
    # filter expression) and side-independent — build them once per
    # ImportPipeline and reuse across sides AND batches. Column objects
    # are unresolved expressions, freely reusable across DataFrames;
    # rebuilding them per call cost ~10 s of py4j round-trips per batch.
    exprs = getattr(pipe, "_expire_match_exprs", None)
    if exprs is None:
        closed = (F.size("refs") >= 4) & (
            F.try_element_at("refs", F.lit(1)) == F.try_element_at("refs", F.lit(-1))
        )
        area_tag = F.coalesce(F.col("tags").getItem("area"), F.lit(""))
        as_line = ~(closed & (area_tag == "yes"))
        as_poly = closed & (area_tag != "no")
        exprs = {
            "node_prefilter": tag_prefilter_expr(pipe.mapping, "node", F.col("tags")),
            "way_prefilter": tag_prefilter_expr(pipe.mapping, "way", F.col("tags")),
            "rel_prefilter": tag_prefilter_expr(
                pipe.mapping, "relation", F.col("tags")
            ),
            "node_m": _any_match(
                pipe, pipe.point_units, F.col("tags"), F.lit(False), relation=False
            ),
            "line_m": as_line
            & _any_match(pipe, pipe.line_units, F.col("tags"), closed, relation=False),
            "poly_m": as_poly
            & _any_match(
                pipe, pipe.polygon_units, F.col("tags"), closed, relation=False
            ),
            "rpoly_m": _any_match(
                pipe, pipe.polygon_units, F.col("tags"), F.lit(True), relation=True
            ),
            "rother_m": _any_match(
                pipe,
                pipe.relation_units + pipe.relation_member_units,
                F.col("tags"),
                F.lit(True),
                relation=True,
            ),
        }
        pipe._expire_match_exprs = exprs

    # hint=False (count-gated by apply_batch, round-10 ADVICE): catch-up
    # batches degrade to sort-merge instead of forcing a broadcast
    maybe_bcast = (lambda d: F.broadcast(d)) if hint else (lambda d: d)
    parts = []
    for st, is_new in ((state, False), (new_state, True)):
        all_nodes = st.nodes.select("id", "lon", "lat")

        # Pin discipline: the way sets are pinned inside _resolve_latlon
        # (multiply-referenced there); nodes/relations are consumed
        # exactly once each, and the geoms union at the end pins the
        # whole batch in one job — pinning them here would only add a job
        # of fixed overhead per branch.

        # nodes (deleter.go:206-238; writer/nodes.go:91-92)
        nd = (
            st.nodes.join(maybe_bcast(frontier.node_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["node_prefilter"])
        )
        nd = _match_after_prune(nd, exprs["node_m"])
        parts.append(
            nd.select(
                F.array(F.struct(F.col("lon"), F.col("lat"))).alias("coords"),
                F.lit(False).alias("closed"),
            )
        )

        # ways (deleter.go:159-204; writer/ways.go:122-123) — pinned
        # inside _resolve_latlon
        wy = (
            st.ways.join(maybe_bcast(frontier.way_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["way_prefilter"])
        )
        # guarded (_eval_once): keeps the match evaluation above the
        # frontier semi join — see _match_after_prune
        wy = wy.withColumns(
            {
                "_line_m": _eval_once(exprs["line_m"]),
                "_poly_m": _eval_once(exprs["poly_m"]),
            }
        ).filter(F.col("_line_m") | F.col("_poly_m"))
        parts.append(
            _resolve_latlon(wy, all_nodes, keep_cols=["_poly_m"]).select(
                "coords", F.col("_poly_m").alias("closed")
            )
        )

        # relations: every way member's node run (deleter.go:136-155;
        # writer/relations.go:127-131)
        rl = (
            st.relations.join(maybe_bcast(frontier.rel_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["rel_prefilter"])
        )
        rl = rl.withColumn("_poly_m", _eval_once(exprs["rpoly_m"])).filter(
            # the disjunction references the guarded _poly_m, so the whole
            # predicate (incl. the relation-match tree) stays above the
            # frontier semi join
            F.col("_poly_m") | exprs["rother_m"]
        )
        # member side is blast-radius-sized — broadcast it so the full
        # way table scans once without an exchange
        members = (
            rl.select("_poly_m", F.explode("members").alias("m"))
            .filter(F.col("m.type") == 1)
            .select(F.col("m.id").alias("way_id"), "_poly_m")
        )
        member_ways = (
            st.ways.select(F.col("id").alias("way_id"), "refs")
            .join(F.broadcast(members), "way_id", "inner")
            .select(F.col("way_id").alias("id"), "refs", "_poly_m")
        )
        rel_closed = F.lit(True) if is_new else F.col("_poly_m")
        parts.append(
            _resolve_latlon(member_ways, all_nodes, keep_cols=["_poly_m"]).select(
                "coords", rel_closed.alias("closed")
            )
        )

    geoms = parts[0]
    for p in parts[1:]:
        geoms = geoms.unionByName(p)
    # materialize the (blast-radius-sized) union in ONE job before the
    # tiles UDF: otherwise AQE runs each of the six branches as its own
    # stage-job chain through the Python runner (~20 jobs of fixed
    # overhead to tile a few hundred geometries)
    geoms = geoms.localCheckpoint()
    return expired_tiles(geoms, max_zoom=max_zoom)


# Broadcast-hint gate (round-10 ADVICE): a batch of more than DIFF_GATE
# changes counts its pinned frontier sets, and if any could exceed
# BROADCAST_LIMIT ids (~32 MB) every frontier-side broadcast hint is dropped.
DIFF_GATE = 100_000
BROADCAST_LIMIT = 4_000_000


@dataclass
class Batch:
    """Result of one apply_batch: the pinned element state, output tables
    and generalized tables after the batch, and per-stage walls."""

    state: OsmState
    tables: dict[str, DataFrame]
    gens: dict[str, DataFrame] | None
    stage_secs: dict[str, float]


def apply_batch(
    pipe: ImportPipeline,
    state: OsmState,
    tables: dict[str, DataFrame],
    changes: DataFrame,
    *,
    gens: dict[str, DataFrame] | None = None,
    expire_dir: str | None = None,
    expire_zoom: int = 14,
) -> Batch:
    """One diff batch end-to-end: state upsert, frontier, delete+rebuild,
    tile expiry (when expire_dir is set) and the per-id refresh of the
    generalized tables (when gens is given).

    The batch pins with localCheckpoint: the element state, the frontier,
    the output tables and the gens. Local checkpoints are
    NOT fault tolerant — their blocks live on the executors that computed
    them, so a lost executor fails the next batch instead of recomputing
    the lineage. They also cut the lineage, so the returned frames no
    longer read the inputs (the `diff` command relies on this to overwrite
    its input parquet).

    stage_secs holds the wall of each stage, keyed where the lazy batch
    plan actually executes: state, frontier, rebuild (plan construction
    plus the rebuild's shared-frontier pins), tables, expire (only with
    expire_dir) and gens (only with gens).

    The delete+insert pair per table is exactly the reference's sync-tx
    mode (database/postgis/tx.go:116-199); against a real PostGIS sink
    this maps to DELETE WHERE osm_id IN (...) followed by batched INSERTs
    inside one transaction (see sinks/postgis.py)."""
    stage_secs: dict[str, float] = {}

    # Pin the upserted state and the frontier FIRST: every downstream
    # consumer (rebuild semi-joins, delete anti-joins, expiry branches, gen
    # refresh) references them several times, and Spark re-executes an
    # unpinned subtree once per referencing branch. Pinning here (tiny
    # jobs — the upsert is an anti-join+union over the already-pinned
    # previous state; the frontier is the batch's blast radius) turned
    # round-10 benchdiff's per-batch wall from ~190 s to single-digit
    # seconds at 32 Monaco replicas.
    t0 = time.perf_counter()
    new_state = apply_changes_to_state(state, changes)
    # the three state pins are independent — submit them concurrently
    # (each is a small job; serial submission pays three scheduler
    # round-trips where one suffices on an idle cluster)
    with ThreadPoolExecutor(max_workers=3) as pool:
        n_f, w_f, r_f = (
            pool.submit(new_state.nodes.localCheckpoint),
            pool.submit(new_state.ways.localCheckpoint),
            pool.submit(new_state.relations.localCheckpoint),
        )
        new_state = OsmState(n_f.result(), w_f.result(), r_f.result())
    stage_secs["state"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    frontier = compute_frontier(state, new_state, changes)
    # The frontier-side hints assume a blast-radius-bounded batch, but
    # batch size is input-controlled (catch-up replication, mass edits).
    # Normal batches pay NOTHING here (changes is a driver-side
    # LocalRelation — count() is no job); a catch-up-sized batch pays three
    # tiny count jobs on the pinned frontier and, if any side could exceed
    # the broadcastable bound, drops every hint so the joins degrade to
    # sort-merge instead of OOMing the driver. Residual: a pathological
    # fan-out from FEW changes is not gated — it is bounded by the state's
    # max ways-per-node fan-in.
    hint = True
    if changes.count() > DIFF_GATE:
        hint = all(
            df.count() <= BROADCAST_LIMIT
            for df in (frontier.node_ids, frontier.way_ids, frontier.rel_ids)
        )
    stage_secs["frontier"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    rebuilt = rebuild_tables(pipe, new_state, frontier, hint=hint)
    delete_ids = affected_osm_ids(pipe, frontier)
    new_tables: dict[str, DataFrame] = {}
    for name, df in tables.items():
        table_type = pipe.mapping.tables[name].type
        dels = delete_ids.get(table_type)
        # broadcast: dels is the frontier's mangled-id set (blast-radius
        # bounded) read from checkpointed RDDs with no stats — unhinted,
        # the anti join sort-merges, i.e. shuffles the ENTIRE output table
        # per batch (round-10 probe class)
        kept = (
            df.join(F.broadcast(dels) if hint else dels, "osm_id", "left_anti")
            if dels is not None
            else df
        )
        if name in rebuilt:
            kept = kept.unionByName(rebuilt[name])
        new_tables[name] = kept
    for name, df in rebuilt.items():
        if name not in new_tables:
            new_tables[name] = df
    stage_secs["rebuild"] = round(time.perf_counter() - t0, 3)

    expire_future = None
    expire_pool = None
    try:
        if expire_dir is not None:
            # expiry depends only on (state, new_state, frontier) — all
            # pinned above — so it runs CONCURRENTLY with the table pins
            # below; its wall is still recorded separately
            def _expire() -> float:
                from imposm3_spark.expire.tiles import TileExpireList

                t0 = time.perf_counter()
                tiles = expired_tiles_for_batch(
                    pipe, state, new_state, frontier, max_zoom=expire_zoom, hint=hint
                )
                tl = TileExpireList(max_zoom=expire_zoom)
                for r in tiles.collect():
                    tl.tiles.setdefault(r["z"], set()).add((r["x"], r["y"]))
                tl.flush(expire_dir)
                return round(time.perf_counter() - t0, 3)

            expire_pool = ThreadPoolExecutor(max_workers=1)
            expire_future = expire_pool.submit(_expire)
        t0 = time.perf_counter()
        # per-table pins are independent jobs — overlap them (same
        # concurrent-submission pattern as the import bench's sink writes)
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = {n: pool.submit(df.localCheckpoint) for n, df in new_tables.items()}
            new_tables = {n: f.result() for n, f in futs.items()}
        stage_secs["tables"] = round(time.perf_counter() - t0, 3)
    finally:
        # the expire pool must not leak (and its future must be awaited)
        # even when a table pin raises mid-batch (round-10 ADVICE)
        if expire_pool is not None:
            if expire_future is not None:
                stage_secs["expire"] = expire_future.result()
            expire_pool.shutdown()

    if gens is not None:
        # per-id gen refresh (T6) off the MATERIALIZED base tables — from
        # unpinned tables the gen lineage would re-execute the whole
        # rebuild per gen table
        from imposm3_spark.pipeline.generalize import refresh_generalized_tables

        t0 = time.perf_counter()
        new_gens = refresh_generalized_tables(pipe.mapping, gens, new_tables, delete_ids)
        gens = {n: df.localCheckpoint() for n, df in new_gens.items()}
        stage_secs["gens"] = round(time.perf_counter() - t0, 3)
    return Batch(new_state, new_tables, gens, stage_secs)
