"""Seeded synthetic city and OsmChange stream for the benchmark.

Everything here is plain Python and deterministic in the seed: the same
seed gives the same elements, the same PBF bytes and the same `.osc` bytes.
No Spark is needed, so the generator's own predictions (row counts, final
element set, moved POIs) are independent of the program under test.

Coordinates live on the PBF grid. A coordinate is an integer number of
1e-6 degree units, and its float value is computed exactly as the PBF
decoder computes it from the file's 1e-7 degree integers
(``1e-9 * (100 * (10 * units))``). `.osc` files carry the ``repr`` of that
float, so a node reaches the engine with bit-identical coordinates whether
it came from the PBF base or from a change file.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr

BLOCK = 10_000  # one block edge, in 1e-6 degree units (0.01 deg, ~1 km)
AMENITIES = ("cafe", "restaurant", "school", "pharmacy", "bank")
BUILDINGS = ("yes", "house", "apartments")


def deg(units: int) -> float:
    """Float degrees for a PBF-grid coordinate, as sources.pbf decodes it."""
    return 1e-9 * (100 * (10 * units))


@dataclass
class City:
    """An OSM element set plus the bookkeeping the checks need.

    nodes: id -> (lon_units, lat_units, tags); ways: id -> (refs, tags);
    relations: id -> (members [(id, type, role)], tags)."""

    nodes: dict[int, tuple[int, int, dict]] = field(default_factory=dict)
    ways: dict[int, tuple[list[int], dict]] = field(default_factory=dict)
    relations: dict[int, tuple[list[tuple[int, int, str]], dict]] = field(default_factory=dict)
    next_node: int = 1
    next_way: int = 1
    next_rel: int = 1

    def add_node(self, x: int, y: int, tags: dict | None = None) -> int:
        nid = self.next_node
        self.next_node += 1
        self.nodes[nid] = (x, y, tags or {})
        return nid

    def add_way(self, refs: list[int], tags: dict | None = None) -> int:
        wid = self.next_way
        self.next_way += 1
        self.ways[wid] = (refs, tags or {})
        return wid

    def add_rect(self, x0: int, y0: int, x1: int, y1: int, tags: dict | None = None) -> int:
        ids = [self.add_node(x, y) for x, y in ((x0, y0), (x1, y0), (x1, y1), (x0, y1))]
        return self.add_way(ids + ids[:1], tags)

    def add_relation(self, members: list[tuple[int, int, str]], tags: dict) -> int:
        rid = self.next_rel
        self.next_rel += 1
        self.relations[rid] = (members, tags)
        return rid

    def copy(self) -> "City":
        return City(
            dict(self.nodes),
            {k: (list(r), dict(t)) for k, (r, t) in self.ways.items()},
            {k: (list(m), dict(t)) for k, (m, t) in self.relations.items()},
            self.next_node,
            self.next_way,
            self.next_rel,
        )

    @property
    def n_elements(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.relations)

    def rows(self) -> tuple[list[tuple], list[tuple], list[tuple]]:
        """(nodes, ways, relations) as NODE/WAY/RELATION_SCHEMA tuples, id order."""
        nodes = [
            (i, deg(x), deg(y), dict(t), None) for i, (x, y, t) in sorted(self.nodes.items())
        ]
        ways = [(i, list(r), dict(t), None) for i, (r, t) in sorted(self.ways.items())]
        rels = [(i, list(m), dict(t), None) for i, (m, t) in sorted(self.relations.items())]
        return nodes, ways, rels

    def write_pbf(self, path: str) -> None:
        from imposm3_spark.sources.pbf import write_pbf

        nodes, ways, rels = self.rows()
        write_pbf(path, [n[:4] for n in nodes], [w[:3] for w in ways], [r[:3] for r in rels])

    def expected_counts(self) -> dict[str, int]:
        """Rows each mapping table should hold, derived from the element set
        alone (the mapping in perfbench/mapping.yml is written to make this
        a plain count)."""
        pois = sum(
            1
            for _, _, t in self.nodes.values()
            if t.get("amenity") in AMENITIES or t.get("highway") == "bus_stop"
        )
        roads = [t for r, t in self.ways.values() if "highway" in t]
        buildings = sum(1 for _, t in self.ways.values() if "building" in t)
        landuse = [t for _, t in self.ways.values() if "landuse" in t]
        parks = [
            m for m, t in self.relations.values() if t.get("type") == "multipolygon"
        ]
        routes = [m for m, t in self.relations.values() if t.get("route") == "bus"]
        return {
            "pois": pois,
            "roads": len(roads),
            "buildings": buildings,
            "landusages": len(landuse) + len(parks),
            "routes": len(routes),
            "route_members": sum(len(m) for m in routes),
            "roads_gen0": sum(1 for t in roads if t["highway"] in ("primary", "secondary")),
            "landusages_gen1": sum(1 for t in landuse if t["landuse"] != "grass") + len(parks),
        }


def make_city(seed: int, nx: int, ny: int) -> City:
    """A street grid of nx x ny blocks with buildings, landuse, multipolygon
    parks (outer ring with one hole), POIs and bus routes."""
    rng = random.Random(seed)
    city = City()
    ox = 7_000_000 + rng.randrange(0, 200_000)  # 7.0-7.2 E
    oy = 43_600_000 + rng.randrange(0, 200_000)  # 43.6-43.8 N

    # street grid: one node per intersection, streets split every 8 blocks
    cross = {
        (r, c): city.add_node(ox + c * BLOCK, oy + r * BLOCK)
        for r in range(ny + 1)
        for c in range(nx + 1)
    }
    seg = 8
    row_ways: dict[int, list[int]] = {}
    for r in range(ny + 1):
        kind = "primary" if r % 5 == 0 else "residential"
        for c0 in range(0, nx, seg):
            refs = [cross[(r, c)] for c in range(c0, min(nx, c0 + seg) + 1)]
            wid = city.add_way(refs, {"highway": kind, "name": f"Row {r}"})
            row_ways.setdefault(r, []).append(wid)
    for c in range(nx + 1):
        kind = "secondary" if c % 4 == 0 else "residential"
        for r0 in range(0, ny, seg):
            refs = [cross[(r, c)] for r in range(r0, min(ny, r0 + seg) + 1)]
            city.add_way(refs, {"highway": kind, "name": f"Column {c}"})

    for r in range(ny):
        for c in range(nx):
            x0, y0 = ox + c * BLOCK, oy + r * BLOCK
            u = rng.random()
            if u < 0.08:
                outer = city.add_rect(x0 + 1000, y0 + 1000, x0 + 9000, y0 + 9000)
                inner = city.add_rect(x0 + 4000, y0 + 4000, x0 + 6000, y0 + 6000)
                city.add_relation(
                    [(outer, 1, "outer"), (inner, 1, "inner")],
                    {"type": "multipolygon", "leisure": "park", "name": f"Park {r}-{c}"},
                )
                continue
            if u < 0.33:
                city.add_rect(
                    x0 + 500, y0 + 500, x0 + 9500, y0 + 9500,
                    {"landuse": rng.choice(("residential", "commercial"))},
                )
            elif u < 0.55:
                city.add_rect(x0 + 4200, y0 + 4200, x0 + 5800, y0 + 5800, {"landuse": "grass"})
            for q in range(4):
                bx = x0 + 1500 + (q % 2) * 4000
                by = y0 + 1500 + (q // 2) * 4000
                city.add_rect(bx, by, bx + 2500, by + 2500, {"building": rng.choice(BUILDINGS)})
            for k in range(1 + rng.randrange(2)):
                city.add_node(
                    x0 + 1000 + rng.randrange(8000),
                    y0 + 1000 + rng.randrange(8000),
                    {"amenity": rng.choice(AMENITIES), "name": f"POI {r}-{c}-{k}"},
                )

    # bus routes along every third row: the row's street ways plus stops
    for k, r in enumerate(range(1, ny, 3)):
        members = [(w, 1, "") for w in row_ways[r]]
        for c in range(0, nx, 2):
            stop = city.add_node(
                ox + c * BLOCK + BLOCK // 2, oy + r * BLOCK + 300,
                {"highway": "bus_stop", "name": f"Stop {r}-{c}"},
            )
            members.append((stop, 0, "stop"))
        city.add_relation(
            members, {"type": "route", "route": "bus", "ref": str(k + 1), "name": f"Bus {k + 1}"}
        )
    return city


# ---------------------------------------------------------------------------
# OsmChange stream
# ---------------------------------------------------------------------------


@dataclass
class Sequence:
    """A drained-in-order list of change batches and what they imply."""

    batches: list[list[tuple]]  # (op, kind, id, payload) per change
    kinds: list[str]  # "minutely" | "catchup", per batch
    states: list[City]  # element set after each batch
    # per batch: [(lon_units, lat_units) before, (lon, lat) after] of moved POIs
    poi_moves: list[list[tuple[tuple[int, int], tuple[int, int]]]]


def make_sequence(base: City, seed: int, sizes: list[tuple[str, int]]) -> Sequence:
    """Change batches over `base`. sizes: (kind, n_changes) per batch.

    Mix per batch: node moves on building corners (plain ways), on park
    outer rings (multipolygon members) and on route streets (route
    members); POI moves; building/road tag edits; POI and building deletes;
    POI and building creates. The second batch also edits one route's
    member list. Each element changes at most once per batch."""
    rng = random.Random(seed * 7919 + 17)
    city = base.copy()
    building_ways = sorted(w for w, (_, t) in city.ways.items() if "building" in t)
    road_ways = sorted(w for w, (_, t) in city.ways.items() if "highway" in t)
    park_rings = sorted(
        m[0] for m_, t in city.relations.values() if t.get("type") == "multipolygon"
        for m in m_ if m[2] == "outer"
    )
    route_rels = sorted(r for r, (_, t) in city.relations.items() if t.get("route") == "bus")
    route_nodes = sorted(
        {n for r in route_rels for m in city.relations[r][0] if m[1] == 1
         for n in city.ways[m[0]][0]}
    )
    pois = sorted(n for n, (_, _, t) in city.nodes.items() if t.get("amenity") in AMENITIES)
    home = {n: (x, y) for n, (x, y, _) in city.nodes.items()}
    x0 = min(x for x, _ in home.values())
    y0 = min(y for _, y in home.values())

    def pick(ids: list[int], used: set[int]) -> int | None:
        # a live id not yet changed in this batch (None after 20 misses)
        for _ in range(20):
            i = ids[rng.randrange(len(ids))]
            if i not in used:
                used.add(i)
                return i
        return None

    batches, kinds, states, poi_moves = [], [], [], []
    for b, (kind, n) in enumerate(sizes):
        used_n: set[int] = set()
        used_w: set[int] = set()
        out: list[tuple] = []
        moves: list = []

        def move(nid: int, spread: int) -> None:
            hx, hy = home[nid]
            x, y, t = city.nodes[nid]
            nx_, ny_ = hx + rng.randint(-spread, spread), hy + rng.randint(-spread, spread)
            city.nodes[nid] = (nx_, ny_, t)
            out.append(("modify", "node", nid, city.nodes[nid]))
            if t.get("amenity"):
                moves.append(((x, y), (nx_, ny_)))

        def corner_of(wid: int) -> int | None:
            refs = city.ways[wid][0]
            nid = refs[rng.randrange(len(refs) - 1)]
            if nid in used_n:
                return None
            used_n.add(nid)
            return nid

        shares = [
            ("building_node", 25), ("park_node", 10), ("route_node", 10), ("poi_move", 15),
            ("way_tags", 15), ("delete", 10), ("create", 15),
        ]
        for what, pct in shares:
            for _ in range(max(1, n * pct // 100)):
                if what == "building_node" and building_ways:
                    w = pick(building_ways, used_w)
                    nid = corner_of(w) if w is not None else None
                    if nid is not None:
                        move(nid, 200)
                elif what == "park_node" and park_rings:
                    nid = corner_of(park_rings[rng.randrange(len(park_rings))])
                    if nid is not None:
                        move(nid, 200)
                elif what == "route_node" and route_nodes:
                    nid = pick(route_nodes, used_n)
                    if nid is not None:
                        move(nid, 200)
                elif what == "poi_move" and pois:
                    nid = pick(pois, used_n)
                    if nid is not None:
                        move(nid, 3000)
                elif what == "way_tags":
                    if rng.random() < 0.5:
                        w = pick(building_ways, used_w)
                        if w is not None:
                            refs, t = city.ways[w]
                            t = dict(t, building=rng.choice(BUILDINGS), name=f"B{b}")
                            city.ways[w] = (refs, t)
                            out.append(("modify", "way", w, (refs, t)))
                    else:
                        w = pick(road_ways, used_w)
                        if w is not None:
                            refs, t = city.ways[w]
                            t = dict(t, name=f"{t['name'].split(' #')[0]} #{b}")
                            city.ways[w] = (refs, t)
                            out.append(("modify", "way", w, (refs, t)))
                elif what == "delete":
                    if rng.random() < 0.7 and len(pois) > 10:
                        nid = pick(pois, used_n)
                        if nid is not None:
                            pois.remove(nid)
                            x, y, t = city.nodes.pop(nid)
                            out.append(("delete", "node", nid, (x, y, {})))
                    elif len(building_ways) > 10:
                        w = pick(building_ways, used_w)
                        if w is not None:
                            building_ways.remove(w)
                            refs, _ = city.ways.pop(w)
                            out.append(("delete", "way", w, (refs, {})))
                elif what == "create":
                    if rng.random() < 0.6:
                        x, y = x0 + rng.randrange(BLOCK * 4), y0 + rng.randrange(BLOCK * 4)
                        tags = {"amenity": rng.choice(AMENITIES), "name": f"New {b}"}
                        nid = city.add_node(x, y, tags)
                        home[nid] = (x, y)
                        used_n.add(nid)
                        out.append(("create", "node", nid, city.nodes[nid]))
                    else:
                        # a new building in the street gap of a random block edge
                        bx = x0 + rng.randrange(8) * BLOCK + 9600
                        by = y0 + rng.randrange(8) * BLOCK + 2000
                        w = city.add_rect(bx, by, bx + 300, by + 300, {"building": "yes"})
                        refs = city.ways[w][0]
                        for nid in refs[:4]:
                            home[nid] = city.nodes[nid][:2]
                            used_n.add(nid)
                            out.append(("create", "node", nid, city.nodes[nid]))
                        used_w.add(w)
                        building_ways.append(w)
                        out.append(("create", "way", w, city.ways[w]))
        if b == 1 and route_rels:
            rid = route_rels[0]
            members, t = city.relations[rid]
            members = members[:-1]  # drop the last stop
            city.relations[rid] = (members, t)
            out.append(("modify", "relation", rid, (members, t)))
        batches.append(out)
        kinds.append(kind)
        states.append(city.copy())
        poi_moves.append(moves)
    return Sequence(batches, kinds, states, poi_moves)


def _tags_xml(tags: dict) -> str:
    return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in tags.items())


def osc_xml(batch: list[tuple]) -> str:
    """One batch as OsmChange XML; changes keep their order within each
    op block (create, modify, delete)."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>', '<osmChange version="0.6">']
    for op in ("create", "modify", "delete"):
        parts.append(f"<{op}>")
        for o, kind, eid, payload in batch:
            if o != op:
                continue
            if kind == "node":
                x, y, tags = payload
                parts.append(
                    f'<node id="{eid}" version="2" lat="{deg(y)!r}" lon="{deg(x)!r}">'
                    f"{_tags_xml(tags)}</node>"
                )
            elif kind == "way":
                refs, tags = payload
                nds = "".join(f'<nd ref="{r}"/>' for r in refs)
                parts.append(f'<way id="{eid}" version="2">{nds}{_tags_xml(tags)}</way>')
            else:
                members, tags = payload
                names = ("node", "way", "relation")
                mem = "".join(
                    f'<member type="{names[t]}" ref="{m}" role={quoteattr(role)}/>'
                    for m, t, role in members
                )
                parts.append(
                    f'<relation id="{eid}" version="2">{mem}{_tags_xml(tags)}</relation>'
                )
        parts.append(f"</{op}>")
    parts.append("</osmChange>")
    return "\n".join(parts) + "\n"


def write_sequence(seq: Sequence, diff_dir: str) -> list[str]:
    """Write batch i as sequence number i+1 in the nested osmosis layout
    (<dir>/000/000/001.osc) that diff.runner.sequence_path reads."""
    paths = []
    for i, batch in enumerate(seq.batches):
        n = i + 1
        path = os.path.join(
            diff_dir, f"{n // 1_000_000:03d}", f"{(n // 1000) % 1000:03d}", f"{n % 1000:03d}.osc"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(osc_xml(batch))
        paths.append(path)
    return paths
