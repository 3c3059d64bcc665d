"""Seeded EVE-like universe, refresh feeds and request streams.

Everything here is plain Python data built from one ``random.Random``, so
the same seed gives the same inputs and the engine only ever sees the
generated rows (as DataFrames built in ``run.py``).

Shape, after the reference working set of ~5k gate-connected systems,
~2.6k gateless wormhole-space systems and ~14k stargates, at a quarter of
its size by default (`Sizes`; perfbench/METRICS.md says why): regions hold
constellations, constellations hold systems; gates form a spanning tree
inside each constellation, between the constellations of a region and
between regions, plus extra chords. Thera is a gateless wormhole-space
system and Turnur a gate-connected one; every wormhole signature touches
one of them, as on the EVE-Scout feed, so each wormhole refresh replaces
the whole wormhole edge set.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

HUB_NAMES = ("Jita", "Amarr", "Dodixie", "Rens", "Hek")
RESET_NAMES = ("Thera", "Turnur")
NON_WORMHOLE_TYPES = ("combat", "data", "relic", "gas")

# two in ROUTE_404_EVERY requests name an unknown or an unreachable system
ROUTE_404_EVERY = 20
# untimed requests that open every run: both 404 kinds, then one shortest
# and one safest route (route latency still falls over the first few)
WARMUP_REQUESTS = 4
# share of requests whose source is a trade hub; the rest are uniform
HUB_SHARE = 0.5
# share of (non-404) requests whose destination is within a few jumps
NEAR_SHARE = 0.25


CONSTELLATIONS_PER_REGION = (12, 22)
SYSTEMS_PER_CONSTELLATION = (3, 6)
EXTRA_GATE_SHARE = 0.7  # chords on top of the spanning trees
WORMHOLES_PER_BATCH = 40
OTHER_SIGNATURES_PER_BATCH = 12


@dataclass(frozen=True)
class Sizes:
    regions: int = 16
    wspace_systems: int = 650


@dataclass
class Universe:
    systems: list[tuple]  # rows of eve_graph_spark.schemas.SYSTEM
    stargates: list[tuple]  # rows of eve_graph_spark.schemas.STARGATE
    names: dict[int, str]
    kspace: list[int]
    wspace: list[int]
    hubs: list[int]
    reset_ids: tuple[int, ...]
    # undirected gate connections (a, b) with a < b
    gates: list[tuple[int, int]]
    # wormhole-space systems no signature ever targets: always unreachable
    isolated: list[int]


@dataclass(frozen=True)
class Request:
    route: str  # "shortest-route" | "safest-route"
    src: str
    dst: str
    expect_404: bool


_SYLLABLES = ("ka", "ro", "mi", "tal", "ven", "os", "ur", "dre", "ax", "lo",
              "sei", "nar", "pho", "gu", "zen", "ith", "bel", "qua")


def _name(rng: random.Random, used: set[str]) -> str:
    while True:
        n = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        n = f"{n.capitalize()}-{rng.randint(1, 99)}"
        if n not in used:
            used.add(n)
            return n


def _tree_and_chords(rng: random.Random, nodes: list, extra: float) -> list[tuple]:
    """Random spanning tree over `nodes` plus ~extra*len chords (undirected)."""
    out = []
    for i in range(1, len(nodes)):
        out.append((nodes[i], nodes[rng.randrange(i)]))
    if len(nodes) > 2:
        for _ in range(int(extra * len(nodes))):
            a, b = rng.sample(nodes, 2)
            out.append((a, b))
    return out


def make_universe(seed: int, sizes: Sizes = Sizes()) -> Universe:
    rng = random.Random(seed)
    used: set[str] = set(HUB_NAMES) | set(RESET_NAMES)
    names: dict[int, str] = {}
    coords: dict[int, tuple[float, float, float]] = {}
    next_id = 30_000_001
    regions: list[list[list[int]]] = []
    for _ in range(sizes.regions):
        rc = [rng.uniform(-1e18, 1e18) for _ in range(3)]
        consts = []
        for _ in range(rng.randint(*CONSTELLATIONS_PER_REGION)):
            cc = [c + rng.uniform(-1e16, 1e16) for c in rc]
            members = []
            for _ in range(rng.randint(*SYSTEMS_PER_CONSTELLATION)):
                names[next_id] = _name(rng, used)
                coords[next_id] = tuple(c + rng.uniform(-1e15, 1e15) for c in cc)
                members.append(next_id)
                next_id += 1
            consts.append(members)
        regions.append(consts)
    kspace = sorted(names)
    const_of = {s: (ri, ci) for ri, consts in enumerate(regions)
                for ci, members in enumerate(consts) for s in members}

    conns: set[tuple[int, int]] = set()

    def connect(a: int, b: int) -> None:
        if a != b:
            conns.add((min(a, b), max(a, b)))

    extra = EXTRA_GATE_SHARE
    for consts in regions:
        for members in consts:
            for a, b in _tree_and_chords(rng, members, extra):
                connect(a, b)
        for ca, cb in _tree_and_chords(rng, list(range(len(consts))), extra / 2):
            connect(rng.choice(consts[ca]), rng.choice(consts[cb]))
    for ra, rb in _tree_and_chords(rng, list(range(len(regions))), extra / 2):
        connect(rng.choice(rng.choice(regions[ra])), rng.choice(rng.choice(regions[rb])))

    hubs = rng.sample(kspace, len(HUB_NAMES))
    for sid, n in zip(hubs, HUB_NAMES):
        names[sid] = n
    # a dead-end system, so the wormhole reset (which drops Turnur's gates
    # too) never splits the gate network
    degree: dict[int, int] = {}
    for a, b in conns:
        degree[a] = degree.get(a, 0) + 1
        degree[b] = degree.get(b, 0) + 1
    turnur = rng.choice([s for s in kspace if degree.get(s) == 1 and s not in hubs])
    names[turnur] = "Turnur"

    wspace = []
    next_id = 31_000_001
    for _ in range(sizes.wspace_systems):
        names[next_id] = _name(rng, used)
        coords[next_id] = tuple(rng.uniform(-1e18, 1e18) for _ in range(3))
        wspace.append(next_id)
        next_id += 1
    thera = wspace[0]
    names[thera] = "Thera"
    isolated = wspace[-max(4, sizes.wspace_systems // 10):]

    # two stargates per connection, one in each system
    gates_of: dict[int, list[int]] = {s: [] for s in names}
    stargates = []
    gid = 50_000_001
    for a, b in sorted(conns):
        ga, gb = gid, gid + 1
        gid += 2
        for g, s, dg, ds in ((ga, a, gb, b), (gb, b, ga, a)):
            x, y, z = coords[s]
            stargates.append((g, s, dg, ds, f"Stargate ({names[ds]})", x, y, z, 29624))
            gates_of[s].append(g)

    systems = []
    for sid in sorted(names):
        x, y, z = coords[sid]
        ws = sid >= 31_000_000
        sec = -1.0 if ws else round(rng.uniform(-1.0, 1.0), 3)
        ri, ci = const_of.get(sid, (-1, -1))
        systems.append((
            sid, names[sid], -1 if ws else 20_000_000 + ri * 100 + ci, sec,
            "undefined" if ws else ("A" if sec >= 0.5 else "C"),
            40_000_000 + sid % 1_000_000, x, y, z, [], gates_of[sid], 0, 0,
        ))
    return Universe(systems, stargates, names, kspace, wspace, hubs,
                    (thera, turnur), sorted(conns), isolated)


def make_activity(rng: random.Random, uni: Universe) -> tuple[list[tuple], list[tuple]]:
    """(kills rows, jumps rows) for schemas.SYSTEM_KILLS / SYSTEM_JUMPS.

    Like ESI, the feeds cover a subset of systems (the rest keep their
    previous counters); kills are mostly zero with a heavy tail."""
    kills, jumps = [], []
    for sid in uni.kspace:
        if rng.random() < 0.8:
            k = 0 if rng.random() < 0.7 else int(rng.paretovariate(1.2))
            kills.append((sid, min(k, 500)))
        if rng.random() < 0.9:
            jumps.append((sid, rng.randint(0, 400)))
    return kills, jumps


def make_signatures(rng: random.Random, uni: Universe) -> list[tuple]:
    """One EVE-Scout poll: wormholes from Thera/Turnur plus non-wormhole
    signature rows that the engine must filter out."""
    skip = set(uni.reset_ids) | set(uni.isolated)
    targets = [s for s in uni.kspace + uni.wspace if s not in skip]
    rows = []
    for i in range(WORMHOLES_PER_BATCH):
        rows.append((f"w{i}", "wormhole", rng.choice(uni.reset_ids), rng.choice(targets)))
    for i in range(OTHER_SIGNATURES_PER_BATCH):
        rows.append((f"o{i}", rng.choice(NON_WORMHOLE_TYPES),
                     rng.choice(targets), rng.choice(targets)))
    rng.shuffle(rows)
    return rows


def _near(rng: random.Random, adj: dict[int, list[int]], src: int) -> int:
    cur = src
    for _ in range(rng.randint(1, 4)):
        cur = rng.choice(adj[cur]) if adj[cur] else cur
    return cur


def make_requests(rng: random.Random, uni: Universe, n: int) -> list[Request]:
    """Closed-loop request stream: shortest and safest routes alternate;
    sources skew toward trade hubs. Slots 0 and 1 of every ROUTE_404_EVERY
    requests are an unreachable-destination 404 (which still runs the whole
    route search) and an unknown-source 404, so the WARMUP_REQUESTS that
    open every run check both 404 kinds before a shortest and a safest
    route."""
    pool = [s for s in uni.kspace if s not in uni.reset_ids]
    adj: dict[int, list[int]] = {s: [] for s in pool}
    for a, b in uni.gates:
        if a in adj and b in adj:
            adj[a].append(b)
            adj[b].append(a)
    reqs = []
    for i in range(n):
        route = "shortest-route" if i % 2 == 0 else "safest-route"
        src = rng.choice(uni.hubs) if rng.random() < HUB_SHARE else rng.choice(pool)
        slot = i % ROUTE_404_EVERY
        if slot == 0:
            reqs.append(Request(route, uni.names[src], uni.names[rng.choice(uni.isolated)], True))
        elif slot == 1:
            reqs.append(Request(route, f"Unknown-{rng.randint(1, 10**6)}", uni.names[src], True))
        else:
            dst = _near(rng, adj, src) if rng.random() < NEAR_SHARE else rng.choice(pool)
            reqs.append(Request(route, uni.names[src], uni.names[dst], False))
    return reqs
