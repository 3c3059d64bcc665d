"""The benchmark's own model of the engine's graph, and the answer checks.

The model replays, in plain Python, what `GraphEngine.bootstrap` and the
refresh endpoints are specified to do to the jump table and the two route
projections, and answers every route with networkx Dijkstra:

- the cost projection is the current jump table, weight 1 per edge;
- the risk projection is the jump table as it stood at the last
  `refresh_risk`, each edge weighted by its destination's risk
  kills²/jumps + baseline (kills² when jumps == 0), baseline =
  Σkills/Σjumps over the feeds (0.01 when Σjumps == 0);
- activity feeds update only the systems they list; the rest keep their
  previous counters;
- a wormhole refresh drops every edge touching Thera or Turnur (gates
  included) and inserts both directions of each wormhole signature.
"""

from __future__ import annotations

import math

import networkx as nx

from perfbench.universe import Universe

COST_ROUTE = "shortest-route"
RISK_ROUTE = "safest-route"


def risk(kills: int, jumps: int, baseline: float) -> float:
    """Same IEEE-754 operation order as functions.risk.risk_expr."""
    ratio = float(kills) * kills / jumps if jumps > 0 else float(kills) * kills
    return ratio + baseline


def baseline(kill_rows: list[tuple], jump_rows: list[tuple]) -> float:
    tk = sum(k for _, k in kill_rows)
    tj = sum(j for _, j in jump_rows)
    return float(tk) / float(tj) if tj > 0 else 0.01


class UniverseModel:
    def __init__(self, uni: Universe):
        self.ids = {n: s for s, n in uni.names.items()}
        self.names = uni.names
        self.reset_ids = set(uni.reset_ids)
        self.kills = {row[0]: row[11] for row in uni.systems}
        self.jumps = {row[0]: row[12] for row in uni.systems}
        self.edges: set[tuple[int, int]] = {(g[1], g[3]) for g in uni.stargates}
        self.risk_weights: dict[tuple[int, int], float] = {}
        self._graphs: dict[str, nx.DiGraph] = {}

    def bootstrap(self, kill_rows, jump_rows, signature_rows) -> None:
        """Same order as GraphEngine.bootstrap: risk before wormholes."""
        self.refresh_risk(kill_rows, jump_rows)
        self.refresh_wormholes(signature_rows)

    def refresh_risk(self, kill_rows, jump_rows) -> None:
        self.kills.update(dict(kill_rows))
        self.jumps.update(dict(jump_rows))
        base = baseline(kill_rows, jump_rows)
        self.risk_weights = {
            (a, b): risk(self.kills[b], self.jumps[b], base) for a, b in self.edges
        }
        self._graphs.pop(RISK_ROUTE, None)

    def refresh_wormholes(self, signature_rows) -> None:
        self.edges = {(a, b) for a, b in self.edges
                      if a not in self.reset_ids and b not in self.reset_ids}
        for _, kind, a, b in signature_rows:
            if kind == "wormhole":
                self.edges |= {(a, b), (b, a)}
        self._graphs.pop(COST_ROUTE, None)

    def weights(self, route: str) -> dict[tuple[int, int], float]:
        if route == COST_ROUTE:
            return dict.fromkeys(self.edges, 1.0)
        return self.risk_weights

    def graph(self, route: str) -> nx.DiGraph:
        if route not in self._graphs:
            g = nx.DiGraph()
            g.add_weighted_edges_from((a, b, w) for (a, b), w in self.weights(route).items())
            self._graphs[route] = g
        return self._graphs[route]

    def expected_cost(self, route: str, src: str, dst: str) -> float | None:
        """Dijkstra cost, or None when the engine must answer 404."""
        if src not in self.ids or dst not in self.ids:
            return None
        s, d = self.ids[src], self.ids[dst]
        if s == d:
            return 0.0
        g = self.graph(route)
        if s not in g or d not in g:
            return None
        try:
            return nx.dijkstra_path_length(g, s, d)
        except nx.NetworkXNoPath:
            return None

    def check_route(self, route: str, src: str, dst: str, status: int,
                    path: list[str] | None) -> str | None:
        """None when the answer is right, else why it is wrong."""
        want = self.expected_cost(route, src, dst)
        if want is None:
            return None if status == 404 else f"expected 404, got {status}"
        if status != 200 or not path:
            return f"expected a route of cost {want}, got status {status}"
        if path[0] != src or path[-1] != dst:
            return f"path runs {path[0]} -> {path[-1]}, not {src} -> {dst}"
        if any(n not in self.ids for n in path):
            return "path names an unknown system"
        w = self.weights(route)
        cost = 0.0
        for a, b in zip(path, path[1:]):
            edge = (self.ids[a], self.ids[b])
            if edge not in w:
                return f"no edge {a} -> {b}"
            cost += w[edge]
        if not math.isclose(cost, want, rel_tol=1e-9, abs_tol=1e-12):
            return f"path cost {cost} != Dijkstra cost {want}"
        return None

    def edge_rows(self) -> list[tuple[int, int]]:
        """Current jump edges (src_system_id, dst_system_id), sorted."""
        return sorted(self.edges)
