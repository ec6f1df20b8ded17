"""Seeded inputs and the in-memory reference model the benchmark checks against.

Everything here is plain Python: the graph generator, the OLTP op
sequence, a model of the GraphDB journal semantics (latest upsert wins,
``remove_vertex`` cascades to the incident live edges, an edge is visible
only while both endpoints are live) and the reference answers for the
analytics jobs (union-find components, BFS levels, bidirectional
distance, the reciprocal-pair motif and reciprocity counts, and the
exact integer PageRank and HITS scores the kernels compute).
"""

from __future__ import annotations

import itertools
import random
from collections import deque

RELS = ("follows", "likes")
PR_UNIT = 10**12  # pagerank_frame's fixed-point unit: rank_e12
PR_BASE = 15 * PR_UNIT // 100
HITS_UNIT = 1_000_000
KINDS = ("user", "item", "tag")


class Sampler:
    """Draws vertex indices either uniformly or Zipf(1)-skewed over a
    seeded rank permutation, so the hubs are scattered over the id space."""

    def __init__(self, rng: random.Random, n: int, skewed: bool):
        self.rng = rng
        self.n = n
        self.skewed = skewed
        if skewed:
            self.rank_to_vertex = list(range(n))
            rng.shuffle(self.rank_to_vertex)
            self.cum = list(itertools.accumulate(1.0 / (k + 1) for k in range(n)))

    def vertex(self) -> str:
        if self.skewed:
            rank = self.rng.choices(range(self.n), cum_weights=self.cum)[0]
            return f"v{self.rank_to_vertex[rank]}"
        return f"v{self.rng.randrange(self.n)}"

    def edges(self, count: int) -> list[tuple]:
        """``count`` (src, dst, rel, weight) rows with no self loops and no
        (src, dst, rel) key repeated, so one append never holds two upserts
        of the same edge."""
        out = []
        taken = set()
        while len(out) < count:
            src, dst = self.vertex(), self.vertex()
            key = (src, dst, self.rng.choice(RELS))
            if src == dst or key in taken:
                continue
            taken.add(key)
            out.append((*key, round(self.rng.uniform(0.0, 10.0), 2)))
        return out


def generate_graph(sampler: Sampler, n_edges: int):
    vertices = [(f"v{i}", KINDS[i % len(KINDS)], f"name{i}") for i in range(sampler.n)]
    return vertices, sampler.edges(n_edges)


# One OLTP cycle: mostly point reads, some adjacency reads, small edge
# batches and one vertex removal, then a compaction. The order is fixed and
# the seed picks only the targets and the edges, so every seed's reads see
# the same number of journal files.
CYCLE = (("read",) * 3 + ("neighbors",) + ("read",) * 3 + ("write",)) * 2 + ("remove_vertex",)
WRITE_BATCH = 20


def generate_ops(sampler: Sampler, n_cycles: int) -> list[tuple]:
    """The closed-loop op sequence as (kind, argument) tuples: ``n_cycles``
    copies of CYCLE, each followed by ``("compact", None)``. Removal
    targets are drawn uniformly from vertices not removed before."""
    rng = sampler.rng
    removed: set[str] = set()
    ops: list[tuple] = []
    for _ in range(n_cycles):
        for kind in CYCLE:
            if kind in ("read", "neighbors"):
                ops.append((kind, sampler.vertex()))
            elif kind == "write":
                ops.append((kind, sampler.edges(WRITE_BATCH)))
            else:
                vid = f"v{rng.randrange(sampler.n)}"
                while vid in removed:
                    vid = f"v{rng.randrange(sampler.n)}"
                removed.add(vid)
                ops.append((kind, vid))
        ops.append(("compact", None))
    return ops


class GraphModel:
    """What GraphDB's replay must return after the same mutations."""

    def __init__(self):
        self.attrs: dict[str, tuple[str, str]] = {}
        self.edges: dict[tuple[str, str, str], float] = {}
        self.out: dict[str, set] = {}
        self.inc: dict[str, set] = {}

    def add_vertices(self, rows) -> None:
        for vid, kind, name in rows:
            self.attrs[vid] = (kind, name)

    def add_edges(self, rows) -> None:
        for src, dst, rel, w in rows:
            self.edges[(src, dst, rel)] = float(w)
            self.out.setdefault(src, set()).add((src, dst, rel))
            self.inc.setdefault(dst, set()).add((src, dst, rel))

    def remove_vertex(self, vid: str) -> None:
        for key in list(self.out.get(vid, ())) + list(self.inc.get(vid, ())):
            if self._visible(key):
                self._drop(key)
        self.attrs.pop(vid, None)

    def _drop(self, key) -> None:
        del self.edges[key]
        self.out[key[0]].discard(key)
        self.inc[key[1]].discard(key)

    def _visible(self, key) -> bool:
        return key in self.edges and key[0] in self.attrs and key[1] in self.attrs

    def visible_edges(self) -> list[tuple[str, str, str]]:
        return [k for k in self.edges if k[0] in self.attrs and k[1] in self.attrs]

    def get_vertex(self, vid: str) -> list[tuple]:
        return [(vid, *self.attrs[vid])] if vid in self.attrs else []

    def neighbors(self, vid: str) -> list[tuple]:
        return sorted(
            (s, d, r, self.edges[(s, d, r)], *self.attrs[d])
            for s, d, r in self.out.get(vid, ())
            if self._visible((s, d, r))
        )

    # -------------------------------------------------- analytics references

    def _undirected(self) -> dict[str, set]:
        adj: dict[str, set] = {v: set() for v in self.attrs}
        for s, d, _ in self.visible_edges():
            adj[s].add(d)
            adj[d].add(s)
        return adj

    def components(self) -> dict[str, str]:
        """Vertex -> smallest id in its undirected component (union-find)."""
        parent = {v: v for v in self.attrs}

        def root(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for s, d, _ in self.visible_edges():
            a, b = root(s), root(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
        return {v: root(v) for v in self.attrs}

    def bfs_levels(self, source: str, max_level: int) -> dict[str, int]:
        adj = self._undirected()
        levels = {source: 0}
        queue = deque([source])
        while queue:
            v = queue.popleft()
            if levels[v] == max_level:
                continue
            for w in adj.get(v, ()):
                if w not in levels:
                    levels[w] = levels[v] + 1
                    queue.append(w)
        return levels

    def distance(self, src: str, dst: str, limit: int) -> int:
        """Undirected hop distance, or -1 beyond ``limit`` hops or unreachable."""
        return self.bfs_levels(src, limit).get(dst, -1)

    def reciprocal_pairs(self) -> int:
        """Matches of ``(a)-[]->(b); (b)-[]->(a)``: one per pair of edges
        a->b and b->a, whatever their rel."""
        fwd: dict[tuple[str, str], int] = {}
        for s, d, _ in self.visible_edges():
            fwd[(s, d)] = fwd.get((s, d), 0) + 1
        return sum(n * fwd.get((d, s), 0) for (s, d), n in fwd.items())

    def reciprocity_counts(self) -> tuple[int, int]:
        vis = self.visible_edges()
        pairs = {(s, d) for s, d, _ in vis}
        return len(vis), sum((d, s) in pairs for s, d, _ in vis)

    def pagerank(self, iters: int) -> dict[str, int]:
        """Vertex -> rank_e12 after ``iters`` supersteps over the distinct
        undirected neighbour pairs: every rank starts at one unit, a
        vertex sends ``rank div degree`` to each neighbour, and the new
        rank is ``BASE + (85 * received) div 100``."""
        adj = self._undirected()
        rank = {v: PR_UNIT for v in adj}
        for _ in range(iters):
            got = dict.fromkeys(adj, 0)
            for v, nbrs in adj.items():
                if nbrs:
                    share = rank[v] // len(nbrs)
                    for w in nbrs:
                        got[w] += share
            rank = {v: PR_BASE + 85 * got[v] // 100 for v in adj}
        return rank

    def hits(self, iters: int) -> dict[str, tuple[int, int]]:
        """Vertex -> (hub, auth) after ``iters`` rounds of HITS over the
        visible directed edges (one message per edge, whatever its rel),
        each score max-normalised to HITS_UNIT with integer division."""
        vis = [(s, d) for s, d, _ in self.visible_edges()]

        def normalise(raw: dict[str, int]) -> dict[str, int]:
            top = max(max(raw.values(), default=0), 1)
            return {v: x * HITS_UNIT // top for v, x in raw.items()}

        hub = dict.fromkeys(self.attrs, HITS_UNIT)
        auth = dict.fromkeys(self.attrs, 0)
        for _ in range(iters):
            raw = dict.fromkeys(self.attrs, 0)
            for s, d in vis:
                raw[d] += hub[s]
            auth = normalise(raw)
            raw = dict.fromkeys(self.attrs, 0)
            for s, d in vis:
                raw[s] += auth[d]
            hub = normalise(raw)
        return {v: (hub[v], auth[v]) for v in self.attrs}
