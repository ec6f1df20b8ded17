"""The ``graphdb`` workload: the GraphDB journal lifecycle.

A seeded Zipf-skewed graph is bulk-loaded into a fresh journal; a
closed-loop OLTP pass (point reads, adjacency reads, small edge batches,
vertex removals, a compaction after each cycle) runs over it; then a
fixed analytics job list runs over the compacted journal. Every output
is checked against ``graphmodel.GraphModel`` outside the timed windows.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

from base import Run, log, pct

N_VERTICES = 8_000  # pagerank_frame's integer units overflow near 1e5 vertices
N_EDGES = 40_000
INGEST_BATCH = 10_000
CYCLE_SECONDS = 25  # --seconds / CYCLE_SECONDS OLTP cycles, at least 1
PAGERANK_REPS = 2  # the traced run makes one
PAGERANK_ITERS = 3
HITS_ITERS = 1
BFS_MAX_LEVEL = 2
SP_HALF = 2
MOTIF = "(a)-[]->(b); (b)-[]->(a)"

KERNELS = {  # analytics job -> the module layer it exercises
    "pagerank": "algos.pagerank",
    "bfs": "algos.bfs",
    "find": "motif.find",
    "reciprocity": "api.reciprocity",
    # the traced run only: these feed per-layer metrics, not end-to-end ones
    "cc": "algos.cc",
    "shortest_path": "graph_extras.shortest_path",
    "hits": "centrality.hits",
}
E2E_JOBS = ("bfs", "find", "reciprocity", "pagerank")
COUNTED_OPS = ("read", "neighbors", "write", "compact", *KERNELS)

PER_LAYER = {
    "api.add_edges_ms": "ms",
    "api.add_edges_p90_ms": "ms",
    "api.remove_vertex_ms": "ms",
    "api.add_edges_bulk_ms": "ms",
    "api.ingest_s": "s",
    "api.get_vertex.build_ms": "ms",
    "api.get_vertex.collect_ms": "ms",
    "api.neighbors.build_ms": "ms",
    "api.neighbors.collect_ms": "ms",
    "api.read_p90_ms": "ms",
    "api.neighbors_p50_ms": "ms",
    "api.neighbors_p90_ms": "ms",
    "api.journal_files": "count",
    "api.events_per_read": "events/row",
    "api.compact_s": "s",
    "api.journal_bytes_per_live_edge": "B/edge",
    **{f"{layer}.{part}_s": "s" for layer in KERNELS.values() for part in ("build", "run")},
    **{f"spark.{kind}.{op}": "count" for op in COUNTED_OPS for kind in ("jobs", "tasks")},
}


class GraphRun(Run):
    PER_LAYER = PER_LAYER
    COUNTED_OPS = COUNTED_OPS

    def setup(self) -> None:
        from graph_database_akkatyped_spark.api import GraphDB
        from graphmodel import GraphModel, Sampler, generate_graph, generate_ops

        self.start_spark()
        sampler = Sampler(self.rng, N_VERTICES, skewed=True)
        self.vertices, self.edges = generate_graph(sampler, N_EDGES)
        self.ops = generate_ops(sampler, max(1, round(self.args.seconds / CYCLE_SECONDS)))
        self.model = GraphModel()

        # Untimed warm-up: a fresh JVM's first append and first replay load
        # and compile the parquet write and read paths; left in, that
        # one-time cost made the bulk-load time the least steady figure.
        t0 = time.perf_counter()
        warm = GraphDB(self.spark, os.path.join(self.scratch, "warmup"))
        warm.add_vertices(self.vertices[:10])
        warm.add_edges([(f"v{i}", f"v{i + 1}", "follows", 1.0) for i in range(9)])
        warm.get_vertex("v0").collect()
        log(f"warm-up took {time.perf_counter() - t0:.1f} s")

        journal = os.path.join(self.scratch, "db")
        self.db = GraphDB(self.spark, journal)
        self.make_tracer(os.path.join(journal, "journal"))

        t0 = time.perf_counter()
        self.ingest()
        self.excluded_s = time.perf_counter() - t0  # ingest is not set-up
        self.sample("api.ingest_s", self.excluded_s)
        log(f"ingest took {self.excluded_s:.1f} s")

    def ingest(self) -> None:
        """Bulk load through the public appends, in fixed-size batches."""
        for rows, append, name in (
            (self.vertices, self.db.add_vertices, "api.add_vertices_bulk_ms"),
            (self.edges, self.db.add_edges, "api.add_edges_bulk_ms"),
        ):
            for i in range(0, len(rows), INGEST_BATCH):
                self.attempted += 1
                t0 = time.perf_counter()
                append(rows[i:i + INGEST_BATCH])
                self.sample(name, (time.perf_counter() - t0) * 1e3)
        self.model.add_vertices(self.vertices)
        self.model.add_edges(self.edges)

    def measure(self) -> None:
        t0 = time.perf_counter()
        self.check_s = 0.0
        for kind, arg in self.ops:
            self.attempted += 1
            try:
                self._op(kind, arg)
            except Exception:  # an op that raises is a failed op; the pass goes on
                self.fail(f"{kind}({arg if kind != 'write' else '...'}) raised")
                traceback.print_exc()
        self.pass_s = time.perf_counter() - t0 - self.check_s
        log(f"OLTP pass {self.pass_s:.1f} s + checks {self.check_s:.1f} s")
        t0 = time.perf_counter()
        self.analytics()
        log(f"analytics phase {time.perf_counter() - t0:.1f} s")

    def live_counts(self) -> tuple[int, int]:
        from pyspark.sql import functions as F

        n = F.count(F.lit(1))
        v = self.db.vertices().agg(n.alias("v"))
        e = self.db.edges().agg(n.alias("e"))
        row = v.crossJoin(e).first()
        return row.v, row.e

    def _checked(self, ok, what: str) -> None:
        """Run the check ``ok()`` and leave its time out of the pass."""
        c0 = time.perf_counter()
        self.check(ok(), what)
        self.check_s += time.perf_counter() - c0

    def _op(self, kind: str, arg) -> None:
        m, tr = self.model, self.tracer
        if kind in ("read", "neighbors"):
            ask = self.db.get_vertex if kind == "read" else self.db.neighbors
            name = "get_vertex" if kind == "read" else "neighbors"
            with tr.op(kind):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = ask(arg)
                t1 = time.perf_counter()
                with tr.span("collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
            self.sample(f"{kind}_ms", (t2 - t0) * 1e3)
            self.sample(f"api.{name}.build_ms", (t1 - t0) * 1e3)
            self.sample(f"api.{name}.collect_ms", (t2 - t1) * 1e3)
            want = m.get_vertex(arg) if kind == "read" else m.neighbors(arg)
            self._checked(lambda: sorted(tuple(r) for r in rows) == want,
                          f"{kind}({arg}) differs from the model")
            if tr.enabled:
                files, events = tr.journal()
                tr.count("api.journal_files", files)
                tr.count("journal_events", events)
                tr.count("rows_returned", len(rows))
        elif kind in ("write", "remove_vertex"):
            call = self.db.add_edges if kind == "write" else self.db.remove_vertex
            with tr.op(kind):
                t0 = time.perf_counter()
                call(arg)
                self.sample(f"{kind}_ms", (time.perf_counter() - t0) * 1e3)
            (m.add_edges if kind == "write" else m.remove_vertex)(arg)
        else:
            c0 = time.perf_counter()
            before = self.live_counts()
            self.check_s += time.perf_counter() - c0
            with tr.op(kind):
                t0 = time.perf_counter()
                self.db.compact()
                self.sample("compact_s", time.perf_counter() - t0)
            want = (len(m.attrs), len(m.visible_edges()))
            c0 = time.perf_counter()
            after = self.live_counts()
            self.check(before == after == want,
                       f"compact: live counts before {before} after {after} model {want}")
            self.check_s += time.perf_counter() - c0
            if tr.enabled:
                tr.count("api.journal_bytes_per_live_edge",
                         tr.journal_bytes() / max(after[1], 1))

    def analytics(self) -> None:
        """Run the job list over the journal the OLTP pass left compacted,
        PageRank PAGERANK_REPS times, checking every output against the
        model. The traced run makes one PageRank and adds kernels that
        feed per-layer metrics only."""
        m, db = self.model, self.db
        linked = sorted({v for e in m.visible_edges() for v in e[:2]})
        src = self.rng.choice(linked)
        a, b = self.rng.sample(linked, 2)
        ranks = m.pagerank(PAGERANK_ITERS)
        # The cheap jobs go first: they load the replay and edge-symmetrising
        # plans that PageRank also runs, so its repetitions differ less.
        jobs = [
            ("bfs", lambda: db.bfs(src, BFS_MAX_LEVEL),
             lambda df: {r.id: r.level for r in df.collect()}
             == m.bfs_levels(src, BFS_MAX_LEVEL)),
            ("find", lambda: db.find(MOTIF),
             lambda df: df.count() == m.reciprocal_pairs()),
            ("reciprocity", db.reciprocity,
             lambda df: [(r.m_edges, r.m_reciprocal) for r in df.collect()]
             == [m.reciprocity_counts()]),
        ] + [
            ("pagerank", lambda: db.pagerank(PAGERANK_ITERS),
             lambda df: {r.id: r.rank_e12 for r in df.collect()} == ranks),
        ] * (1 if self.args.trace else PAGERANK_REPS)
        if self.args.trace:
            jobs += [
                ("cc", db.connected_components,
                 lambda df: {r.id: r.component for r in df.collect()} == m.components()),
                ("shortest_path", lambda: db.shortest_path_len(a, b, SP_HALF),
                 lambda df: [r.dist for r in df.collect()] == [m.distance(a, b, 2 * SP_HALF)]),
                ("hits", lambda: db.hits(HITS_ITERS),
                 lambda df: {r.id: (r.hub, r.auth) for r in df.collect()} == m.hits(HITS_ITERS)),
            ]
        for name, build, ok in jobs:
            df = self.timed_job(name, KERNELS[name], build)
            if df is not None:
                try:
                    self.check(ok(df), f"{name}: output differs from the model")
                except Exception:
                    self.fail(f"{name}: checking the output raised")
                    traceback.print_exc()

    def e2e(self, setup_s: float) -> dict:
        return {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(self.t["read_ms"]),
            "ops_per_s": len(self.ops) / self.pass_s,  # compactions included
            "main_job_s": self.job_s("pagerank"),
            "jobs_s": sum(self.job_s(name) for name in E2E_JOBS),
        }

    def per_layer(self) -> dict:
        t, tr = self.t, self.tracer
        med = statistics.median
        out = {
            "api.add_edges_ms": med(t["write_ms"]),
            "api.add_edges_p90_ms": pct(t["write_ms"], 90),
            "api.remove_vertex_ms": med(t["remove_vertex_ms"]),
            "api.add_edges_bulk_ms": med(t["api.add_edges_bulk_ms"]),
            "api.ingest_s": t["api.ingest_s"][0],
            "api.read_p90_ms": pct(t["read_ms"], 90),
            "api.neighbors_p50_ms": med(t["neighbors_ms"]),
            "api.neighbors_p90_ms": pct(t["neighbors_ms"], 90),
            "api.journal_files": statistics.mean(tr.counts["api.journal_files"]),
            "api.events_per_read": (sum(tr.counts["journal_events"])
                                    / max(sum(tr.counts["rows_returned"]), 1)),
            "api.compact_s": med(t["compact_s"]),
            "api.journal_bytes_per_live_edge": tr.median("api.journal_bytes_per_live_edge"),
        }
        for name in ("get_vertex", "neighbors"):
            for part in ("build", "collect"):
                key = f"api.{name}.{part}_ms"
                out[key] = med(t[key])
        for layer in KERNELS.values():
            for part in ("build", "run"):
                out[f"{layer}.{part}_s"] = med(t[f"{layer}.{part}_s"])
        return out
