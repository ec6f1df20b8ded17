"""The ``curation_batch`` workload: registry keys of the LLM-pipeline and
relational operators, cold, over a seeded fixture.

``fixture.write`` generates the input tables from the seed. An untimed
warm-up pass runs every key once and compares its output with the key's
DuckDB twin from ``registry.collect()[1]``, order-insensitively; then the
timed passes run the key list, and the main key again up to MAIN_REPS
runs, with ``caching.clear_frame_cache`` before each key, each key a
build plus a noop write. Neither the GraphDB journal
nor the Pregel kernels run here.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from collections import Counter

import numpy as np
import pandas as pd

from base import Run, log

PASS_SECONDS = 25  # --seconds / PASS_SECONDS timed passes over the key list, at least 1
MAIN_REPS = 2  # the main key runs at least this often untraced; once traced
KEYS = {  # registry key -> the module layer that computes it
    "corpus_pipeline_funnel": "curation.corpus_pipeline_funnel",
    "dedup_containment": "llm.dedup_containment",
    "dedup_near_minhash": "llm.dedup_near_minhash",
    "simsearch_ivf": "llm.simsearch_ivf",
    "text_tfidf": "llm.text_tfidf",
    "flagship": "relational.flagship",
    "agg_hash": "relational.agg_hash",
    "build_edges": "graph_build.build_edges",
}
MAIN_KEY = "corpus_pipeline_funnel"

PER_LAYER = {
    **{f"{layer}.{part}_s": "s" for layer in KEYS.values() for part in ("build", "run")},
    "catalog.scan_s": "s",
    **{f"spark.{kind}.{key}": "count" for key in KEYS for kind in ("jobs", "tasks")},
}


def _cell(v):
    """A hashable, type-tagged form of one result cell; floats compare by
    their exact repr, as tests/oracle_utils.py does."""
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    return ("v", type(v).__name__, str(v))


def result_rows(pdf) -> tuple[frozenset, Counter]:
    """(column names, multiset of rows) of a pandas result, with integer,
    float32 and timestamp columns widened to one type per kind."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        kind = pdf[c].dtype
        if np.issubdtype(kind, np.datetime64):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif kind == np.float32:
            pdf[c] = pdf[c].astype(np.float64)
        elif np.issubdtype(kind, np.integer):
            pdf[c] = pdf[c].astype(np.int64)
    rows = Counter(tuple(_cell(v) for v in row)
                   for row in pdf.itertuples(index=False, name=None))
    return frozenset(pdf.columns), rows


class CurationRun(Run):
    PER_LAYER = PER_LAYER
    COUNTED_OPS = tuple(KEYS)

    def setup(self) -> None:
        import duckdb
        import fixture

        self.start_spark()
        self.fixture_dir = os.path.join(self.scratch, "fixture")
        t0 = time.perf_counter()
        fixture.write(self.rng, self.fixture_dir)
        log(f"fixture generated in {time.perf_counter() - t0:.1f} s")
        self.make_tracer()
        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone = 'UTC'")
        for table in fixture.TABLES:
            path = os.path.join(self.fixture_dir, f"{table}.parquet")
            self.duck.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        t0 = time.perf_counter()
        for key in KEYS:
            self.warm_and_check(key)
        self.duck.close()
        log(f"warm-up and check pass took {time.perf_counter() - t0:.1f} s")

    def warm_and_check(self, key: str) -> None:
        """Untimed: run ``key`` once and compare it with its DuckDB twin."""
        from graph_database_akkatyped_spark import caching

        self.attempted += 1
        caching.clear_frame_cache()
        t0 = time.perf_counter()
        try:
            got = result_rows(self.queries[key](self.spark, self.fixture_dir).toPandas())
            want = result_rows(self.duck.execute(self.oracles[key]).fetchdf())
        except Exception:
            self.fail(f"{key} raised")
            traceback.print_exc()
            return
        log(f"{key} warm-up and check took {time.perf_counter() - t0:.2f} s")
        self.check(got[0] == want[0], f"{key}: columns {sorted(got[0])} != {sorted(want[0])}")
        self.check(got[1] == want[1],
                   f"{key}: {sum(got[1].values())} rows differ from the DuckDB twin's "
                   f"{sum(want[1].values())}")

    def measure(self) -> None:
        from graph_database_akkatyped_spark import caching

        passes = max(1, round(self.args.seconds / PASS_SECONDS))
        order = list(KEYS) * passes
        if not self.args.trace:
            order += [MAIN_KEY] * max(0, MAIN_REPS - passes)
        self.pass_s = 0.0
        self.runs = 0
        for key in order:
            caching.clear_frame_cache()
            t0 = time.perf_counter()
            df = self.timed_job(key, KEYS[key],
                                lambda: self.queries[key](self.spark, self.fixture_dir))
            self.pass_s += time.perf_counter() - t0
            self.runs += df is not None
        log(f"{len(order)} timed key runs took {self.pass_s:.1f} s")
        if self.args.trace:
            self.scan_s = self.catalog_scan()

    def catalog_scan(self) -> float:
        """The scan floor: a noop write of every fixture table the keys
        read, loaded through ``catalog.load_table``."""
        import fixture
        from graph_database_akkatyped_spark import catalog

        t0 = time.perf_counter()
        for table in fixture.TABLES:
            catalog.load_table(self.spark, self.fixture_dir, table).write.mode(
                "overwrite").format("noop").save()
        return time.perf_counter() - t0

    def e2e(self, setup_s: float) -> dict:
        return {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(self.job_s(key) for key in KEYS) * 1e3,
            "ops_per_s": self.runs / self.pass_s,
            "main_job_s": self.job_s(MAIN_KEY),
            "jobs_s": sum(self.job_s(key) for key in KEYS),
        }

    def per_layer(self) -> dict:
        out = {key: statistics.median(self.t[key])
               for layer in KEYS.values()
               for key in (f"{layer}.build_s", f"{layer}.run_s")}
        out["catalog.scan_s"] = self.scan_s
        return out
