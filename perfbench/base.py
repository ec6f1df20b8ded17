"""What both workloads share: timing samples, the failure count, the Spark
session and registry, the tracer, and the timing of one analytics-style
job (a build plus a noop write)."""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback

# Per-layer metrics every workload measures.
SHARED_PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.collect_s": "s",
    "caching.persisted_rdds": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    """One run of one workload. Subclasses define ``setup`` (everything
    before the first timed op; ``excluded_s`` is the part of it that
    ``setup_s`` leaves out), ``measure``, ``e2e`` and ``per_layer``, and
    name their per-layer metrics in ``PER_LAYER`` and the ops whose Spark
    jobs the traced run counts in ``COUNTED_OPS``."""

    PER_LAYER: dict[str, str] = {}
    COUNTED_OPS: tuple[str, ...] = ()

    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.excluded_s = 0.0
        self.t: dict[str, list[float]] = {}  # timing samples by name

    def sample(self, name: str, value: float) -> None:
        self.t.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    def start_spark(self) -> None:
        from graph_database_akkatyped_spark import registry, session

        t0 = time.perf_counter()
        self.spark = session.get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.queries, self.oracles = registry.collect()
        t2 = time.perf_counter()
        self.sample("session.get_spark_s", t1 - t0)
        self.sample("registry.collect_s", t2 - t1)

    def make_tracer(self, journal_dir: str | None = None) -> None:
        from tracing import NullTracer, Tracer

        self.tracer = Tracer(self.spark, journal_dir) if self.args.trace else NullTracer()

    def timed_job(self, name: str, layer: str, build):
        """Time ``build()`` (time in this process up to the returned
        DataFrame) and a noop write of its result, as job ``name`` of module
        ``layer``. Returns the DataFrame, or None when the job raised (a
        failed op)."""
        from graph_database_akkatyped_spark import caching

        tr = self.tracer
        self.attempted += 1
        try:
            with tr.op(name):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = build()
                t1 = time.perf_counter()
                with tr.span("run"):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
        except Exception:
            self.fail(f"{name} raised")
            traceback.print_exc()
            return None
        log(f"{name} took {t2 - t0:.2f} s")
        self.sample(f"job.{name}", t2 - t0)
        self.sample(f"{layer}.build_s", t1 - t0)
        self.sample(f"{layer}.run_s", t2 - t1)
        if tr.enabled:
            tr.count("caching.persisted_rdds", len(caching.persistent_rdd_ids(self.spark)))
        return df

    def job_s(self, name: str) -> float:
        """Median time of job ``name`` over its repetitions."""
        return statistics.median(self.t[f"job.{name}"])

    def shared_per_layer(self) -> dict:
        tr = self.tracer
        out = {
            "session.get_spark_s": self.t["session.get_spark_s"][0],
            "registry.collect_s": self.t["registry.collect_s"][0],
            "caching.persisted_rdds": max(tr.counts["caching.persisted_rdds"]),
        }
        for op in self.COUNTED_OPS:
            for kind in ("jobs", "tasks"):
                out[f"spark.{kind}.{op}"] = tr.median(f"spark.{kind}.{op}")
        return out
