"""Pieces shared by the workloads: the run context, the result record,
store loading and the trace-only rebinding of the names ``db.py``
imports from ``uri``, ``jsonutil`` and ``filters``."""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from aerovaldb_spark import AerovalSparkDB, Route

ROUTE_OF = {
    "experiments": Route.EXPERIMENTS,
    "config": Route.CONFIG,
    "menu": Route.MENU,
    "glob_stats": Route.GLOB_STATS,
    "map": Route.MAP,
    "scatter": Route.SCATTER,
    "timeseries": Route.TIMESERIES,
    "contour": Route.CONTOUR,
    "report_image": Route.REPORT_IMAGE,
}


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    size: str
    run: object  # harness.Run
    probe: object  # harness.Probe
    t0: float  # time.perf_counter() at process start
    phases: dict = field(default_factory=dict)  # phase -> seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time a phase of the run (reported, never a metric)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    @property
    def spark(self):
        return self.run.spark

    @property
    def tiny(self) -> bool:
        return self.size == "tiny"

    def setup_s(self) -> float:
        """Seconds from process start to now, less the benchmark's own
        input generation: imports, JVM boot and the workload's set-up
        (store population, compaction, ``cache_tables``). Workloads
        call it once set-up is done, before warm-up."""
        return time.perf_counter() - self.t0 - self.phases.get("generate", 0.0)

    @contextlib.contextmanager
    def traced_layers(self):
        """Record spans for the duration, and rebind the names ``db.py``
        imported from the layers it calls internally, so their spans
        nest under the ``db.*`` span of the call that reached them."""
        import aerovaldb_spark.db as dbmod

        names = {
            "parse_uri": "uri.parse_uri",
            "build_uri": "uri.build_uri",
            "json_loads": "jsonutil.json_loads",
            "json_dumps_wrapper": "jsonutil.json_dumps_wrapper",
        }
        saved = {n: getattr(dbmod, n) for n in names}
        saved_filters = dict(dbmod.FILTER_FUNCS)
        self.probe.trace = True
        try:
            for n, span in names.items():
                setattr(dbmod, n, self.probe.wrap(span, saved[n]))
            for route, fn in saved_filters.items():
                dbmod.FILTER_FUNCS[route] = self.probe.wrap(f"filters.{fn.__name__}", fn)
            yield
        finally:
            self.probe.trace = False
            for n, fn in saved.items():
                setattr(dbmod, n, fn)
            dbmod.FILTER_FUNCS.clear()
            dbmod.FILTER_FUNCS.update(saved_filters)


@dataclass
class Result:
    setup_s: float = 0.0
    op_p50_ms: float = 0.0
    work_per_s: float = 0.0
    tally: object = None  # harness.Tally
    report: dict = field(default_factory=dict)  # name -> (value, unit)
    gauges: dict = field(default_factory=dict)  # per-layer gauges
    trace_overhead_pct: float = 0.0


def put_asset(db, a) -> None:
    db.put(a.obj, ROUTE_OF[a.kind], dict(a.args))


def load_store(ctx: Context, assets, label: str) -> AerovalSparkDB:
    """A fresh store holding ``assets``, flushed."""
    db = AerovalSparkDB(ctx.spark, ctx.run.new_store_root(label))
    for a in assets:
        put_asset(db, a)
    db.flush()
    return db


def storage_gauges(root: str) -> dict[str, float]:
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return {"db.storage.bytes": float(total), "db.storage.parquet_files": float(files)}
