"""corpus_pipeline: the operator library on a generated corpus.

Set-up generates the tables from the seed and caches them with
``catalog.cache_tables(parallelism=nproc)``. A pass runs every query
in ``metrics.CORPUS_QUERIES`` sunk to Spark's ``noop`` format, with
``release_scoped_persists()`` after each, so persisted intermediates
never carry over from one query to the next. The warm-up pass collects
each result and compares it, order-insensitively and exactly, with its
DuckDB oracle (``ALL_ORACLE``) over the same parquet files — outside
the timed region. ``etl_bulk`` runs a few of these queries through the
same ``Corpus``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import time

import corpus_data
from common import Result
from harness import Tally, median
from metrics import CORPUS_QUERIES

SCALE = 0.01


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def fingerprint(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result set, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    head = repr(sorted(columns))
    return hashlib.sha1("\n".join([head, *canon]).encode()).hexdigest()


class Corpus:
    """A corpus generated from the seed, and the operator queries run
    on it. Each query runs under the probe's job group and watchdog,
    and releases its scoped persists when done."""

    def __init__(self, ctx, scale: float) -> None:
        self.ctx = ctx
        self.dir = ctx.run.path("corpus")
        with ctx.phase("generate"):
            corpus_data.generate(self.dir, ctx.seed, scale)

    def cache(self) -> float:
        """``cache_tables(parallelism=nproc)``; returns its seconds."""
        from aerovaldb_spark.catalog import cache_tables, clear_table_cache

        t = time.perf_counter()
        clear_table_cache()
        cache_tables(self.ctx.spark, self.dir, parallelism=self.ctx.run.nproc)
        return time.perf_counter() - t

    def _query(self, name: str):
        from aerovaldb_spark.operators import ALL_QUERIES

        return ALL_QUERIES[name](self.ctx.spark, self.dir)

    def _sink(self, name: str) -> None:
        from aerovaldb_spark.operators._scope import release_scoped_persists

        try:
            self._query(name).write.mode("overwrite").format("noop").save()
        finally:
            release_scoped_persists()

    def _collect(self, name: str):
        from aerovaldb_spark.operators._scope import release_scoped_persists

        try:
            df = self._query(name)
            return df.columns, df.collect()
        finally:
            release_scoped_persists()

    def expect(self, names: list[str]) -> None:
        """DuckDB oracle fingerprints of ``names`` (untimed)."""
        with self.ctx.phase("expect"):
            self.want = _oracle_fingerprints(self.dir, names)

    def check(self, names: list[str], tally: Tally) -> dict[str, float]:
        """Collect each query, compare it with its oracle (after the
        collect, outside its time) and return each collect's seconds."""
        walls = {}
        for name in names:
            t = time.perf_counter()
            try:
                cols, rows = self.ctx.probe.run(f"operators.{name}", self._collect, name)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                tally.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            walls[name] = time.perf_counter() - t
            tally.check(fingerprint(cols, rows) == self.want[name],
                        f"{name}: differs from its oracle")
        return walls

    def run_pass(self, names: list[str], walls: dict[str, list[float]], tally: Tally) -> float:
        """Each query once, sunk to ``noop``; appends its wall to
        ``walls[name]`` and returns the pass total."""
        total = 0.0
        for name in names:
            t = time.perf_counter()
            try:
                self.ctx.probe.run(f"operators.{name}", self._sink, name)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                tally.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            took = time.perf_counter() - t
            walls.setdefault(name, []).append(took)
            total += took
        return total


def _oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    from aerovaldb_spark.catalog import TESTDATA_TABLES
    from aerovaldb_spark.operators import ALL_ORACLE

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            cur = con.execute(ALL_ORACLE[name])
            cols = [d[0] for d in cur.description]
            out[name] = fingerprint(cols, cur.fetchall())
        return out
    finally:
        con.close()


def run(ctx) -> Result:
    corpus = Corpus(ctx, 0.001 if ctx.tiny else SCALE)
    with ctx.phase("setup"):
        cache_s = corpus.cache()
    res = Result(tally=Tally())
    res.setup_s = ctx.setup_s()
    corpus.expect(CORPUS_QUERIES)
    # warm-up pass = correctness pass
    with ctx.phase("warmup"):
        corpus.check(CORPUS_QUERIES, res.tally)

    walls: dict[str, list[float]] = {}
    if ctx.trace:
        plain = corpus.run_pass(CORPUS_QUERIES, {}, res.tally)
        with ctx.traced_layers():
            traced = corpus.run_pass(CORPUS_QUERIES, walls, res.tally)
        res.trace_overhead_pct = (traced / plain - 1.0) * 100.0
    else:
        with ctx.phase("timed"):
            t0 = time.perf_counter()
            while not walls or time.perf_counter() - t0 < ctx.seconds:
                corpus.run_pass(CORPUS_QUERIES, walls, res.tally)
    per_query = {name: median(ws) for name, ws in walls.items()}
    pipeline_wall = sum(per_query.values())
    res.op_p50_ms = median(list(per_query.values())) * 1000.0
    res.work_per_s = len(per_query) / pipeline_wall if pipeline_wall else 0.0
    res.report = {
        "pipeline_wall_s": (pipeline_wall, "s"),
        "passes": (max((len(w) for w in walls.values()), default=0), "count"),
        "cache_tables_s": (cache_s, "s"),
        **{f"query.{k}_s": (v, "s") for k, v in per_query.items()},
    }
    res.gauges = {"catalog.cache_tables.ms": cache_s * 1000.0}
    return res
