"""etl_bulk: the store's distributed data-processing surface.

Inputs, generated from the seed and written to parquet during set-up:
timeseries rows, glob_stats and contour documents and a config per
experiment, across 4 projects x 16 experiments. One timed pass runs:

1. ``bulk_import`` of every input into a fresh store (and of a slice
   into a second store),
2. ``glob_stats_long`` shredding plus a heatmap-style WHERE aggregate,
3. ``query_iter`` streaming one project's timeseries catalog,
4. ``copy_db_contents`` to a fresh store,
5. ``export_jsondb_tree`` of the slice store and
   ``import_jsondb_tree_distributed`` of that tree into a fresh store,
6. ``metrics.ETL_QUERIES``, a few operator queries collected from a
   generated corpus that set-up cached with ``cache_tables`` (the
   ``corpus_pipeline`` set-up and queries, at a smaller scale and with
   fewer queries).

Every store stage is checked against the generator: counts plus an
order-independent digest (XOR of xxhash64 over keys and payload); the
queries against their DuckDB oracles. Checks run between stages and
are not part of any stage's time.
"""

from __future__ import annotations

import math
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

import assets as A
from common import Result
from harness import Tally, median
from metrics import ETL_QUERIES
from wl_corpus import Corpus

N_PROJECTS = 4
N_EXPERIMENTS = 16
TS_ROWS = 12_000
CORPUS_SCALE = 0.005
SLICE_EXPERIMENTS = 2  # of project p0: the export/import round-trip slice
TS_POINTS = 12
TS_KEYS = ("project", "experiment", "location", "network", "obsvar", "layer")


def _ts_key(i: int) -> dict[str, str]:
    rest = i // (N_PROJECTS * N_EXPERIMENTS)
    return {
        "project": f"p{i % N_PROJECTS}",
        "experiment": f"x{(i // N_PROJECTS) % N_EXPERIMENTS:02d}",
        "location": f"loc{rest // 6:05d}",
        "network": A.NETS[rest % 2],
        "obsvar": A.VARS[(rest // 2) % 3],
        "layer": "Column",
    }


def _ddl(row: dict) -> str:
    """Schema of an all-string input row (spares Spark a schema-inference job)."""
    return ", ".join(f"`{k}` string" for k in row)


class Inputs:
    """Generated input tables and the expectations the checks compare
    against. The documents are generated once; ``write`` (the timed
    set-up) writes every input table to a fresh directory."""

    def __init__(self, ctx, ts_rows: int) -> None:
        from pyspark.sql import functions as F

        self.ctx = ctx
        self.ts_rows = ts_rows
        self.root = None
        rng = random.Random(f"{ctx.seed}/etl-docs")
        self.glob_docs: list[tuple[dict, dict]] = []
        contour_rows, config_rows = [], []
        for p in range(N_PROJECTS):
            for e in range(N_EXPERIMENTS):
                pe = {"project": f"p{p}", "experiment": f"x{e:02d}"}
                for f in A.FREQS:
                    self.glob_docs.append(({**pe, "frequency": f}, A.glob_stats_doc(rng)))
                for var in A.VARS:
                    for model in A.MODELS:
                        contour_rows.append({**pe, "obsvar": var, "model": model,
                                             "payload": A.dumps(A.contour_doc(rng, 2))})
                config_rows.append({**pe, "payload": A.dumps(
                    {"exp_info": {"exp_id": pe["experiment"], "public": True,
                                  "pyaerocom_version": A.PYAEROCOM_VERSION}})})
        dates = [f"2019-{1 + i % 12:02d}" for i in range(TS_POINTS)]
        self.ts_rows_list = [
            {**_ts_key(i), "payload": A.dumps({
                "monthly_date": dates,
                "monthly_obs": [A.value(rng) for _ in dates],
                "monthly_mod": [A.value(rng) for _ in dates],
                "obs_unit": "1",
            })}
            for i in range(ts_rows)
        ]
        self.docs_rows = {
            "glob_stats": [{**k, "payload": A.dumps(d)} for k, d in self.glob_docs],
            "contour": contour_rows,
            "config": config_rows,
        }
        self.slice_filter = (F.col("project") == "p0") & (
            F.col("experiment") < f"x{SLICE_EXPERIMENTS:02d}")

    def write(self) -> "Inputs":
        spark = self.ctx.spark
        self.root = root = self.ctx.run.new_store_root("etl-input")
        os.makedirs(f"{root}/timeseries")
        parts = self.ctx.run.nproc
        step = -(-len(self.ts_rows_list) // parts)
        for i in range(parts):
            pq.write_table(pa.Table.from_pylist(self.ts_rows_list[i * step:(i + 1) * step]),
                           f"{root}/timeseries/part-{i}.parquet")
        self.ts = spark.read.schema(_ddl(self.ts_rows_list[0])).parquet(f"{root}/timeseries")
        self.docs = {}
        for name, rows in self.docs_rows.items():
            path = f"{root}/{name}.parquet"
            pq.write_table(pa.Table.from_pylist(rows), path)
            self.docs[name] = spark.read.schema(_ddl(rows[0])).parquet(path)
        return self

    def expect(self) -> "Inputs":
        """Expected digests, computed from the input files (untimed)."""
        self.digests = {"timeseries": xor_digest(self.ts, TS_KEYS)}
        for name, df in self.docs.items():
            self.digests[name] = xor_digest(df, [c for c in df.columns if c != "payload"])
        self.slice_digest = xor_digest(self.ts.filter(self.slice_filter), TS_KEYS)
        self.slice_rows = self.slice_digest[0] + self.docs["config"].filter(
            self.slice_filter).count()
        return self

    def ts_uris(self, project: str) -> list[str]:
        keys = (_ts_key(i) for i in range(self.ts_rows))
        return sorted(A.uri_of("timeseries", **k) for k in keys if k["project"] == project)


def xor_digest(df, keys) -> tuple[int, int]:
    """(rows, XOR of xxhash64 over key columns and payload)."""
    from pyspark.sql import functions as F

    row = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(
        *[F.coalesce(F.col(k), F.lit("")) for k in keys], F.col("payload"))).alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def heatmap_reference(docs, region: str, time_: str) -> dict[str, tuple[int, float]]:
    """Per variable: (leaf count, sum of values) of stats under
    [region][time] — the WHERE aggregate computed from the documents."""
    out: dict[str, list] = {}
    for _key, doc in docs:
        for var, nets in doc.items():
            for layers in nets.values():
                for models in layers.values():
                    for modvars in models.values():
                        for regions in modvars.values():
                            leaf = regions.get(region, {}).get(time_)
                            if leaf is None:
                                continue
                            acc = out.setdefault(var, [0, 0.0])
                            acc[0] += len(leaf)
                            acc[1] += sum(leaf.values())
    return {k: (n, s) for k, (n, s) in out.items()}


def _pass(ctx, inp: Inputs, tally: Tally, corpus: Corpus) -> dict:
    """One ETL pass; returns per-stage seconds and asset rows moved."""
    from pyspark.sql import functions as F

    from aerovaldb_spark import AerovalSparkDB, Route, copy_db_contents
    from aerovaldb_spark.sources.jsondb_import import (
        export_jsondb_tree,
        import_jsondb_tree_distributed,
    )

    spark = ctx.spark
    stages: dict[str, float] = {}
    moved = 0
    routes = {"timeseries": Route.TIMESERIES, "glob_stats": Route.GLOB_STATS,
              "contour": Route.CONTOUR, "config": Route.CONFIG}
    tables = {"timeseries": inp.ts, **inp.docs}

    def stage(name, fn, *args):
        t = time.perf_counter()
        try:
            out = ctx.probe.run(name, fn, *args)
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            tally.fail(f"{name}: {type(exc).__name__}: {exc}")
            out = None
        stages[name] = stages.get(name, 0.0) + time.perf_counter() - t
        return out

    # 1. bulk import
    src = AerovalSparkDB(spark, ctx.run.new_store_root("etl-src"))
    slice_db = AerovalSparkDB(spark, ctx.run.new_store_root("etl-slice"))
    for name, df in tables.items():
        stage("db.bulk_import", src.bulk_import, routes[name], df)
        moved += inp.ts_rows if name == "timeseries" else len(inp.docs_rows[name])
    for name in ("timeseries", "config"):
        stage("db.bulk_import", slice_db.bulk_import, routes[name],
              tables[name].filter(inp.slice_filter))
    moved += inp.slice_rows

    # 2. shred glob_stats, heatmap-style WHERE aggregate
    region, period = A.REGIONS[ctx.seed % len(A.REGIONS)], A.PERIODS[ctx.seed % len(A.PERIODS)]

    def shred_aggregate():
        long = src.glob_stats_long()
        return {
            r["variable"]: (r["n"], r["s"])
            for r in long.filter((F.col("region") == region) & (F.col("time") == period))
            .groupBy("variable").agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }

    got = stage("db.glob_stats_long", shred_aggregate)
    want = heatmap_reference(inp.glob_docs, region, period)
    tally.check(
        got is not None and set(got) == set(want) and all(
            got[k][0] == want[k][0] and math.isclose(got[k][1], want[k][1], rel_tol=1e-9, abs_tol=1e-6)
            for k in want),
        f"glob_stats_long aggregate {got} != {want}")
    moved += len(inp.glob_docs)

    # 3. stream one project's timeseries catalog
    project = f"p{ctx.seed % N_PROJECTS}"
    uris = stage("db.query_iter", lambda: sorted(
        e.uri for e in src.query_iter(Route.TIMESERIES, project=project)))
    tally.check(uris == inp.ts_uris(project), f"query_iter {project} catalog differs")
    moved += len(uris or ())

    # 4. copy to a fresh store
    dest = AerovalSparkDB(spark, ctx.run.new_store_root("etl-copy"))
    stage("db.copy_db_contents", copy_db_contents, src, dest)
    for name, route in routes.items():
        table = dest.table(route)
        keys = [c for c in tables[name].columns if c != "payload"]
        got = xor_digest(table, keys) if table is not None else None
        tally.check(got == inp.digests[name], f"copy {name}: {got} != {inp.digests[name]}")
        moved += inp.digests[name][0]

    # 5. export / import round trip of the slice
    tree = ctx.run.path("tmp", f"tree-{time.perf_counter_ns()}")
    rep = stage("sources.export_jsondb_tree", export_jsondb_tree, slice_db, tree)
    back = AerovalSparkDB(spark, ctx.run.new_store_root("etl-import"))
    rep2 = stage("sources.import_jsondb_tree_distributed",
                 import_jsondb_tree_distributed, back, tree)
    tally.check(rep is not None and rep.imported == inp.slice_rows and not rep.skipped,
                f"export wrote {rep and rep.imported} of {inp.slice_rows}")
    tally.check(rep2 is not None and rep2.imported == inp.slice_rows and not rep2.skipped,
                f"import read {rep2 and rep2.imported} of {inp.slice_rows}")
    table = back.table(Route.TIMESERIES)
    got = xor_digest(table, TS_KEYS) if table is not None else None
    tally.check(got == inp.slice_digest, f"round trip: {got} != {inp.slice_digest}")
    moved += 2 * inp.slice_rows
    store_s = sum(stages.values())

    # 6. operator queries, collected and checked against their oracles
    walls = corpus.check(ETL_QUERIES, tally)
    stages.update({f"operators.{k}": v for k, v in walls.items()})
    return {"stages": stages, "moved": moved, "store_s": store_s}


def run(ctx) -> Result:
    with ctx.phase("generate"):
        inp = Inputs(ctx, 600 if ctx.tiny else TS_ROWS)
    corpus = Corpus(ctx, 0.001 if ctx.tiny else CORPUS_SCALE)
    with ctx.phase("setup"):
        inp.write()
        cache_s = corpus.cache()
    res = Result(setup_s=ctx.setup_s(), tally=Tally())
    with ctx.phase("expect"):
        inp.expect()
    corpus.expect(ETL_QUERIES)

    # No warm-up pass: one costs as much run time as the timed pass
    # (mostly JIT, even on a small input). The timed pass runs after
    # the input writes, expectation jobs and cache_tables, which warm
    # the Spark paths every stage shares.
    if ctx.trace:
        t = time.perf_counter()
        _pass(ctx, inp, Tally(), corpus)
        plain = time.perf_counter() - t
        with ctx.traced_layers():
            t = time.perf_counter()
            out = _pass(ctx, inp, res.tally, corpus)
            wall = time.perf_counter() - t
        res.trace_overhead_pct = (wall / plain - 1.0) * 100.0
    else:
        with ctx.phase("timed"):
            out = _pass(ctx, inp, res.tally, corpus)
    stages = out["stages"]
    queries_s = sum(v for k, v in stages.items() if k.startswith("operators."))
    res.op_p50_ms = median(list(stages.values())) * 1000.0
    res.work_per_s = out["moved"] / out["store_s"]
    res.report = {
        "etl_assets_per_s": (res.work_per_s, "1/s"),
        "asset_rows_moved": (out["moved"], "count"),
        "store_stages_s": (out["store_s"], "s"),
        "pipeline_wall_s": (queries_s, "s"),
        "cache_tables_s": (cache_s, "s"),
        **{f"stage.{k}_s": (v, "s") for k, v in stages.items()},
    }
    res.gauges = {"catalog.cache_tables.ms": cache_s * 1000.0}
    return res
