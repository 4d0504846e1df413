"""serve_zipf: the Aeroval web API's read traffic on a pre-populated,
compacted store.

Two closed-loop clients on ``AsyncAerovalSparkDB`` (each awaits its
reply before sending again). Targets are Zipf-distributed over the
catalog. Mix: 70% point reads (JSON_STR), 20% filtered reads
(heatmap / regional_stats / map / contour), 5% report-image blobs, 5%
catalog calls (query, list_experiments, list_glob_stats).
"""

from __future__ import annotations

import asyncio
import itertools
import random
import time

import assets as A
from common import Result, ROUTE_OF, load_store, storage_gauges
from harness import CURRENT_REQUEST, Gate, OpTimeout, Tally, median, tail_percentile

CLIENTS = 2
# Warm-up before timing starts: WARMUP_OPS requests from each of nproc
# clients. Point-read latency falls over the first minute of serving
# while the JVM compiles Spark's hot paths (on 4 cores: ~130 ms in the
# first 6 s, ~75 ms after a minute); more clients get further along
# that curve in the same time, and a fixed request count (not a fixed
# time) leaves every run at the same point of it.
WARMUP_OPS = 40
# One cycle of 20 requests, shuffled per cycle: the mix is exact over
# every whole cycle, so runs differ in targets and order, not in mix.
CYCLE = ["read"] * len(A.read_mix(0)) + ["filtered"] * 4 + ["image", "catalog"]
FILTERED = ("heatmap", "regional_stats", "map", "contour")
CATALOG_CALLS = ("query", "list_experiments", "list_glob_stats")
# A client stops only after whole rotations: one cycle per catalog
# call, so that every call (list_experiments costs ~20 point reads)
# is in each client's timed mix exactly as often.
ROTATION = len(CYCLE) * len(CATALOG_CALLS)
ZIPF_S = 1.1
CATALOG_KINDS = ("map", "timeseries", "glob_stats", "contour")


class Catalog:
    """The served experiments. Popularity is Zipf over experiments (a
    seeded order), uniform over an experiment's assets of the requested
    kind: every experiment has the same asset mix, so seeds change which
    assets are hot, not what kind they are."""

    def __init__(self, seed: int, size: str) -> None:
        if size == "tiny":
            self.projects = [f"p{i}" for i in range(2)]
            n_exp = 2
            spec = A.ExperimentSpec(n_locations=2, n_stations=4, n_features=2, n_images=2)
        else:
            self.projects = [f"p{i}" for i in range(4)]
            n_exp = 8
            spec = A.ExperimentSpec()
        self.experiments = {p: [f"e{j:02d}" for j in range(n_exp)] for p in self.projects}
        self.assets: list[A.Asset] = []
        # (project, experiment) -> kind -> assets
        self.by_exp: dict[tuple[str, str], dict[str, list[A.Asset]]] = {}
        for p in self.projects:
            for e in self.experiments[p]:
                assets = A.experiment_assets(seed, p, e, spec)
                self.assets += assets
                kinds: dict[str, list[A.Asset]] = {}
                for a in assets:
                    kinds.setdefault(a.kind, []).append(a)
                self.by_exp[(p, e)] = kinds
            self.assets.append(A.experiments_registry(p, self.experiments[p]))
        self.pairs = sorted(self.by_exp)
        random.Random(f"{seed}/zipf").shuffle(self.pairs)
        self.cum = A.zipf_cum_weights(len(self.pairs), ZIPF_S)

    def pick(self, rng: random.Random, kind: str) -> A.Asset:
        pair = rng.choices(self.pairs, cum_weights=self.cum)[0]
        return rng.choice(self.by_exp[pair][kind])

    def manifest(self, kind: str, project: str, experiment: str) -> list[str]:
        return sorted(a.uri for a in self.by_exp[(project, experiment)].get(kind, ()))


def make_op(cat: Catalog, rng: random.Random, kind: str, which: str):
    """One request: (kind, method name, args, kwargs, expected result).
    ``which`` picks the asset kind (read), the filter (filtered) or the
    call (catalog)."""
    from aerovaldb_spark import AccessType, Route

    if kind == "read":
        a = cat.pick(rng, which)
        return kind, "get_by_uri", (a.uri,), {"access_type": AccessType.JSON_STR}, A.digest(a.obj)
    if kind == "image":
        a = cat.pick(rng, "report_image")
        return kind, "get_by_uri", (a.uri,), {"access_type": AccessType.BLOB}, A.digest(a.obj)
    if kind == "filtered":
        src = "glob_stats" if which in ("heatmap", "regional_stats") else which
        a = cat.pick(rng, src)
        args = dict(a.args)
        if which == "heatmap":
            filt = {"region": rng.choice(A.REGIONS), "time": rng.choice(A.PERIODS)}
            want = A.slice_heatmap(a.obj, **filt)
        elif which == "regional_stats":
            filt = {"variable": rng.choice(A.VARS), "network": rng.choice(A.NETS),
                    "layer": rng.choice(A.LAYERS)}
            want = A.slice_regional(a.obj, **filt)
        elif which == "map":
            filt = {"frequency": rng.choice(A.MAP_FREQS), "season": rng.choice(A.SEASONS)}
            want = A.slice_map(a.obj, **filt)
        else:
            filt = {"timestep": rng.choice(A.TIMESTEPS)}
            want = A.slice_contour(a.obj, **filt)
        route = Route[which.upper()]
        return (kind, "get", (route, args, filt),
                {"access_type": AccessType.JSON_STR}, A.digest(want))
    p, e = rng.choices(cat.pairs, cum_weights=cat.cum)[0]
    if which == "query":
        k = rng.choice(CATALOG_KINDS)
        return (kind, "query", (ROUTE_OF[k],), {"project": p, "experiment": e},
                cat.manifest(k, p, e))
    if which == "list_experiments":
        return kind, "list_experiments", (p,), {}, sorted(cat.experiments[p])
    want = sorted(A.uri_of("heatmap", project=p, experiment=e, frequency=f) for f in A.FREQS)
    return kind, "list_glob_stats", (p, e), {}, want


def check(op, resp) -> bool:
    kind, method, _args, _kw, want = op
    if kind == "catalog":
        got = [str(x) for x in resp] if method != "query" else [q.uri for q in resp]
        return sorted(got) == want
    if kind == "image":
        return A.digest(bytes(resp)) == want
    return A.digest_json_text(resp) == want


async def _client(adb, probe, ops, deadline, records, tally, rid_base):
    for i, op in enumerate(ops):
        if deadline is not None and i % ROTATION == 0 and time.perf_counter() >= deadline:
            return
        kind, method, args, kwargs, _want = op
        token = CURRENT_REQUEST.set(rid_base + i)
        opened = probe.span_open() if probe.trace else None
        t = time.perf_counter()
        try:
            resp = await asyncio.wait_for(
                getattr(adb, method)(*args, **kwargs), probe.limit_s + 10
            )
        except (OpTimeout, asyncio.TimeoutError) as exc:
            tally.fail(f"{kind} {method} timed out: {exc}")
            continue
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            tally.fail(f"{kind} {method}{args!r}: {type(exc).__name__}: {exc}")
            continue
        finally:
            if opened is not None:
                probe.span_close("aio.call", opened)
            CURRENT_REQUEST.reset(token)
        records.append((op, (time.perf_counter() - t) * 1000.0, resp))


def _op_stream(cat, seed, client, phase):
    rng = random.Random(f"{seed}/client{client}/{phase}")
    filtered = itertools.cycle(FILTERED)
    catalog = itertools.cycle(CATALOG_CALLS[client % 3:] + CATALOG_CALLS[:client % 3])
    for n in itertools.count():
        cycle = list(CYCLE)
        rng.shuffle(cycle)
        reads = iter(A.read_mix(n))
        for kind in cycle:
            which = {"read": reads, "filtered": filtered, "catalog": catalog}.get(kind)
            yield make_op(cat, rng, kind, next(which) if which else "")


async def _drive(adb, probe, cat, seed, phase, seconds=None, n_ops=None, clients=CLIENTS):
    records: list = []
    tally = Tally()
    deadline = None if seconds is None else time.perf_counter() + seconds
    streams = []
    for c in range(clients):
        s = _op_stream(cat, seed, c, phase)
        streams.append(list(itertools.islice(s, n_ops)) if n_ops else s)
    t = time.perf_counter()
    await asyncio.gather(*[
        _client(adb, probe, streams[c], deadline, records, tally, (c + 1) * 1_000_000)
        for c in range(clients)
    ])
    return records, tally, time.perf_counter() - t


def run(ctx) -> Result:
    from aerovaldb_spark.aio import AsyncAerovalSparkDB

    with ctx.phase("generate"):
        cat = Catalog(ctx.seed, ctx.size)
    with ctx.phase("setup"):
        db = load_store(ctx, cat.assets, "serve")
        db.compact()
    res = Result()
    res.setup_s = ctx.setup_s()
    adb = AsyncAerovalSparkDB(Gate(db, ctx.probe))

    # warm-up on a separate request stream
    with ctx.phase("warmup"):
        asyncio.run(_drive(adb, ctx.probe, cat, ctx.seed, "warmup",
                           n_ops=4 if ctx.tiny else WARMUP_OPS, clients=ctx.run.nproc))

    if ctx.trace:
        n = 8 if ctx.tiny else 40
        _, _, plain_wall = asyncio.run(_drive(adb, ctx.probe, cat, ctx.seed, "fixed", n_ops=n))
        with ctx.traced_layers():
            records, tally, wall = asyncio.run(
                _drive(adb, ctx.probe, cat, ctx.seed, "fixed", n_ops=n)
            )
        res.trace_overhead_pct = (wall / plain_wall - 1.0) * 100.0
    else:
        with ctx.phase("timed"):
            records, tally, wall = asyncio.run(
                _drive(adb, ctx.probe, cat, ctx.seed, "timed", seconds=ctx.seconds)
            )
    lat: dict[str, list[float]] = {}
    with ctx.phase("check"):
        for op, ms, resp in records:
            lat.setdefault(op[0], []).append(ms)
            tally.check(check(op, resp), f"wrong result for {op[1]}{op[2]!r}")
    res.tally = tally
    reads = lat.get("read", [])
    q, tail = tail_percentile(reads)
    res.op_p50_ms = median(reads)
    res.work_per_s = len(records) / wall
    res.report = {
        "read_p50_ms": (res.op_p50_ms, "ms"),
        f"read_p{q:g}_ms": (tail, "ms"),
        "read_samples": (len(reads), "count"),
        "filtered_read_p50_ms": (median(lat.get("filtered", [])), "ms"),
        "filtered_read_samples": (len(lat.get("filtered", [])), "count"),
        "image_read_p50_ms": (median(lat.get("image", [])), "ms"),
        "catalog_p50_ms": (median(lat.get("catalog", [])), "ms"),
        "catalog_samples": (len(lat.get("catalog", [])), "count"),
        "serve_ops_per_s": (res.work_per_s, "1/s"),
        "assets": (len(cat.assets), "count"),
    }
    res.gauges = storage_gauges(db.root)
    return res
