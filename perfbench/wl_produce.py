"""produce_experiment: pyaerocom's write shape.

Per experiment the client puts every asset, runs one ``flush()``, then
reads back about 10% of the URIs it just wrote (read-your-writes). One
experiment is large enough (over 10k timeseries rows) that its flush
takes the Spark writer path instead of the driver-side pyarrow path;
it is written first, followed by one regular experiment, as the
warm-up before timing starts, and reported on its own. The timed window
covers the other regular experiments' whole produce cycle: put, flush
and read-back. After the write phase
the client re-runs one experiment (overwriting every key), removes
another with ``rm_experiment_data`` and ends with ``compact()``. Reads
always hit keys written moments before.
"""

from __future__ import annotations

import random
import time

import assets as A
from common import Result, put_asset, storage_gauges
from harness import CURRENT_REQUEST, Gate, Tally, median, tail_percentile

PROJECTS = ("p0", "p1")
POOL = 10  # regular experiments generated; a run writes as many as fit in --seconds ...
MIN_EXPERIMENTS = 6  # ... but at least this many, so work_per_s has enough experiments
# Daily timeseries for a year, as pyaerocom writes them: ~15 KB each,
# so that a regular experiment's put + flush is ~150 ms of work, not
# ~50 ms that host noise swamps.
TS_POINTS = 365
LARGE_LOCATIONS = 1700  # 1700 locations x 6 series = 10200 timeseries rows
# The warm-up (the large experiment, read back in this many A.read_mix
# rounds of 14 reads, then one regular experiment) takes the timed
# reads past the steepest part of the JVM's compilation curve; without
# the regular one, the first timed experiment reads ~20% slower than
# the rest.
LARGE_READ_ROUNDS = 2


class Plan:
    """The experiments one run writes, generated before any timing."""

    def __init__(self, seed: int, size: str, pool: int) -> None:
        tiny = size == "tiny"
        self.spec = (A.ExperimentSpec(n_locations=2, n_stations=4, n_features=2, n_images=2)
                     if tiny else A.ExperimentSpec(ts_points=TS_POINTS))
        large_spec = A.ExperimentSpec(
            n_locations=3 if tiny else LARGE_LOCATIONS, ts_points=12,
            n_stations=4, n_features=2, n_images=2,
        )
        self.seed = seed
        self.large = ("p0", "big", A.experiment_assets(seed, "p0", "big", large_spec))
        self.regular = [
            (PROJECTS[i % 2], f"e{i:03d}",
             A.experiment_assets(seed, PROJECTS[i % 2], f"e{i:03d}", self.spec))
            for i in range(pool)
        ]
        # positions of the assets each experiment reads back: A.read_mix
        # (14, about 10% of a regular experiment), picked within each kind
        rng = random.Random(f"{seed}/readback")
        self.readback = {}
        mixes = [[k for n in range(LARGE_READ_ROUNDS) for k in A.read_mix(n)],
                 *[A.read_mix(n) for n in range(pool)]]
        for mix, (_p, e, assets) in zip(mixes, [self.large, *self.regular]):
            by_kind: dict[str, list[int]] = {}
            for i, a in enumerate(assets):
                by_kind.setdefault(a.kind, []).append(i)
            self.readback[e] = [
                i for k in dict.fromkeys(mix) if k in by_kind
                for i in rng.sample(by_kind[k], min(mix.count(k), len(by_kind[k])))
            ]


class Producer:
    def __init__(self, ctx, db, plan: Plan, tally: Tally) -> None:
        from aerovaldb_spark import AccessType

        self.ctx = ctx
        self.db = db
        self.gate = Gate(db, ctx.probe)
        self.plan = plan
        self.tally = tally
        self.json_str = AccessType.JSON_STR
        self.put_s = 0.0  # put + flush wall of the timed experiments
        # assets / (put + flush + read-back) seconds, per timed experiment
        self.cycle_rates: list[float] = []
        self.assets_put = 0
        self.read_ms: list[float] = []  # read-your-writes latencies
        self.live: dict[str, A.Asset] = {}  # uri -> latest asset
        self._rid = 0

    def call(self, name: str, fn, *args, **kwargs):
        self._rid += 1
        token = CURRENT_REQUEST.set(self._rid)
        try:
            return self.ctx.probe.run(name, fn, *args, **kwargs)
        finally:
            CURRENT_REQUEST.reset(token)

    def write(self, assets: list[A.Asset]) -> float | None:
        """Put every asset and flush; returns the seconds taken, or
        None if the write failed."""
        # Untraced, the puts and the flush run as one guarded operation;
        # traced, each goes through the Gate for its own span.
        target = self.gate if self.ctx.probe.trace else self.db

        def put_all() -> None:
            for a in assets:
                put_asset(target, a)
            target.flush()

        t = time.perf_counter()
        try:
            self.call("produce.write", put_all)
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            self.tally.fail(f"write: {type(exc).__name__}: {exc}")
            return None
        took = time.perf_counter() - t
        self.tally.ok()
        for a in assets:
            self.live[a.uri] = a
        return took

    def read_back(self, sample: list[A.Asset], timed: bool = True) -> None:
        for a in sample:
            t = time.perf_counter()
            try:
                got = self.call("db.get_by_uri", self.db.get_by_uri, a.uri,
                                access_type=self.json_str)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                self.tally.fail(f"read {a.uri}: {type(exc).__name__}: {exc}")
                continue
            if timed:
                self.read_ms.append((time.perf_counter() - t) * 1000.0)
            self.tally.check(A.digest_json_text(got) == A.digest(a.obj), f"stale read {a.uri}")

    def experiment(self, project: str, experiment: str, assets: list[A.Asset],
                   timed: bool = True) -> float | None:
        """Write one experiment and read part of it back. ``timed``
        experiments count towards put_s / cycle_rates / assets_put /
        read_ms. Returns the write's seconds (None if it failed)."""
        t = time.perf_counter()
        took = self.write(assets)
        if took is not None:
            self.read_back([assets[i] for i in self.plan.readback[experiment]], timed)
            if timed:
                self.put_s += took
                self.cycle_rates.append(len(assets) / (time.perf_counter() - t))
                self.assets_put += len(assets)
        return took

    def maintenance(self, rerun, removed) -> float:
        """Re-run one experiment, remove another, compact. Returns the
        seconds spent in rm_experiment_data + compact."""
        p, e, _ = rerun
        fresh = A.experiment_assets(self.plan.seed, p, e, self.plan.spec, version=1)
        self.experiment(p, e, fresh, timed=False)
        rp, re_, gone = removed
        t = time.perf_counter()
        try:
            self.call("db.rm_experiment_data", self.db.rm_experiment_data, rp, re_)
            self.call("db.compact", self.db.compact)
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            self.tally.fail(f"maintenance: {type(exc).__name__}: {exc}")
        maint_s = time.perf_counter() - t
        for a in gone:
            self.live.pop(a.uri, None)
        return maint_s

    def verify_after_maintenance(self, rerun, removed) -> None:
        """Untimed: removed experiment gone, survivors intact."""
        from aerovaldb_spark import Route

        rp, re_, gone = removed
        left = self.call("db.query", self.db.query, Route.CONFIG, project=rp, experiment=re_)
        self.tally.check(not left, f"{re_} still has a config after rm")
        try:
            self.db.get_by_uri(gone[0].uri, access_type=self.json_str)
            self.tally.fail(f"{gone[0].uri} readable after rm")
        except FileNotFoundError:
            self.tally.ok()
        rng = random.Random(f"{self.plan.seed}/verify")
        survivors = sorted(self.live)
        sample = [self.live[u] for u in rng.sample(survivors, min(10, len(survivors)))]
        self.read_back([a for a in sample if not a.binary], timed=False)
        for a in (x for x in sample if x.binary):
            got = self.db.get_by_uri(a.uri)
            self.tally.check(A.digest(bytes(got)) == A.digest(a.obj), f"blob {a.uri}")


def _new_store(ctx, label: str):
    from aerovaldb_spark import AerovalSparkDB

    db = AerovalSparkDB(ctx.spark, ctx.run.new_store_root(label))
    for p in PROJECTS:
        put_asset(db, A.experiments_registry(p, []))
    db.flush()
    return db


def _produce(ctx, plan: Plan, db, seconds: float | None, n_regular: int | None):
    """Into ``db``: the warm-up (the large experiment, on the Spark
    flush path, and the first regular one), then regular experiments
    for ``seconds`` (at least MIN_EXPERIMENTS) or ``n_regular`` of
    them, then maintenance. Returns (producer, large flush seconds,
    maintenance seconds, wall)."""
    prod = Producer(ctx, db, plan, Tally())
    t0 = time.perf_counter()
    with ctx.phase("warmup"):
        large_s = prod.experiment(*plan.large, timed=False) or 0.0
        prod.experiment(*plan.regular[0], timed=False)
    done = []
    with ctx.phase("timed"):
        t = time.perf_counter()
        for item in plan.regular[1:]:
            if n_regular is not None and len(done) >= n_regular:
                break
            if (seconds is not None and time.perf_counter() - t >= seconds
                    and len(done) >= (2 if ctx.tiny else MIN_EXPERIMENTS)):
                break
            prod.experiment(*item)
            done.append(item)
    with ctx.phase("maintenance"):
        maint_s = prod.maintenance(done[0], done[1])
    with ctx.phase("verify"):
        prod.verify_after_maintenance(done[0], done[1])
    return prod, large_s, maint_s, time.perf_counter() - t0


def run(ctx) -> Result:
    with ctx.phase("generate"):
        plan = Plan(ctx.seed, ctx.size, pool=4 if ctx.tiny else POOL)
    with ctx.phase("setup"):
        db = _new_store(ctx, "timed")
    res = Result()
    res.setup_s = ctx.setup_s()

    if ctx.trace:
        n = 2
        *_, plain_wall = _produce(ctx, plan, db, None, n)
        db = _new_store(ctx, "traced")
        with ctx.traced_layers():
            prod, large_s, maint_s, wall = _produce(ctx, plan, db, None, n)
        res.trace_overhead_pct = (wall / plain_wall - 1.0) * 100.0
    else:
        prod, large_s, maint_s, wall = _produce(ctx, plan, db, ctx.seconds, None)
    gauges = storage_gauges(db.root)
    user_bytes = sum(a.user_bytes() for a in prod.live.values())
    q, tail = tail_percentile(prod.read_ms)
    res.tally = prod.tally
    res.op_p50_ms = median(prod.read_ms)
    # The whole produce cycle (put, flush, read-back), the median over
    # the timed experiments, so a burst of host load that slows a few
    # of them does not move it. Put + flush alone is ~10% of the cycle
    # and single-threaded Python: its rate shifts by up to 2x from
    # second to second on a shared host (a whole experiment's puts run
    # at either ~0.5 or ~0.9 ms each on 4 cores), too noisy to gate
    # on. It is reported as put_assets_per_s, pooled.
    res.work_per_s = median(prod.cycle_rates)
    n_large = len(plan.large[2])
    res.report = {
        "produce_assets_per_s": (res.work_per_s, "1/s"),
        "put_assets_per_s": (prod.assets_put / prod.put_s if prod.put_s else 0.0, "1/s"),
        "assets_put": (prod.assets_put, "count"),
        "large_put_assets_per_s": (n_large / large_s if large_s else 0.0, "1/s"),
        "large_assets": (n_large, "count"),
        "read_p50_ms": (res.op_p50_ms, "ms"),
        f"read_p{q:g}_ms": (tail, "ms"),
        "read_samples": (len(prod.read_ms), "count"),
        "maintenance_s": (maint_s, "s"),
        "bytes_per_user_byte": (gauges["db.storage.bytes"] / max(user_bytes, 1), "ratio"),
        "live_assets": (len(prod.live), "count"),
    }
    res.gauges = gauges
    return res
