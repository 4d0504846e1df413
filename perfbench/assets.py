"""Seeded generator of Aeroval experiments, plus the reference checks
the workloads grade the store's answers with.

Everything here is independent of ``aerovaldb_spark``: URIs come from
this file's own copy of the route templates, expected point reads are
digests of what the generator wrote, and filtered reads are checked
against ``slice_*`` below, a small re-statement of the sub-document
filter semantics (not the store's ``filters`` module).
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from typing import Any

TEMPLATES = {
    "experiments": "/v0/experiments/{project}",
    "config": "/v0/config/{project}/{experiment}",
    "menu": "/v0/menu/{project}/{experiment}",
    "glob_stats": "/v0/glob_stats/{project}/{experiment}/{frequency}",
    "heatmap": "/v0/heatmap/{project}/{experiment}/{frequency}",
    "map": "/v0/map/{project}/{experiment}/{network}/{obsvar}/{layer}/{model}/{modvar}",
    "scatter": "/v0/scat/{project}/{experiment}/{network}/{obsvar}/{layer}/{model}/{modvar}",
    "timeseries": "/v0/ts/{project}/{experiment}/{location}/{network}/{obsvar}/{layer}",
    "contour": "/v0/contour/{project}/{experiment}/{obsvar}/{model}",
    "report_image": "/v0/report-image/{project}/{experiment}/{path}",
}

VARS = ("od550aer", "concpm10", "concpm25")
NETS = ("AERONET", "EEA")
LAYERS = ("Column",)
MODELS = ("EMEP", "IFS")
REGIONS = ("ALL", "EUROPE", "ASIA", "AFRICA", "NAMERICA")
PERIODS = ("2019-all", "2019-DJF", "2019-JJA")
STATS = ("nmb", "R", "rms", "fge")
FREQS = ("monthly", "yearly", "daily")
MAP_FREQS = ("monthly", "yearly")
SEASONS = ("all", "DJF", "MAM", "JJA", "SON")
TIMESTEPS = ("1546300800000", "1548979200000", "1551398400000", "1554076800000")
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
PYAEROCOM_VERSION = "0.30.0"


def uri_of(kind: str, **args: str) -> str:
    return TEMPLATES[kind].format(**args)


def dumps(obj: Any) -> str:
    return json.dumps(obj)


def digest(obj: Any) -> str:
    """Canonical digest of a JSON value (key order and whitespace do
    not matter) or of raw bytes."""
    if isinstance(obj, (bytes, bytearray, memoryview)):
        return hashlib.sha1(bytes(obj)).hexdigest()
    text = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha1(text.encode()).hexdigest()


def digest_json_text(text: str | bytes) -> str:
    return digest(json.loads(text))


@dataclass
class Asset:
    kind: str
    args: dict[str, str]
    obj: Any  # JSON value, or bytes for report images

    @property
    def uri(self) -> str:
        return uri_of(self.kind, **self.args)

    @property
    def binary(self) -> bool:
        return self.kind == "report_image"

    def user_bytes(self) -> int:
        return len(self.obj) if self.binary else len(dumps(self.obj).encode())


def value(rng: random.Random) -> float:
    return round(rng.uniform(-1.5, 3.0), 4)


def glob_stats_doc(rng: random.Random) -> dict:
    return {
        var: {
            net: {
                layer: {
                    model: {
                        var: {
                            region: {
                                period: {s: value(rng) for s in STATS}
                                for period in PERIODS
                            }
                            for region in REGIONS
                        }
                    }
                    for model in MODELS
                }
                for layer in LAYERS
            }
            for net in NETS
        }
        for var in VARS
    }


def map_doc(rng: random.Random, n_stations: int) -> list:
    out = []
    for i in range(n_stations):
        st = {
            "station_name": f"st{i:03d}",
            "latitude": round(rng.uniform(-60, 70), 3),
            "longitude": round(rng.uniform(-180, 180), 3),
            "altitude": round(rng.uniform(0, 3000), 1),
            "region": rng.choice(REGIONS),
            "data_source": "generated",
        }
        for freq in MAP_FREQS:
            st[freq] = {s: {k: value(rng) for k in STATS} for s in SEASONS}
        out.append(st)
    return out


def contour_doc(rng: random.Random, n_features: int) -> dict:
    return {
        ts: {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "geometry": {
                        "type": "Polygon",
                        "coordinates": [
                            [[round(rng.uniform(-180, 180), 2), round(rng.uniform(-90, 90), 2)]
                             for _ in range(5)]
                        ],
                    },
                    "properties": {"value": value(rng)},
                }
                for _ in range(n_features)
            ],
        }
        for ts in TIMESTEPS
    }


def timeseries_doc(rng: random.Random, n_points: int) -> dict:
    dates = [f"2019-{1 + i % 12:02d}-{1 + i // 12:02d}" for i in range(n_points)]
    return {
        "monthly_date": dates,
        "monthly_obs": [value(rng) for _ in dates],
        "monthly_mod": [value(rng) for _ in dates],
        "obs_unit": "1",
        "station_name": "",
    }


class ExperimentSpec:
    """Shape of one generated experiment."""

    def __init__(self, n_locations: int = 18, ts_points: int = 24,
                 n_stations: int = 16, n_features: int = 6, n_images: int = 4):
        self.n_locations = n_locations
        self.ts_points = ts_points
        self.n_stations = n_stations
        self.n_features = n_features
        self.n_images = n_images


def experiment_assets(seed: int, project: str, experiment: str,
                      spec: ExperimentSpec, version: int = 0) -> list[Asset]:
    """Every asset of one experiment: config, menu, glob_stats per
    frequency, map/scatter per (network, variable, model), contour with
    timesteps, timeseries per location, report images. ``version``
    changes every payload (a re-run of the same experiment)."""
    rng = random.Random(f"{seed}/{project}/{experiment}/{version}")
    pe = {"project": project, "experiment": experiment}
    out = [
        Asset("config", dict(pe), {
            "exp_info": {
                "exp_id": experiment,
                "exp_name": f"{experiment} run {version}",
                "public": True,
                "pyaerocom_version": PYAEROCOM_VERSION,
            },
            "time_cfg": {"start": 2019, "stop": 2020, "freqs": list(FREQS)},
            "model_cfg": {m: {"model_id": m} for m in MODELS},
        }),
        Asset("menu", dict(pe), {
            var: {"obs": {net: {layer: {m: {"model_id": m, "model_var": var} for m in MODELS}
                                for layer in LAYERS} for net in NETS}}
            for var in VARS
        }),
    ]
    for freq in FREQS:
        out.append(Asset("glob_stats", {**pe, "frequency": freq}, glob_stats_doc(rng)))
    for net in NETS:
        for var in VARS:
            for layer in LAYERS:
                for model in MODELS:
                    key = {**pe, "network": net, "obsvar": var, "layer": layer,
                           "model": model, "modvar": var}
                    out.append(Asset("map", dict(key), map_doc(rng, spec.n_stations)))
                    out.append(Asset("scatter", dict(key), {
                        f"st{i:03d}": {"obs": [value(rng) for _ in range(6)],
                                       "mod": [value(rng) for _ in range(6)]}
                        for i in range(spec.n_stations)
                    }))
    for var in VARS:
        for model in MODELS:
            out.append(Asset("contour", {**pe, "obsvar": var, "model": model},
                             contour_doc(rng, spec.n_features)))
    for loc in range(spec.n_locations):
        for net in NETS:
            for var in VARS:
                for layer in LAYERS:
                    out.append(Asset("timeseries", {
                        **pe, "location": f"loc{loc:05d}", "network": net,
                        "obsvar": var, "layer": layer,
                    }, timeseries_doc(rng, spec.ts_points)))
    for i in range(spec.n_images):
        body = PNG_MAGIC + rng.randbytes(2048 + 1024 * (i % 4))
        out.append(Asset("report_image", {**pe, "path": f"fig{i}.png"}, body))
    return out


def experiments_registry(project: str, experiments: list[str]) -> Asset:
    return Asset("experiments", {"project": project},
                 {e: {"public": True} for e in experiments})


# -- reference slicers (filter semantics restated) ----------------------

def slice_heatmap(doc: dict, region: str, time: str) -> dict:
    """Keep only the [region][time] leaf under every
    variable/network/layer/model/modvar; empty dicts stay."""
    return {
        var: {
            net: {
                layer: {
                    model: {
                        modvar: (
                            {region: {time: regions[region][time]}}
                            if region in regions and time in regions[region] else {}
                        )
                        for modvar, regions in modvars.items()
                    }
                    for model, modvars in models.items()
                }
                for layer, models in layers.items()
            }
            for net, layers in nets.items()
        }
        for var, nets in doc.items()
    }


def slice_regional(doc: dict, variable: str, network: str, layer: str) -> Any:
    return doc[variable][network][layer]


def slice_map(doc: list, frequency: str, season: str) -> list:
    keep = {"station_name", "latitude", "longitude", "altitude", "region",
            "station_display_name"}
    out = []
    for st in doc:
        rec = {k: v for k, v in st.items() if k in keep}
        if frequency in st:
            rec[frequency] = {s: v for s, v in st[frequency].items() if s == season}
        out.append(rec)
    return out


def slice_contour(doc: dict, timestep: str) -> Any:
    return doc[timestep]


# Point reads of one experiment, 14 at a time, in about the proportions
# of its JSON assets (108 of 143 are timeseries). The mix is fixed, so
# seeds change which assets are read, never how many of each kind; the
# last kind rotates over successive groups.
READ_MIX = ("timeseries",) * 10 + ("map", "scatter", "contour")
READ_MIX_ROTATING = ("glob_stats", "config", "menu")


def read_mix(group: int) -> list[str]:
    return [*READ_MIX, READ_MIX_ROTATING[group % len(READ_MIX_ROTATING)]]


def zipf_cum_weights(n: int, s: float) -> list[float]:
    acc = 0.0
    out = []
    for rank in range(1, n + 1):
        acc += 1.0 / rank**s
        out.append(acc)
    return out
