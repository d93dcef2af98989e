"""Seeded input generators for the benchmark.

Everything is a pure function of ``seed``: the same seed writes
byte-identical inputs. The shapes follow the repository's own fixture
generators (the four TLC cab schemas with their column-name drift and
planted invalid rows; the scale-data document corpus with per-language
vocabularies and planted near/exact duplicates) without importing them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CABS = ("yellow", "green", "fhv", "fhvhv")
YEAR = 2025
MONTHS = (1, 2, 3, 4, 5, 6)
AIRPORT_ZONES = (132, 138, 1, 140)
BOROUGHS = ("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island", "EWR")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(df: pd.DataFrame, path: str) -> None:
    # micros, like real TLC parquet (Spark's reader rejects NANOS)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


# ---------------------------------------------------------------------------
# Raw TLC trips
# ---------------------------------------------------------------------------


def _pickups(rng: np.random.Generator, n: int, month: int) -> pd.Series:
    start = pd.Timestamp(YEAR, month, 1)
    span = (start + pd.offsets.MonthBegin(1) - start).total_seconds() - 4 * 3600
    return pd.Series(start + pd.to_timedelta(rng.uniform(0, span, n), unit="s"))


def _zones(rng: np.random.Generator, n: int) -> np.ndarray:
    # Zipf zone mass with extra weight on the airport zones
    z = rng.zipf(1.5, n) % 265 + 1
    boost = rng.random(n) < 0.08
    z[boost] = rng.choice(AIRPORT_ZONES, boost.sum())
    return z.astype("int32")


def _durations(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    dur = rng.uniform(lo, hi, n)
    long_ = rng.random(n) < 0.003  # planted trips over one day
    dur[long_] = rng.uniform(1441 * 60, 3000 * 60, long_.sum())
    short = rng.random(n) < 0.005  # planted trips under 30 s
    dur[short] = rng.uniform(0, 29, short.sum())
    return dur


def _money(rng: np.random.Generator, n: int):
    dist = np.round(rng.lognormal(1.0, 0.6, n), 2)
    dist[rng.random(n) < 0.01] = 0.0  # planted zero distance
    big = rng.random(n) < 0.005  # planted >500 mi outliers
    dist[big] = np.round(rng.uniform(500, 900, big.sum()), 2)
    fare = np.round(3.0 + dist * rng.uniform(2.2, 3.2, n), 2)
    fare[rng.random(n) < 0.01] *= -1  # planted negative fares
    tip = np.round(fare.clip(0) * rng.uniform(0, 0.4, n), 2)
    return dist, fare, tip


def _bases(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    return np.array([f"B{i:05d}" for i in range(k)])[rng.integers(0, k, n)]


def _yellow(rng: np.random.Generator, n: int, month: int, prefix: str) -> pd.DataFrame:
    pu = _pickups(rng, n, month)
    do = pu + pd.to_timedelta(_durations(rng, n, 30, 3 * 3600), unit="s")
    bad = rng.random(n) < 0.02  # planted dropoff <= pickup
    do[bad] = pu[bad] - pd.to_timedelta(60, unit="s")
    do[rng.random(n) < 0.015] = pd.NaT  # planted null dropoffs
    dist, fare, tip = _money(rng, n)
    df = pd.DataFrame(
        {
            "VendorID": rng.choice(["1", "2"], n),
            f"{prefix}_pickup_datetime": pu,
            f"{prefix}_dropoff_datetime": do,
            "passenger_count": rng.integers(0, 7, n).astype("int32"),
            "trip_distance": dist,
            "RatecodeID": rng.choice(["1", "2", "3", "4", "5", "6"], n),
            "store_and_fwd_flag": rng.choice(["Y", "N"], n),
            "PULocationID": _zones(rng, n),
            "DOLocationID": _zones(rng, n),
            "payment_type": rng.choice(["1", "2", "3", "4"], n),
            "fare_amount": fare,
            "extra": np.round(rng.uniform(0, 2, n), 2),
            "mta_tax": rng.choice([0.0, 0.5], n),
            "tip_amount": tip,
            "tolls_amount": np.where(rng.random(n) < 0.1, 6.55, 0.0),
            "improvement_surcharge": rng.choice([0.3, 1.0], n),
        }
    )
    df["total_amount"] = np.round(
        df.fare_amount + df.extra + df.mta_tax + df.tip_amount
        + df.tolls_amount + df.improvement_surcharge,
        2,
    )
    return df


def _green(rng: np.random.Generator, n: int, month: int) -> pd.DataFrame:
    df = _yellow(rng, n, month, "lpep")
    df["trip_type"] = rng.choice(["1", "2"], n)
    return df


def _fhv(rng: np.random.Generator, n: int, month: int) -> pd.DataFrame:
    pu = _pickups(rng, n, month)
    do = pu + pd.to_timedelta(_durations(rng, n, 60, 2 * 3600), unit="s")
    do[rng.random(n) < 0.01] = pd.NaT
    return pd.DataFrame(
        {
            "dispatching_base_num": _bases(rng, n, 300),
            "pickup_datetime": pu,
            "dropOff_datetime": do,  # capital O, as in the TLC files
            "PUlocationID": _zones(rng, n),  # lowercase l, as in the TLC files
            "DOlocationID": _zones(rng, n),
            "SR_Flag": pd.array(np.where(rng.random(n) < 0.9, pd.NA, 1), dtype="Int64"),
            "Affiliated_base_number": _bases(rng, n, 300),
        }
    )


def _fhvhv(rng: np.random.Generator, n: int, month: int) -> pd.DataFrame:
    pu = _pickups(rng, n, month)
    trip_time = _durations(rng, n, 120, 2 * 3600).astype("int64")
    do = pu + pd.to_timedelta(trip_time, unit="s")
    dist = np.round(rng.lognormal(1.2, 0.6, n), 2)
    dist[rng.random(n) < 0.01] = 0.0
    base = np.round(5.0 + dist * rng.uniform(2.0, 3.0, n), 2)
    return pd.DataFrame(
        {
            "hvfhs_license_num": rng.choice(["HV0002", "HV0003", "HV0005"], n),
            "dispatching_base_num": _bases(rng, n, 50),
            "originating_base_num": _bases(rng, n, 50),
            "request_datetime": pu - pd.to_timedelta(rng.uniform(60, 600, n), unit="s"),
            "on_scene_datetime": pu - pd.to_timedelta(rng.uniform(0, 120, n), unit="s"),
            "pickup_datetime": pu,
            "dropoff_datetime": do,
            "PULocationID": _zones(rng, n),
            "DOLocationID": _zones(rng, n),
            "trip_miles": dist,
            "trip_time": trip_time,
            "base_passenger_fare": base,
            "tolls": np.where(rng.random(n) < 0.1, 6.55, 0.0),
            "bcf": np.round(base * 0.025, 2),
            "sales_tax": np.round(base * 0.08875, 2),
            "congestion_surcharge": np.where(rng.random(n) < 0.5, 2.75, 0.0),
            "airport_fee": np.where(rng.random(n) < 0.08, 2.5, 0.0),
            "tips": np.round(base * rng.uniform(0, 0.3, n), 2),
            "driver_pay": np.round(base * 0.7, 2),
            "shared_request_flag": rng.choice(["Y", "N"], n),
            "shared_match_flag": rng.choice(["Y", "N"], n),
            "access_a_ride_flag": rng.choice(["Y", "N", " "], n),
            "wav_request_flag": rng.choice(["Y", "N"], n),
            "wav_match_flag": rng.choice(["Y", "N"], n),
            "cbd_congestion_fee": np.where(rng.random(n) < 0.3, 0.75, 0.0),
        }
    )


_MAKERS = {
    "yellow": lambda rng, n, m: _yellow(rng, n, m, "tpep"),
    "green": _green,
    "fhv": _fhv,
    "fhvhv": _fhvhv,
}


def write_taxi(base: str, seed: int, rows_per_cab: int) -> dict[str, str]:
    """Raw per-cab, per-month parquet (``<cab>/<cab>_tripdata_YYYY-MM.parquet``)
    plus ``zone_lookup.parquet`` and ``weather_daily.parquet`` covering
    the same dates. Returns cab -> raw directory."""
    per_month = rows_per_cab // len(MONTHS)
    paths = {}
    for ci, cab in enumerate(CABS):
        d = os.path.join(base, "raw", cab)
        os.makedirs(d, exist_ok=True)
        for month in MONTHS:
            df = _MAKERS[cab](_rng(seed, ci, month), per_month, month)
            _write(df, os.path.join(d, f"{cab}_tripdata_{YEAR}-{month:02d}.parquet"))
        paths[cab] = d
    rng = _rng(seed, 100)
    _write(
        pd.DataFrame(
            {
                "LocationID": np.arange(1, 266, dtype="int32"),
                "Borough": rng.choice(BOROUGHS, 265),
                "Zone": [f"Zone {i}" for i in range(1, 266)],
                "service_zone": rng.choice(["Yellow Zone", "Boro Zone", "Airports"], 265),
            }
        ),
        os.path.join(base, "zone_lookup.parquet"),
    )
    days = pd.date_range(f"{YEAR}-01-01", f"{YEAR}-06-30", freq="D")
    nd = len(days)
    rng = _rng(seed, 101)
    _write(
        pd.DataFrame(
            {
                "date": days.date,
                "temp_f": np.round(rng.uniform(20, 90, nd), 1),
                "precipitation_inches": np.round(
                    np.where(rng.random(nd) < 0.7, 0, rng.uniform(0, 2, nd)), 2
                ),
                "wind_mph": np.round(rng.uniform(0, 25, nd), 1),
                "snow_inches": np.round(
                    np.where(rng.random(nd) < 0.9, 0, rng.uniform(0, 8, nd)), 1
                ),
            }
        ),
        os.path.join(base, "weather_daily.parquet"),
    )
    return paths


# ---------------------------------------------------------------------------
# Document corpus
# ---------------------------------------------------------------------------

# Base vocabularies, 31 words per language. English carries the
# quality scorer's stopwords, so quality varies with document length
# and lexical diversity the way it does on a real crawl.
_BASE_VOCAB = {
    "en": "the a of and to in is it for city taxi fare ride street driver night "
    "airport bridge river park market station morning traffic rain north "
    "south east west route time".split(),
    "es": "el la de que y los ciudad calle taxi viaje noche puerto puente rio "
    "parque mercado estacion manana lluvia norte sur este oeste ruta tiempo "
    "precio coche barrio plaza tren linea".split(),
    "fr": "le la les des et une ville rue taxi trajet nuit port pont fleuve "
    "parc marche gare matin pluie nord sud est ouest route temps prix "
    "voiture quartier place train ligne".split(),
    "de": "der die das und ein nicht stadt strasse taxi fahrt nacht hafen "
    "bruecke fluss park markt bahnhof morgen regen nord sued ost west route "
    "zeit preis wagen viertel platz zug linie".split(),
    "zh": "的 是 了 在 城市 街道 出租 车费 夜晚 机场 桥梁 河流 公园 市场 车站 "
    "早晨 交通 下雨 北方 南方 东方 西方 路线 时间 价格 汽车 小区 广场 火车 线路 司机".split(),
}
LANG_SHARES = (("en", 0.41), ("zh", 0.56), ("fr", 0.705), ("es", 0.855), ("de", 1.01))
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _hash(x: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """Deterministic 64-bit hash of int64 ``x`` with the seed mixed into
    the salt, so every seed gives an independent corpus."""
    key = _mix(np.array([(seed << 20) ^ salt], dtype=np.uint64) & _M64)[0]
    with np.errstate(over="ignore"):
        return _mix(x.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ key)


def _u(x: np.ndarray, salt: int, seed: int) -> np.ndarray:
    return (_hash(x, salt, seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _h(x: np.ndarray, salt: int, seed: int, mod: int) -> np.ndarray:
    return (_hash(x, salt, seed) % np.uint64(mod)).astype(np.int64)


def make_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``(doc_id, text, lang, source, n_chars)``: ~2.5% near-duplicate
    clones (8% of words mutated) and ~0.2% exact duplicates of an
    earlier document. The per-language vocabulary grows with the corpus
    (31 words per 5k docs), so duplicate-group sizes stay O(1)."""
    ids = np.arange(n_docs, dtype=np.int64)
    r = _u(ids, 72, seed)
    clone = (r < 0.027) & (ids >= 50)
    src = np.where(clone, ids - 1 - _h(ids, 73, seed, 49), ids)
    mut = np.where(r < 0.002, 0.0, np.where(r < 0.027, 0.08, -1.0))
    mut[~clone] = -1.0
    ru = _u(src, 71, seed)
    lang = np.full(n_docs, LANG_SHARES[-1][0], dtype=object)
    for name, cum in reversed(LANG_SHARES[:-1]):
        lang[ru < cum] = name
    length = _h(src, 75, seed, 93) + 8
    n_vocab = max(31, int(round(310 * n_docs / 50_000)))

    # one row per (doc, word position)
    doc_of = np.repeat(ids, length)
    k = np.arange(len(doc_of)) - np.repeat(np.cumsum(length) - length, length) + 1
    src_of, mut_of = src[doc_of], mut[doc_of]
    idx = _h(src_of * 131 + k, 77, seed, n_vocab)
    mutated = (mut_of > 0) & (_u(doc_of * 131 + k, 76, seed) < mut_of)
    idx = np.where(mutated, _h(doc_of * 131 + k, 77, seed, n_vocab), idx)

    words = np.empty(len(doc_of), dtype=object)
    lang_of = lang[doc_of]
    for name, base in _BASE_VOCAB.items():
        # word i: base word i % 31 with generation suffix i // 31
        # ('ship', 'ship1', 'ship2', ...)
        k = len(base)
        table = np.array(
            [base[i % k] + ("" if i < k else str(i // k)) for i in range(n_vocab)],
            dtype=object,
        )
        sel = lang_of == name
        words[sel] = table[idx[sel]]
    bounds = np.cumsum(length)
    texts = [" ".join(ws) for ws in np.split(words, bounds[:-1])]
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang.astype(str),
            "source": ["src%d" % s for s in _h(ids, 74, seed, 20)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(base: str, seed: int, n_docs: int) -> str:
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "documents.parquet")
    _write(make_documents(seed, n_docs), path)
    return path
