"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical files, and a different seed gives
different ones. Two families:

- ``write_tables``: the ten tables the query registry reads (TPC-H-shaped
  star schema plus ``events``, ``documents`` and ``embeddings``) as
  parquet, with the column types, value ranges and category sets of the
  engine's test data.
- ``weather_plan``: raw OpenWeather-shaped payloads for the ingest
  pipeline, one landed file per day, with a seeded share of late files and
  a few corrupt NDJSON lines.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table: the engine's smallest test-data scale (sf0.01),
#: where the corpus query families' fixed per-query costs dominate.
ROWS: dict[str, int] = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days_ts(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, size=n, dtype=np.int64)
    return pa.array(_us(lo) + days * 86_400_000_000, type=pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Amounts in quarters. Every double the generator writes is a dyadic
    fraction with few bits, so sums, products and averages of them are
    exact in any accumulation order, and the engine and the DuckDB oracle
    round identical values: a two-decimal price would put some
    ``ROUND(SUM(..), 2)`` group within float noise of a rounding boundary
    for some seeds."""
    return np.floor(rng.uniform(lo, hi, size=n) * 4.0) / 4.0


def _fraction(rng, hi: int, n: int) -> np.ndarray:
    """Rates in 128ths: ``k / 128`` for k in [0, hi]."""
    return rng.integers(0, hi + 1, size=n) / 128.0


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    out_lang = [LANGS[i] for i in langs]
    # near-duplicate structure of the test corpus: ~4.5% near copies (one
    # or two word edits) and ~0.2% exact copies, each in its donor's lang
    n_near, n_exact = int(n * 0.045), max(1, int(n * 0.002))
    victims = rng.choice(n, size=n_near + n_exact, replace=False)
    donors = rng.integers(0, n, size=n_near + n_exact)
    for k, (v, d) in enumerate(zip(victims.tolist(), donors.tolist())):
        if v == d:
            continue
        if k < n_exact:
            texts[v] = texts[d]
        else:
            ws = texts[d].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[v] = " ".join(ws)
        out_lang[v] = out_lang[d]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(out_lang, type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.normal(0.0, 0.009, size=(labels, dim))
    label = rng.integers(0, labels, size=n).astype(np.int32)
    vecs = centroids[label] + rng.normal(0.0, 0.125, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label,
    })


def _events(rng, n: int) -> pa.Table:
    lo = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(lo, lo + 30 * 86_400_000_000, size=n, dtype=np.int64))
    users = max(1, n // 66)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, users, size=n, dtype=np.int64),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": np.floor(rng.exponential(50.0, size=n) * 8.0) / 8.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``ROWS``. Each table draws from its
    own stream, so one table's size never shifts another's values."""
    rows = ROWS
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    n_c, n_s, n_p, n_o = rows["customer"], rows["supplier"], rows["part"], rows["orders"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": r.integers(0, 25, size=n_c).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, size=n_c)],
    })
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": r.integers(0, 25, size=n_s).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_s),
    })
    r = rngs["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [names[i] for i in r.integers(0, len(names), size=n_p)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, size=n_p)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, size=n_p)],
        "p_size": r.integers(1, 51, size=n_p).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_p) % 400) / 4.0,
    })
    r = rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": r.integers(0, n_c, size=n_o, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, size=n_o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
        "o_orderdate": _days_ts(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_o),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, size=n_o)],
    })
    r = rngs["lineitem"]
    n_l = rows["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_o, size=n_l, dtype=np.int64),
        "l_partkey": r.integers(0, n_p, size=n_l, dtype=np.int64),
        "l_suppkey": r.integers(0, n_s, size=n_l, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, size=n_l).astype(np.int32),
        "l_quantity": r.integers(1, 51, size=n_l).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_l),
        "l_discount": _fraction(r, 13, n_l),
        "l_tax": _fraction(r, 10, n_l),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, size=n_l)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, size=n_l)],
        "l_shipdate": _days_ts(r, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_l),
    })
    out["events"] = _events(rngs["events"], rows["events"])
    out["documents"] = _documents(rngs["documents"], rows["documents"])
    out["embeddings"] = _embeddings(rngs["embeddings"], rows["embeddings"])
    return out


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` and return a hex
    digest of the files' bytes (the record's input digest). Row groups are
    bounded so the scans split across local cores."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in build_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(table.num_rows // 16, 4096))
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# weather ingest
# ---------------------------------------------------------------------------

STATIONS = [
    ("Bankura", 87.07, 23.25),
    ("Durgapur", 87.32, 23.55),
    ("Purulia", 86.36, 23.33),
]
CONDITIONS = [
    (800, "Clear", "clear sky"), (803, "Clouds", "broken clouds"),
    (500, "Rain", "light rain"), (721, "Haze", "haze"),
]
#: The hour landed for a day: 23:00 closes the day (``till_time`` EOD); a
#: seeded share of days lands its 17:00 hour instead, a partial day.
EOD_HOUR, PARTIAL_HOUR = 23, 17
SPAN_DAYS = 17
LANDED_DAYS = 6
LATE_SHARE = 0.34
CORRUPT_LINES = 3


@dataclass
class LandedFile:
    """One landed NDJSON file: the hour it belongs to and its payloads."""

    day: dt.date
    time: str  # "HH:MM:SS", the ingest stamp
    payloads: list[dict]
    corrupt_lines: int = 0


@dataclass
class WeatherPlan:
    """Landing order of the files, plus the facts the checks need."""

    files: list[LandedFile]
    first_day: dt.date
    days: int
    today: dt.date
    late_files: int = 0
    corrupt_lines: int = 0

    def digest(self) -> str:
        h = hashlib.sha256()
        for f in self.files:
            h.update(repr((f.day, f.time, f.payloads, f.corrupt_lines)).encode())
        return h.hexdigest()[:16]


def _payload(rng, name: str, lon: float, lat: float, day: dt.date, hour: int) -> dict:
    temp = round(float(rng.uniform(288.0, 312.0)), 2)
    spread = round(float(rng.uniform(0.0, 3.0)), 2)
    cid, cmain, cdesc = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
    rainy = cmain == "Rain"
    stamp = int((dt.datetime(day.year, day.month, day.day, hour) - _EPOCH).total_seconds())
    return {
        "coord": {"lon": lon, "lat": lat},
        "weather": [{"id": cid, "main": cmain, "description": cdesc}],
        "base": "stations",
        "main": {
            "temp": temp,
            "feels_like": round(temp + float(rng.uniform(-2.0, 4.0)), 2),
            "pressure": int(rng.integers(990, 1021)),
            "humidity": int(rng.integers(10, 101)),
            "temp_min": round(temp - spread, 2),
            "temp_max": round(temp + spread, 2),
            "sea_level": int(rng.integers(990, 1021)) if rng.random() < 0.5 else None,
            "grnd_level": int(rng.integers(980, 1011)) if rng.random() < 0.5 else None,
        },
        "visibility": int(rng.integers(0, 10001)) if rng.random() < 0.9 else None,
        "wind": {
            "speed": round(float(rng.uniform(0.0, 20.0)), 2),
            "deg": int(rng.integers(0, 360)),
            "gust": round(float(rng.uniform(0.0, 25.0)), 2) if rng.random() < 0.3 else None,
        },
        "clouds": {"all": int(rng.integers(0, 101))},
        "rain": (
            {"1h": round(float(rng.uniform(0.1, 8.0)), 2),
             "3h": round(float(rng.uniform(0.1, 20.0)), 2) if rng.random() < 0.5 else None}
            if rainy else None
        ),
        "snow": None,
        "dt": stamp,
        "sys": {"country": "IN", "sunrise": stamp - 3600 * (hour - 5) - 1800,
                "sunset": stamp + 3600 * (18 - hour)},
        "timezone": 19800,
        "name": name,
    }


def weather_plan(seed: int) -> WeatherPlan:
    """Raw payloads over ``SPAN_DAYS`` consecutive days (more than the
    15-day retention window). ``LANDED_DAYS`` of them, always including the
    first and the last, land one hour each, several stations per hour.

    A ``LATE_SHARE`` of files is landed after files of later days: each is
    delayed by two to five days of landing order, so the batch that carries
    it refreshes an older day too. ``CORRUPT_LINES`` malformed NDJSON lines
    are spread over seeded files (never the first, so the first batch
    creates the tables from valid rows)."""
    rng = np.random.default_rng([seed, 1001])
    first = dt.date(2024, 3, 1) + dt.timedelta(days=int(rng.integers(0, 200)))
    inner = rng.choice(np.arange(1, SPAN_DAYS - 1), size=LANDED_DAYS - 2, replace=False)
    days = sorted([0, SPAN_DAYS - 1, *inner.tolist()])
    ontime: list[tuple[int, LandedFile]] = []
    for d in days:
        day = first + dt.timedelta(days=d)
        h = PARTIAL_HOUR if rng.random() < 0.25 else EOD_HOUR
        payloads = [_payload(rng, n, lon, lat, day, h) for n, lon, lat in STATIONS]
        ontime.append((d, LandedFile(day, f"{h:02d}:00:05", payloads)))
    order: list[tuple[float, LandedFile]] = []
    late = 0
    for i, (d, f) in enumerate(ontime):
        delay = 0.0
        if i > 0 and rng.random() < LATE_SHARE:
            delay = float(rng.integers(2, 6))
            late += 1
        order.append((d + delay + i * 1e-4, f))
    order.sort(key=lambda kv: kv[0])
    files = [f for _, f in order]
    for idx in rng.choice(np.arange(1, len(files)), size=CORRUPT_LINES, replace=False):
        files[int(idx)].corrupt_lines += 1
    return WeatherPlan(
        files=files,
        first_day=first,
        days=SPAN_DAYS,
        today=first + dt.timedelta(days=SPAN_DAYS),
        late_files=late,
        corrupt_lines=CORRUPT_LINES,
    )
