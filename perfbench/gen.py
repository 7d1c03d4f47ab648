"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the program under test receives
only the files these functions write. The same seed gives byte-identical
inputs.

Weather batches mimic a feed of hourly API readings: dirty city/country/
description strings, critical and non-critical nulls, out-of-range
values, same-hour duplicates, and re-sent corrections of the previous
day (same natural key, new measures), so every transform path and both
merge paths (insert and update) run.

Documents follow the ``documents`` table at sf0.1: the shape of its
text and its duplicate shares were measured on that table and are
drawn the same way here (see ``documents``).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = dt.datetime(2024, 1, 1)
CORRECTION_SHARE = 0.1  # of the previous day's readings, re-sent changed
_COUNTRIES = [
    "GB", "US", "JP", "DE", "FR", "ES", "IT", "BR", "IN", "CN",
    "CA", "AU", "MX", "NG", "EG", "ZA", "AR", "SE", "NO", "PL",
]
_DESCRIPTIONS = [
    "clear sky", "few clouds", "scattered clouds", "broken clouds",
    "shower rain", "rain", "thunderstorm", "snow", "mist", "overcast clouds",
]

RAW_ARROW_SCHEMA = pa.schema(
    [
        ("city", pa.string()),
        ("country", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("temperature", pa.float64()),
        ("feels_like", pa.float64()),
        ("humidity", pa.int32()),
        ("pressure", pa.int32()),
        ("description", pa.string()),
        ("wind_speed", pa.float64()),
        ("wind_direction", pa.int32()),
        ("cloudiness", pa.int32()),
        ("visibility", pa.float64()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
    ]
)


class WeatherFeed:
    """Hourly readings for ``n_cities`` fixed stations, one batch per day.

    ``batch(day)`` holds the day's 24 readings per city (plus dirt and
    same-hour duplicates) and, unless ``corrections=False``, for ``day >=
    1`` re-sent corrections of ``CORRECTION_SHARE`` of the previous day's
    readings.
    """

    def __init__(self, seed: int, n_cities: int):
        rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.n_cities = n_cities
        self.city = np.array([f"City {i:05d}" for i in range(n_cities)])
        self.country = np.array(_COUNTRIES)[rng.integers(0, len(_COUNTRIES), n_cities)]
        # |coordinate| >= 0.01: Spark and DuckDB spell tiny doubles
        # differently in the coord_string column
        sign = np.where(rng.random((2, n_cities)) < 0.5, -1.0, 1.0)
        self.lat = np.round(sign[0] * rng.uniform(0.01, 70, n_cities), 4)
        self.lon = np.round(sign[1] * rng.uniform(0.01, 179, n_cities), 4)
        self.climate = rng.uniform(-5, 28, n_cities)

    def _readings(self, rng, day: int, hours: np.ndarray, cities: np.ndarray,
                  minutes: np.ndarray, bump: float) -> dict:
        n = len(cities)
        ts = (
            np.datetime64(BASE_DAY, "us")
            + np.timedelta64(day, "D")
            + hours.astype("timedelta64[h]")
            + minutes.astype("timedelta64[m]")
        )
        temp = np.round(
            self.climate[cities]
            + 6 * np.sin((hours - 9) / 24 * 2 * np.pi)
            + rng.normal(0, 2, n)
            + bump,
            1,
        )
        hum = rng.integers(5, 112, n)
        pres = rng.integers(960, 1045, n)
        wind = np.round(rng.gamma(2.0, 3.0, n), 1)
        vis = np.round(rng.uniform(0.5, 15.0, n), 1)
        city = self.city[cities].astype(object)
        country = self.country[cities].astype(object)
        desc = np.array(_DESCRIPTIONS, dtype=object)[rng.integers(0, len(_DESCRIPTIONS), n)]
        dirty = rng.random(n) < 0.1
        city[dirty] = ["  " + c.lower() + " " for c in city[dirty]]
        country[dirty] = [" " + c.lower() for c in country[dirty]]
        desc[dirty] = [" " + d.upper() + "  " for d in desc[dirty]]
        cols = {
            "city": city,
            "country": country,
            "timestamp": ts,
            "temperature": temp.astype(object),
            "feels_like": np.round(temp - rng.uniform(0, 3, n), 1),
            "humidity": hum.astype(object),
            "pressure": pres.astype(object),
            "description": desc,
            "wind_speed": wind.astype(object),
            "wind_direction": rng.integers(-40, 420, n).astype(object),
            "cloudiness": rng.integers(0, 112, n),
            "visibility": vis.astype(object),
            "lat": self.lat[cities],
            "lon": self.lon[cities],
        }
        u = rng.random(n)
        cols["temperature"][u < 0.004] = None  # critical null: dropped
        cols["temperature"][(u >= 0.004) & (u < 0.007)] = 999.0  # invalid
        cols["pressure"][(u >= 0.007) & (u < 0.010)] = 700  # invalid
        cols["humidity"][(u >= 0.010) & (u < 0.012)] = None  # critical null
        cols["wind_speed"][(u >= 0.02) & (u < 0.04)] = None  # filled with 0
        cols["wind_direction"][(u >= 0.04) & (u < 0.05)] = None  # filled with 0
        cols["visibility"][(u >= 0.05) & (u < 0.08)] = None  # median-filled
        return cols

    def batch(self, day: int, corrections: bool = True) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2, day])
        hours = np.repeat(np.arange(24), self.n_cities)
        cities = np.tile(np.arange(self.n_cities), 24)
        parts = [self._readings(rng, day, hours, cities, np.zeros(len(hours), int), 0.0)]
        # same-hour duplicates: a later reading in the hour (dedup keeps
        # the on-the-hour one)
        dup = rng.random(len(hours)) < 0.02
        parts.append(
            self._readings(rng, day, hours[dup], cities[dup],
                           rng.integers(10, 50, int(dup.sum())), 0.0)
        )
        if corrections and day >= 1:
            prev = np.random.default_rng([self.seed, 3, day]).random(len(hours))
            fix = prev < CORRECTION_SHARE
            parts.append(
                self._readings(rng, day - 1, hours[fix], cities[fix],
                               np.zeros(int(fix.sum()), int), 0.5)
            )
        cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        order = np.random.default_rng([self.seed, 4, day]).permutation(len(cols["city"]))
        return pa.table(
            {k: pa.array(v[order].tolist() if v.dtype == object else v[order],
                         type=RAW_ARROW_SCHEMA.field(k).type)
             for k, v in cols.items()},
            schema=RAW_ARROW_SCHEMA,
        )

    def write_batch(self, day: int, path: str) -> int:
        t = self.batch(day)
        pq.write_table(t, path)
        return t.num_rows


# The vocabulary of the ``documents`` table at sf0.1: 30 words, drawn
# uniformly (each occurs 8.8k-9.2k times in its 5000 documents).
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LEN = (10, 100)  # words per document, uniform over [10, 100)
NEAR_SHARE = 0.05  # documents rewritten as a near copy of another


def documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents (doc_id, text) shaped like the ``documents``
    table at sf0.1.

    That table (5000 rows) measures: words uniform over a 30-word
    vocabulary, 10-99 words a document; 5% of the documents (250) are a
    near copy of another document anywhere in the table, its text with
    " dup" appended; the exact duplicates (8, 0.16%) are two near
    copies of one document, and no verbatim passage is shared outside
    these copies. This generator draws the same way: fresh documents
    first, then ``NEAR_SHARE`` of the rows, in id order, overwritten by
    a copy of another row's current text plus " dup" (so a copy of a
    copy and a copy of an overwritten row occur, as in the table).
    Ids are 0..n-1.
    """
    rng = np.random.default_rng([seed, 10])
    words = np.array(DOC_WORDS)
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1], n_docs)
    drawn = words[rng.integers(0, len(words), int(lens.sum()))]
    texts = [" ".join(t) for t in np.split(drawn, np.cumsum(lens)[:-1])]
    near = np.sort(rng.choice(n_docs, round(NEAR_SHARE * n_docs), replace=False))
    for i in near:
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}
    )
