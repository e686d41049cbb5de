"""Seeded input generators for the benchmark workloads.

Every generator draws only from the ``numpy.random.Generator`` it is
given, so the same seed gives byte-identical inputs.
Nothing here imports Spark: the workloads hand the generated files or
pandas frames to the engine's public functions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# covid_pipeline: reference-shaped CSV inputs (FIXTURES.md sections 1-8)
# --------------------------------------------------------------------------

JHU_DATES = pd.date_range("2020-01-22", "2020-04-26")  # 96 date columns
WEATHER_DATES = pd.date_range("2018-01-01", "2020-04-26")
STALE_LAST = pd.Timestamp("2019-12-31")  # fails the last_date >= 20200401 gate
US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY",
]


@dataclass
class CovidInputs:
    """What the generator wrote, and what a correct pipeline keeps."""

    in_dir: str
    kept: set = field(default_factory=set)  # (country_region, province_state)
    dropped: set = field(default_factory=set)
    weather_rows: int = 0


def _ghcn_codes(n: int) -> list:
    letters = [chr(c) for c in range(ord("A"), ord("Z") + 1)]
    codes = [a + b for a in letters for b in letters if a + b != "US"]
    return codes[:n]


def _cumulative(rng, n_days: int, scale: float) -> np.ndarray:
    """Monotone cumulative counts with a leading zero run (W4 trim)."""
    start = int(rng.integers(5, 40))
    growth = rng.gamma(2.0, scale, size=n_days)
    growth[:start] = 0.0
    return np.floor(np.cumsum(growth))


def covid_inputs(rng, in_dir: str, n_locations: int,
                 stations_per_location: int = 2) -> CovidInputs:
    """Write the ten CSV inputs ``dag.run_local`` reads into ``in_dir``.

    A quarter of the locations are US states (per-state rows from
    ``daily_covid_usstates`` plus county populations); the rest are
    countries. Every sixth location has only stale stations, so the
    weather forecast gates it out and ``dataset_full`` must drop it.
    Every seventh country reaches JHU under an old name that
    ``location_match`` renames; countries with a province split are
    collapsed to country level by the transform.
    """
    os.makedirs(in_dir, exist_ok=True)
    n_us = max(1, n_locations // 4)
    n_cty = n_locations - n_us
    codes = _ghcn_codes(n_cty)
    us_states = list(rng.choice(US_STATES, size=n_us, replace=False))
    out = CovidInputs(in_dir=in_dir)
    date_cols = [d.strftime("_%-m_%-d_%y") for d in JHU_DATES]
    nd = len(JHU_DATES)

    jhu = {k: [] for k in ("confirmed", "recovered", "death")}
    match_rows, pop_rows, country_rows = [], [], []
    station_rows, wx_frames = [], []
    locations = [("c", i) for i in range(n_cty)] + [("u", s) for s in us_states]
    for li, (kind, key) in enumerate(locations):
        stale = li % 6 == 5
        if kind == "c":
            name = f"Country {key:03d}"
            code = codes[key]
            country_rows.append((code, name + "   "))  # GHCN pads names
            jhu_name = name
            if key % 7 == 3:
                jhu_name = f"Old Name {key:03d}"
                match_rows.append((jhu_name, "UNK", name, "UNK"))
            provinces = ["UNK"] if key % 5 else ["Prov A", "Prov B"]
            for prov in provinces:
                conf = _cumulative(rng, nd, rng.uniform(3, 30))
                rec = np.floor(conf * rng.uniform(0.2, 0.5))
                dth = np.floor(conf * rng.uniform(0.01, 0.08))
                lat, lon = rng.uniform(-60, 60), rng.uniform(-180, 180)
                geom = f"POINT({lon:.4f} {lat:.4f})"
                for k, series in (("confirmed", conf), ("recovered", rec),
                                  ("death", dth)):
                    jhu[k].append([prov, jhu_name, lat, lon, geom,
                                   *series.astype(np.int64).tolist()])
            for _ in range(int(rng.integers(2, 6))):  # duplicate rows: dedup
                pop_rows.append((name.replace(" ", "_"),
                                 int(1e6 + key * 7919 % 10**7)))
            loc = (name, "UNK")
            st_state = ["", " "]
        else:
            code = "US"
            loc = ("United States", key)
            st_state = [key, f" {key} "]  # padded state codes get trimmed
        (out.dropped if stale else out.kept).add(loc)
        for s in range(stations_per_location):
            sid = f"{code}{li:04d}{s:05d}"
            station_rows.append((sid, st_state[s % 2]))
            dates = WEATHER_DATES[WEATHER_DATES <= STALE_LAST] if stale \
                else WEATHER_DATES
            keep = rng.random(len(dates)) > 0.03  # missing days
            d = dates[keep]
            doy = d.dayofyear.to_numpy()
            base = rng.uniform(-50, 200)
            tavg = base + 120 * np.sin(2 * np.pi * (doy - 100) / 365.0) \
                + rng.normal(0, 15, len(d))
            ds = d.strftime("%Y-%m-%d")
            has_t = rng.random(len(d)) > 0.03  # PRCP-only days: NaN TAVG
            wx_frames.append(pd.DataFrame({
                "id": sid, "date": ds[has_t], "element": "TAVG",
                "value": np.round(tavg[has_t], 1)}))
            wx_frames.append(pd.DataFrame({
                "id": sid, "date": ds, "element": "PRCP",
                "value": np.round(rng.gamma(1.0, 20.0, len(d)), 1)}))
    country_rows.append(("US", "United States"))

    hdr = ["province_state", "country_region", "latitude", "longitude",
           "location_geom", *date_cols]
    for k, rows in jhu.items():
        pd.DataFrame(rows, columns=hdr).to_csv(
            f"{in_dir}/jhu_{k}.csv", index=False)
    pd.DataFrame(match_rows + [("Nowhere", "UNK", "Still Nowhere", "UNK")],
                 columns=["country_region_old", "province_state_old",
                          "country_region_new", "province_state_new"]
                 ).to_csv(f"{in_dir}/location_match.csv", index=False)

    us_rows, county_rows = [], []
    for st in us_states:
        pos = _cumulative(rng, nd, rng.uniform(5, 40))
        rec = np.floor(pos * rng.uniform(0.2, 0.5))
        dth = np.floor(pos * rng.uniform(0.01, 0.08))
        for i, d in enumerate(JHU_DATES):
            r = rec[i] if rng.random() > 0.05 else None  # nulls -> 0
            x = dth[i] if rng.random() > 0.05 else None
            us_rows.append((int(d.strftime("%Y%m%d")), st, pos[i], r, x))
        for c in range(int(rng.integers(3, 9))):
            county_rows.append((len(county_rows) + 1001, f"{st} County {c}",
                                st, int(rng.integers(10_000, 900_000))))
    pd.DataFrame(us_rows, columns=["date", "state", "positive", "recovered",
                                   "death"]).to_csv(
        f"{in_dir}/daily_covid_usstates.csv", index=False)
    pd.DataFrame(county_rows, columns=["countyFIPS", "County Name", "State",
                                       "population"]).to_csv(
        f"{in_dir}/county_pop.csv", index=False)
    pd.DataFrame(pop_rows, columns=["countries_and_territories",
                                    "pop_data_2018"]).to_csv(
        f"{in_dir}/jhu_countries.csv", index=False)
    pd.DataFrame(station_rows, columns=["id", "state"]).to_csv(
        f"{in_dir}/ghcnd_stations.csv", index=False)
    pd.DataFrame(country_rows, columns=["code", "name"]).to_csv(
        f"{in_dir}/ghcnd_countries.csv", index=False)
    wx = pd.concat(wx_frames, ignore_index=True)
    wx.to_csv(f"{in_dir}/weather.csv", index=False)
    out.weather_rows = len(wx)
    return out


# --------------------------------------------------------------------------
# Zipf text for corpus_ingest
# --------------------------------------------------------------------------

class ZipfText:
    """Whitespace-separated words drawn from a Zipf-weighted vocabulary."""

    def __init__(self, rng, vocab: int = 5000, a: float = 1.1):
        self.rng = rng
        self.words = np.array([f"w{i}" for i in range(vocab)])
        p = 1.0 / np.arange(1, vocab + 1) ** a
        self.p = p / p.sum()

    def tokens(self, n: int) -> list:
        return list(self.words[self.rng.choice(len(self.words), n, p=self.p)])

    def doc(self, lo: int = 40, hi: int = 80) -> str:
        return " ".join(self.tokens(int(self.rng.integers(lo, hi))))


# --------------------------------------------------------------------------
# corpus_ingest: a seeded corpus and delivery batches with labelled dups
# --------------------------------------------------------------------------

SOURCES = ["crawl", "books", "news", "forum", "code", "wiki", "papers", "qa"]


class CorpusGen:
    """Docs are (doc_id, text, source, score). Delivery batches carry
    fresh docs plus exact and near duplicates of docs the generator
    planned as live; ``dup_of`` labels every injected duplicate with
    its source doc so the gate's recall can be measured."""

    def __init__(self, rng):
        self.rng = rng
        self.text = ZipfText(rng)
        self.next_id = 1
        self.planned = {}  # doc_id -> text of docs planned live

    def _fresh(self, n: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        texts = [self.text.doc() for _ in range(n)]
        self.planned.update(zip(ids.tolist(), texts))
        return pd.DataFrame({
            "doc_id": ids, "text": texts,
            "source": self.rng.choice(SOURCES, n),
            "score": np.round(self.rng.random(n), 6)})

    def initial(self, n: int) -> pd.DataFrame:
        return self._fresh(n)

    def near_dup(self, text: str, edits: int = 1) -> str:
        toks = text.split(" ")
        for pos in self.rng.choice(len(toks), edits, replace=False):
            toks[pos] = f"x{int(self.rng.integers(0, 10**6))}"
        return " ".join(toks)

    def batch(self, n: int, exact: int, near: int) -> tuple:
        """(docs frame, {dup doc_id: source doc_id}). Duplicates copy
        docs planned live before this batch, never each other."""
        sources = self.rng.choice(sorted(self.planned), exact + near,
                                  replace=False)
        fresh = self._fresh(n - exact - near)
        ids = np.arange(self.next_id, self.next_id + exact + near,
                        dtype=np.int64)
        self.next_id += exact + near
        texts = [self.planned[int(s)] if i < exact
                 else self.near_dup(self.planned[int(s)])
                 for i, s in enumerate(sources)]
        dups = pd.DataFrame({
            "doc_id": ids, "text": texts,
            "source": self.rng.choice(SOURCES, len(ids)),
            "score": np.round(self.rng.random(len(ids)), 6)})
        docs = pd.concat([fresh, dups], ignore_index=True)
        docs = docs.iloc[self.rng.permutation(len(docs))].reset_index(drop=True)
        return docs, dict(zip(ids.tolist(), (int(s) for s in sources)))

    def pick_live(self, live: set, n: int) -> list:
        """``n`` ids drawn from ``live`` (the caller's model)."""
        return sorted(int(i) for i in self.rng.choice(sorted(live), n,
                                                       replace=False))

    def forget(self, ids) -> None:
        for i in ids:
            self.planned.pop(int(i), None)
