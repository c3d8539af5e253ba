"""Seeded, reference-shaped raw feeds for the ELT benchmark workloads.

Writes the four raw inputs of ``plans.jobs.build_elt_dag`` for the 20
tickers of the reference's ``stock_list.csv`` (FIXTURES.md §2.1-2.6):

* Kaggle CSVs (``{ticker_lower}.us.txt``), header row, every weekday from
  1990-01-02 to 2017-11-10, comma-grouped quoted Volume, one unparseable
  date per file;
* API CSVs (``{TICKER}.csv``), no header, 4 metadata rows, every weekday
  from 2017-11-10 (the overlap date with Kaggle) to 2024-12-29;
* one info JSON per ticker, one of them sparse;
* one ESG JSON per ticker, one of them without ``esgScores``.

Every weekday is present, so any weekday window after 2017-11-10 lies
inside the landed history. The generator also returns what the DAG must
land, computed from the same rows: per-ticker row counts and aggregates
after the (Ticker, Date) dedup in which the API feed wins the overlap date.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

TICKERS = [
    "WMT", "AMZN", "AAPL", "UNH", "BRK-B", "CVS", "XOM", "GOOGL", "MCK", "COR",
    "COST", "JPM", "MSFT", "CAH", "CVX", "CI", "F", "BAC", "GM", "ELV",
]
KAGGLE_FIRST = date(1990, 1, 2)
OVERLAP = date(2017, 11, 10)
API_LAST = date(2024, 12, 29)
SPARSE_INFO = "F"
ESG_WITHOUT_SCORES = "COR"
SECTORS = ["Retailing", "Technology", "Health Care", "Energy", "Financials", "Motor Vehicles"]


@dataclass
class TickerAgg:
    rows: int = 0
    volume: int = 0
    low: float = float("inf")
    high: float = float("-inf")
    close: float = 0.0
    last_date: date | None = None
    last_close: float = 0.0

    def add(self, row: tuple) -> None:
        """Fold in one (date, open, high, low, close, volume) row; rows
        arrive in date order."""
        d, _, hi, lo, cl, vol = row
        self.last_date, self.last_close = d, cl
        self.rows += 1
        self.volume += vol
        self.low = min(self.low, lo)
        self.high = max(self.high, hi)
        self.close += cl


@dataclass
class Feed:
    root: str
    kaggle_glob: str
    api_glob: str
    info_glob: str
    esg_glob: str
    input_bytes: int
    per_ticker: dict[str, TickerAgg] = field(default_factory=dict)
    sectors: dict[str, str] = field(default_factory=dict)
    info_rows: int = 0
    esg_rows: int = 0
    esg_scored: int = 0

    @property
    def openclose_rows(self) -> int:
        return sum(a.rows for a in self.per_ticker.values())


def weekdays(first: date, last: date):
    d = first
    while d <= last:
        if d.weekday() < 5:
            yield d
        d += timedelta(days=1)


def _walk(rng: random.Random, days, price: float):
    """(date, open, high, low, close, volume) rows of a random walk; prices
    are rounded to cents so the CSV text round-trips exactly."""
    for d in days:
        o = round(price, 2)
        c = round(max(1.0, price * (1 + rng.gauss(0, 0.015))), 2)
        hi = round(max(o, c) * (1 + rng.random() * 0.01), 2)
        lo = round(min(o, c) * (1 - rng.random() * 0.01), 2)
        yield d, o, hi, lo, c, rng.randrange(100_000, 90_000_000)
        price = c


def _write(path: str, text: str) -> int:
    with open(path, "w") as f:
        f.write(text)
    return len(text)


def generate(root: str, seed: int) -> Feed:
    """Write the raw feeds under ``root`` and return what the DAG must land."""
    rng = random.Random(seed)
    dirs = {k: os.path.join(root, k) for k in ("kaggle", "api", "info", "esg")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    feed = Feed(
        root=root,
        kaggle_glob=os.path.join(dirs["kaggle"], "*.us.txt"),
        api_glob=os.path.join(dirs["api"], "*.csv"),
        info_glob=os.path.join(dirs["info"], "*.json"),
        esg_glob=os.path.join(dirs["esg"], "*.json"),
        input_bytes=0,
    )
    kaggle_days = list(weekdays(KAGGLE_FIRST, OVERLAP))
    api_days = list(weekdays(OVERLAP, API_LAST))
    for i, t in enumerate(TICKERS):
        agg = TickerAgg()
        kaggle = list(_walk(rng, kaggle_days, rng.uniform(5, 150)))
        api = list(_walk(rng, api_days, kaggle[-1][4]))
        for row in kaggle[:-1] + api:  # the API row wins the overlap date
            agg.add(row)
        feed.per_ticker[t] = agg

        lines = ["Date,Open,High,Low,Close,Volume,OpenInt"]
        lines += [f'{d},{o},{hi},{lo},{c},"{v:,}",0' for d, o, hi, lo, c, v in kaggle]
        lines.insert(rng.randrange(1, len(lines)), "not-a-date,1.0,1.0,1.0,1.0,\"1,000\",0")
        feed.input_bytes += _write(
            os.path.join(dirs["kaggle"], f"{t.lower()}.us.txt"), "\n".join(lines) + "\n"
        )

        lines = [
            "Price,Adj Close,Close,High,Low,Open,Volume",
            "Ticker" + f",{t}" * 6,
            "Date,,,,,,",
            "Currency" + ",USD" * 6,
        ]
        lines += [f"{d},{c},{c},{hi},{lo},{o},{v}" for d, o, hi, lo, c, v in api]
        feed.input_bytes += _write(os.path.join(dirs["api"], f"{t}.csv"), "\n".join(lines) + "\n")

        info = {
            "symbol": t,
            "shortName": f"{t} Corp",
            "industry": f"Industry {i % 7}",
            "sector": SECTORS[i % len(SECTORS)],
            "fullTimeEmployees": rng.randrange(1_000, 2_000_000),
            "totalRevenue": float(rng.randrange(10**9, 7 * 10**11)),
            "address1": f"{rng.randrange(1, 9999)} Main St",
            "city": "Springfield",
            "state": "IL",
            "zip": f"{rng.randrange(10000, 99999)}",
            "website": f"https://www.{t.lower()}.example",
            "longBusinessSummary": "ignored",
        }
        feed.sectors[t] = info["sector"]
        if t == SPARSE_INFO:
            info = {"symbol": t, "shortName": f"{t} Corp", "sector": info["sector"]}
        feed.input_bytes += _write(os.path.join(dirs["info"], f"{t}.json"), json.dumps(info))
        feed.info_rows += 1

        if t == ESG_WITHOUT_SCORES:
            esg: dict = {"maxAge": 86400}
        else:
            peer = {"min": 1.0, "avg": round(rng.uniform(2, 20), 2), "max": 30.0}
            esg = {"esgScores": {
                "totalEsg": round(rng.uniform(5, 40), 2),
                "environmentScore": round(rng.uniform(0, 15), 2),
                "socialScore": round(rng.uniform(0, 15), 2),
                "governanceScore": round(rng.uniform(0, 15), 2),
                "percentile": round(rng.uniform(0, 100), 2),
                "ratingYear": 2024, "ratingMonth": rng.randrange(1, 13),
                "maxAge": 86400, "peerCount": rng.randrange(10, 200),
                "esgPerformance": rng.choice(["LAG_PERF", "AVG_PERF", "LEAD_PERF"]),
                "peerGroup": info["sector"], "adult": False, "tobacco": False,
                "environmentPercentile": None,
                "peerEsgScorePerformance": peer,
                "peerHighestControversyPerformance": peer,
            }}
            feed.esg_scored += 1
        feed.input_bytes += _write(os.path.join(dirs["esg"], f"{t}.json"), json.dumps(esg))
        feed.esg_rows += 1
    return feed
