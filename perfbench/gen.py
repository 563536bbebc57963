"""Seeded input generators for the benchmark.

Two families, both pure functions of their seed:

* `write_tables` writes the ten query tables (the TPC-H-ish star plus
  `events`, `documents` and `embeddings`) as one parquet file each, in
  the column layout the query registry reads. Column domains follow the
  engine's test tables: uniform keys, the same enum values, date and
  price ranges, a 31-word document vocabulary with ~5% near-duplicate
  documents (another document's text plus " dup"), and 64-d unit
  embeddings around ten label centroids.
* `Listings` is the `daily_etl` source: raw job listings for two
  sources under the `schemas.RAW_JOBS_CSV` contract. Each day mixes
  fixed shares of listings seen before and unchanged, listings changed
  in one SCD2 compare column, and new listings, and the generator keeps
  the model of the warehouse that lets the benchmark predict each day's
  `merge_metrics` and the datamart group counts.
"""

from __future__ import annotations

import collections
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

def _days(start: str, n: np.ndarray) -> pa.Array:
    """Day offsets from `start` as a naive microsecond timestamp array."""
    d = (np.datetime64(start, "D") + n.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(d, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table_columns(rng, name: str, sf: float) -> dict:
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
    }.get(name, 0)
    i64 = np.arange(n, dtype=np.int64)
    if name == "region":
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    if name == "nation":
        return {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
        }
    if name == "customer":
        return {
            "c_custkey": i64,
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    if name == "supplier":
        return {
            "s_suppkey": i64,
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    if name == "part":
        return {
            "p_partkey": i64,
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n) / 10.0,
        }
    if name == "orders":
        return {
            "o_orderkey": i64,
            "o_custkey": rng.integers(0, int(150_000 * sf), n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    if name == "lineitem":
        return {
            "l_orderkey": rng.integers(0, int(1_500_000 * sf), n),
            "l_partkey": rng.integers(0, int(200_000 * sf), n),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n)),
        }
    if name == "events":
        us = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
        ts = np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")
        return {
            "event_id": i64,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    if name == "documents":
        texts: list[str] = []
        for i in range(n):
            if i > 10 and rng.random() < 0.05:
                base = texts[int(rng.integers(0, i))].removesuffix(" dup")
                texts.append(base + " dup")
            else:
                words = rng.integers(0, len(VOCAB) - 1, int(rng.integers(10, 101)))
                texts.append(" ".join(VOCAB[w] for w in words))
        return {
            "doc_id": i64,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{s}" for s in i64 % 20],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    if name == "embeddings":
        labels = rng.integers(0, 10, n)
        centers = rng.normal(0, 1, (10, 64))
        v = centers[labels] + rng.normal(0, 0.8, (n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {
            "vec_id": i64,
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    raise KeyError(name)


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every query table at scale `sf` (`sf=0.01` gives 60k
    lineitem rows) into `out_dir/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        cols = _table_columns(rng, name, sf)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- daily_etl

SOURCES = ("topcv_jobs", "jobsgo_jobs")
ROLES = [
    "Kỹ sư dữ liệu", "Lập trình viên Java", "Chuyên viên phân tích", "Data Engineer",
    "Nhân viên kinh doanh", "Kế toán tổng hợp", "Backend Developer", "Tester",
]
COMPANIES = [f"Công ty {w} {i}" for i, w in enumerate(
    ["FPT", "Viettel", "VNG", "Tiki", "MoMo", "Shopee", "VPBank", "Techcombank",
     "Sendo", "Base", "KMS", "NashTech"] * 5)]
LOCATIONS = ["Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Cần Thơ", "Hải Phòng", "Bình Dương"]
SALARIES = [
    "Thỏa thuận", "Tới 15 triệu", "Trên 20 triệu", "10 - 15 triệu", "15 - 20 Triệu",
    "1,200 - 1,800 USD", "7 - 9 triệu", "25 - 35 triệu",
]
EXPERIENCE = ["Không yêu cầu", "1 năm", "2 năm", "3 năm", "5 năm"]
COMPARE_COLS = ("salary", "location", "job_url")


class Listings:
    """Seeded raw-listing source for consecutive pipeline days.

    `day_rows(k)` returns the listings extracted on day `k` (day 0 is
    the first, table-creating day) keyed by source, and the expected
    outcome of merging them: `expired_today`, `inserted_today`,
    `live_total` and the live-row group counts per datamart column.
    Days must be requested in order; the generator advances its model
    of the live warehouse as it goes.
    """

    def __init__(self, seed: int, per_day: int, start: datetime.date):
        self.rng = np.random.default_rng([seed, 7])
        self.per_day = per_day
        self.start = start
        # (unchanged, changed) shares; the rest of each day is new jobs
        self.shares = (float(self.rng.uniform(0.45, 0.55)),
                       float(self.rng.uniform(0.15, 0.25)))
        self.jobs: list[dict] = []  # live attributes per job, by index
        self.next_day = 0

    def _new_job(self, k: int) -> dict:
        rng = self.rng
        src = SOURCES[int(rng.integers(0, 2))]
        posted = self.start + datetime.timedelta(days=k - int(rng.integers(0, 20)))
        c = int(min(rng.zipf(1.6), len(COMPANIES))) - 1
        return {
            "source_id": src,
            "job_id": f"{src[:2]}-{len(self.jobs):07d}",
            "job_title": f"{ROLES[int(rng.integers(0, len(ROLES)))]} {len(self.jobs):07d}",
            "company_name": COMPANIES[c],
            "salary": SALARIES[int(rng.integers(0, len(SALARIES)))],
            "location": LOCATIONS[int(rng.integers(0, len(LOCATIONS)))],
            "experience_required": EXPERIENCE[int(rng.integers(0, len(EXPERIENCE)))],
            "job_type": "Toàn thời gian" if src == "jobsgo_jobs" else None,
            "posted": posted,
            "tags": "python,sql,spark",
            "job_url": f"https://{src}.example/viec-lam/{len(self.jobs)}",
            "company_logo": f"https://{src}.example/logo/{c}.png",
        }

    def _change(self, job: dict) -> None:
        col = COMPARE_COLS[int(self.rng.integers(0, len(COMPARE_COLS)))]
        if col == "job_url":
            job["job_url"] = job["job_url"].split("?")[0] + f"?v={self.next_day}"
            return
        pool = SALARIES if col == "salary" else LOCATIONS
        choices = [v for v in pool if v.lower() != job[col].lower()]
        job[col] = choices[int(self.rng.integers(0, len(choices)))]

    def day_rows(self, k: int) -> tuple[dict[str, list[dict]], dict]:
        assert k == self.next_day, "days must be generated in order"
        day = self.start + datetime.timedelta(days=k)
        rng = self.rng
        if self.jobs:
            n_unch = int(self.per_day * self.shares[0])
            n_chg = int(self.per_day * self.shares[1])
            seen = rng.choice(len(self.jobs), min(len(self.jobs), n_unch + n_chg), replace=False)
            unchanged, changed = seen[:n_unch], seen[n_unch:]
        else:
            unchanged, changed = np.array([], int), np.array([], int)
        n_new = self.per_day - len(unchanged) - len(changed)
        for i in changed:
            self._change(self.jobs[i])
        first_new = len(self.jobs)
        for _ in range(n_new):
            self.jobs.append(self._new_job(k))
        todays = [*unchanged.tolist(), *changed.tolist(), *range(first_new, len(self.jobs))]
        stamp = f"{day.isoformat()} 02:00:00"
        rows: dict[str, list[dict]] = {s: [] for s in SOURCES}
        for i in todays:
            j = self.jobs[i]
            age = (day - j["posted"]).days
            posted_time = "hôm qua" if age == 1 else f"{age} ngày trước"
            row = {c: j[c] for c in (
                "source_id", "job_id", "job_title", "company_name", "salary", "location",
                "experience_required", "job_type", "tags", "job_url", "company_logo")}
            row.update(posted_time=posted_time, extracted_date=day.isoformat(),
                       extracted_timestamp=stamp)
            rows[j["source_id"]].append(row)
        self.next_day += 1
        self.last_expect = expect = {
            "expired_today": len(changed),
            "inserted_today": len(changed) + n_new,
            "live_total": len(self.jobs),
            "groups": {
                col: dict(collections.Counter(j[col] for j in self.jobs))
                for col in ("company_name", "location", "salary", "experience_required")
            },
        }
        return rows, expect
