"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the ten
fixture tables (the shapes of FIXTURES.md, sized by scale factor) and
the TRV-shaped Situation/Deviation XML feed batches of ``etl_merge``.
The same seed and scale factor always give byte-identical inputs.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Fixture tables
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.1: 600k
    lineitem rows, 100k events, 5k documents, 2k embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], dtype=object)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_li) * _US_PER_DAY),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us("2024-01-01", ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)[
                rng.integers(0, 100, n_ev)
            ],
        }
    )
    # Documents: 10-100 words from a 30-word vocabulary; one in twenty
    # is a near-duplicate (an earlier document plus the token "dup").
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_fixtures(seed: int, sf: float, sf_dir: str) -> dict[str, int]:
    """Write the fixture tables as one parquet file each; return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, tbl in fixture_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# --------------------------------------------------------------------------
# etl_merge feed batches
# --------------------------------------------------------------------------


# The feed's shape is fixed here, as the reference's recorded polling
# gives it (SURVEY.md §2.9 and §6, BASELINE.md); values nothing records
# are marked so. Each poll is one day (the reference runs once a day,
# trv-etl.yml:5-6) and re-sends every incident modified in the last
# DAYS_BACK days, in pages of PAGE_SIZE, at most MAX_PAGES pages.
DAYS_BACK = 30  # days_back=30 (trv-etl.yml:47; SURVEY.md §2.9, BASELINE.md)
PAGE_SIZE = 500  # rows a page (config.py:24, endpoints.py:169; BASELINE.md)
MAX_PAGES = 20  # pages a run, so at most 10,000 rows (endpoints.py:171; BASELINE.md)
# Incidents in the window at the first poll: inside the 50-2,000 rows a
# run that the reference's guards expect (.env:3-4; BASELINE.md).
WINDOW_ROWS = 1500
# New incidents a poll: one day of the window at its average rate
# (derived; the reference records no arrival rate).
NEW_PER_POLL = WINDOW_ROWS // DAYS_BACK
# Share of re-sent incidents that carry a later ModifiedTime (not
# recorded in the reference).
UPDATE_SHARE = 0.10
# Start day of the initial window = 29 - floor(30 * u**RECENT_SKEW), so
# most incidents started recently (not recorded in the reference).
RECENT_SKEW = 3.0

_FEED_TYPES = ["Roadwork", "Accident", "Obstacle", "Ferry", "Restriction"]
_COUNTIES = [1, 3, 4, 5, 6, 7, 8, 9, 10, 12, 13, 14, 17, 18, 19, 20, 21, 22, 23, 24, 25]
_ROADS = ["E4", "E6", "E18", "E20", "40", "76", "1"]
_FEED_T0 = datetime(2024, 1, 1)


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


class FeedGenerator:
    """Seeded sequence of daily feed polls. ``batch(b)`` must be called
    for b = 0, 1, 2, ... in order. Batch 0 is the initial load: the
    WINDOW_ROWS incidents of the fixture's 30 days. Poll b >= 1 runs on
    day 29 + b: it re-sends every incident modified in the last
    DAYS_BACK days (UPDATE_SHARE of them with a new version modified
    that day) and NEW_PER_POLL incidents that started that day.
    ``expected()`` is the latest-wins state over every batch generated
    so far: {incident_id: (modified, message)}."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.incidents: list[dict] = []  # creation order
        self.n_batches = 0
        self.input_rows = 0

    def _at(self, day: int) -> datetime:
        return _FEED_T0 + timedelta(days=day, minutes=int(self.rng.integers(0, 1440)))

    def _new_incident(self, day: int) -> dict:
        r = self.rng
        start = self._at(day)
        # Ongoing or upcoming relative to the injected now (2024-01-16):
        # never expired, so normalize drops nothing.
        end = None if r.random() < 0.3 else max(start, datetime(2024, 1, 16)) + timedelta(
            days=int(r.integers(1, 20))
        )
        iid = len(self.incidents)
        point = r.random() < 0.85
        inc = {
            "id": f"BD{iid:07d}",
            "sid": f"SIT{iid:07d}",
            "type": _FEED_TYPES[int(r.integers(0, len(_FEED_TYPES)))],
            "road": _ROADS[int(r.integers(0, len(_ROADS)))],
            "county": _COUNTIES[int(r.integers(0, len(_COUNTIES)))],
            "start": _iso(start),
            "end": _iso(end) if end else None,
            "wgs84": (
                f"POINT ({11 + r.random() * 12:.5f} {55.5 + r.random() * 13:.5f})"
                if point
                else None
            ),
            "version": 0,
            "modified_day": day,
            "modified": _iso(start),
        }
        self.incidents.append(inc)
        return inc

    @staticmethod
    def _message(inc: dict) -> str:
        return f"{inc['type']} on {inc['road']} ({inc['id']}) rev {inc['version']}"

    def batch(self, b: int) -> list[dict]:
        if b != self.n_batches:
            raise ValueError(f"batches must be generated in order: got {b}, want {self.n_batches}")
        if b == 0:
            days = [29 - int(DAYS_BACK * self.rng.random() ** RECENT_SKEW) for _ in range(WINDOW_ROWS)]
            rows = [self._new_incident(d) for d in sorted(days)]
        else:
            today = 29 + b
            rows = [i for i in self.incidents if i["modified_day"] > today - DAYS_BACK]
            for inc in rows:
                if self.rng.random() < UPDATE_SHARE:
                    inc["version"] += 1
                    inc["modified_day"] = today
                    inc["modified"] = _iso(self._at(today))
            rows += [self._new_incident(today) for _ in range(NEW_PER_POLL)]
            # pages follow the reference's ModifiedTime cursor; past the
            # page cap only rows unchanged since an earlier poll are left out
            rows = sorted(rows, key=lambda i: (i["modified"], i["id"]))[-PAGE_SIZE * MAX_PAGES :]
        self.n_batches += 1
        self.input_rows += len(rows)
        return [dict(r, message=self._message(r)) for r in rows]

    def write_batch(self, b: int, feed_dir: str) -> None:
        """Write batch ``b`` as XML pages under ``feed_dir``."""
        rows = self.batch(b)
        os.makedirs(feed_dir, exist_ok=True)
        for p in range(0, len(rows), PAGE_SIZE):
            with open(os.path.join(feed_dir, f"page_{p // PAGE_SIZE:05d}.xml"), "w", encoding="utf-8") as f:
                f.write(_page_xml(rows[p : p + PAGE_SIZE]))

    def expected(self) -> dict[str, tuple[str, str]]:
        return {
            i["id"]: (i["modified"].replace("T", " ").rstrip("Z"), self._message(i))
            for i in self.incidents
        }


def _page_xml(rows: list[dict]) -> str:
    parts = ["<RESPONSE><RESULT>"]
    for r in rows:
        geom = f"<Geometry><WGS84>{r['wgs84']}</WGS84></Geometry>" if r["wgs84"] else ""
        end = f"<EndTime>{r['end']}</EndTime>" if r["end"] else ""
        parts.append(
            f"<Situation><Id>{r['sid']}</Id><ModifiedTime>{r['modified']}</ModifiedTime>"
            f"<PublicationTime>{r['modified']}</PublicationTime>"
            f"<Deviation><Id>{r['id']}</Id><Message>{escape(r['message'])}</Message>"
            f"<MessageType>{r['type']}</MessageType>"
            f"<LocationDescriptor>{escape(r['road'])} at {r['id']}</LocationDescriptor>"
            f"<RoadNumber>{r['road']}</RoadNumber><CountyNo>{r['county']}</CountyNo>"
            f"<StartTime>{r['start']}</StartTime>{end}{geom}</Deviation></Situation>"
        )
    parts.append("</RESULT></RESPONSE>")
    return "".join(parts)
