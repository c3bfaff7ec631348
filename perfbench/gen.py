"""Seeded input generator for the benchmark.

Every input the engine sees is a file written here from ``--seed``; the
same seed always gives the same bytes.  The engine never receives the
seed itself.

Why each workload exists (see also README.md):

- ``market_refresh`` is the reference's own cron DAG, replayed as
  trading days on one persistent warehouse: the Technicals and funda
  CSV uploads MERGEd into ``stock_data``, composite and fundamental
  scoring MERGEd into ``stock_rankings``, the sector (20 rows) and
  industry (119 rows) jobs, one availableNow news batch, then screener
  reads through ``serving.api``.  The data is tiny, so plan
  construction, the MERGE write path and streaming start-up own the time.  It
  is the only write-heavy workload.
- ``registry_sweep`` runs all 50 registry queries over seeded
  TPC-H-shaped tables, ``gen_scale`` events and a ``gen_scale`` corpus,
  then one ``run_corpus_prep``: every read and corpus plan, with its
  scans, windows, joins, DISK_ONLY pins, checkpoints and shard writes.
  At the sizes used, driver-side planning, codegen and eager substrates
  own most of a cold sweep's time.  It MERGEs nothing, so a gain in
  ``operators.merge`` must show no change here (and a gain in
  ``operators.pins`` none on ``market_refresh``).

Corpus and events tables come from ``tools/gen_scale.py``'s own
``gen_documents`` / ``gen_embeddings`` / ``gen_events`` (imported, not
run as a CLI, because the CLI has no seed flag).  The TPC-H-shaped
tables mirror the column types and value ranges of the engine's
reference test tables: uniform independent columns, 2-dp money.
"""

from __future__ import annotations

import csv
import datetime as dt
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# market days
# ---------------------------------------------------------------------------

N_SYMBOLS = 1384            # rows per daily upload (reference CSV size)
N_SECTORS = 20
N_INDUSTRIES = 119
FUNDA_COLUMNS = 74          # the funda export carries unmapped columns too
CHURN = 0.015               # share of symbols delisted / listed per day
DRIFT = 0.02                # day-over-day multiplicative drift (sd)
NULL_RATE = 0.05
NEWS_PER_DAY = 160
NEWS_REPEAT = 0.2           # share of a batch that re-posts an earlier URL
NEWS_TEASER = 0.08          # share of a batch that is a premium teaser
TEASER_TEXT = "Sign in to read exclusive story"
NEWS_BASE = "https://in.tradingview.com"
DAY0 = dt.datetime(2026, 1, 5, 9, 15)
RATINGS = ["Strong Buy", "Buy", "Neutral", "Sell", "Strong Sell", ""]


def _schemas():
    from tradingview_data_pipeline_spark import schemas
    return schemas


class MarketGen:
    """Day-by-day market inputs: the symbol universe churns by about
    ``CHURN`` a day and every numeric field drifts from yesterday."""

    def __init__(self, seed: int):
        sch = _schemas()
        self.tech_headers = [h for h in sch.TECHNICAL_HEADER_MAP
                             if not h.endswith(".1")]
        funda = list(sch.FUNDAMENTAL_HEADER_MAP)
        self.funda_headers = funda + [
            f"Unmapped metric {i}" for i in range(FUNDA_COLUMNS - len(funda))]
        self.col = {**{h: sch.TECHNICAL_HEADER_MAP[h] for h in self.tech_headers},
                    **sch.FUNDAMENTAL_HEADER_MAP}
        self.string_cols = sch._STRING_COLS
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        self.symbols: list[str] = []
        self.state: dict[str, dict[str, float]] = {}
        self.static: dict[str, tuple[str, str, str]] = {}
        self.seen_urls: list[str] = []
        self.n_urls = 0
        for _ in range(N_SYMBOLS):
            self._list_symbol()
        self.seg_state = {
            "sector": self.rng.uniform(-20, 40, size=(N_SECTORS, 11)),
            "industry": self.rng.uniform(-20, 40, size=(N_INDUSTRIES, 11)),
        }
        self.seg_cap = {
            "sector": self.rng.uniform(0.5, 60, N_SECTORS),
            "industry": self.rng.uniform(0.05, 10, N_INDUSTRIES),
        }

    def _list_symbol(self) -> None:
        sym = f"SYM{self.next_id:05d}"
        self.next_id += 1
        i = int(self.rng.integers(0, N_INDUSTRIES))
        self.static[sym] = (f"Company {sym[3:]}", f"Sector {i % N_SECTORS}",
                            f"Industry {i}")
        self.state[sym] = {
            "__cap": float(10 ** self.rng.uniform(8, 13.3)),
        }
        self.symbols.append(sym)

    def _advance(self, day: int) -> None:
        if day == 0:
            return
        n_out = int(self.rng.binomial(N_SYMBOLS, CHURN))
        out = set(self.rng.choice(len(self.symbols), size=n_out, replace=False))
        self.symbols = [s for k, s in enumerate(self.symbols) if k not in out]
        while len(self.symbols) < N_SYMBOLS:
            self._list_symbol()
        for st in self.state.values():
            st["__cap"] *= float(np.exp(self.rng.normal(0, DRIFT)))

    def _value(self, sym: str, c: str) -> str:
        st = self.state[sym]
        if c == "symbol":
            return sym
        desc, sector, industry = self.static[sym]
        if c == "description":
            return desc
        if c == "sector":
            return sector
        if c == "industry":
            return industry
        if c == "market_capitalization":
            return str(int(st["__cap"]))
        if c.endswith("_currency"):
            return "INR"
        if c == "analyst_rating":
            return RATINGS[int(self.rng.integers(0, len(RATINGS)))]
        if c in self.string_cols:
            return f"s{int(self.rng.integers(0, 7))}"
        if self.rng.random() < NULL_RATE:
            return ""
        key = "__" + c
        if key not in st:
            st[key] = float(self.rng.uniform(-100, 100))
        else:
            st[key] = st[key] * float(1 + self.rng.normal(0, DRIFT)) \
                + float(self.rng.normal(0, 0.5))
        if c == "shares_outstanding":
            return str(int(abs(st[key]) * 1e7) + 1)
        return f"{st[key]:.3f}"

    def _write_csv(self, path: str, headers: list[str]) -> int:
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(headers)
            for sym in self.symbols:
                w.writerow([self._value(sym, self.col.get(h, h))
                            for h in headers])
        return os.path.getsize(path)

    def _segment(self, key: str, out_dir: str) -> None:
        n = N_SECTORS if key == "sector" else N_INDUSTRIES
        st = self.seg_state[key]
        st += self.rng.normal(0, 1.0, size=st.shape)
        self.seg_cap[key] *= np.exp(self.rng.normal(0, DRIFT, size=n))
        name = key.capitalize()

        def pct(v):
            return ("+" if v >= 0 else "−") + f"{abs(v):.2f}%"

        with open(os.path.join(out_dir, f"{key}_overview.csv"), "w",
                  newline="") as fh:
            w = csv.writer(fh)
            w.writerow([key, "market_cap", "div_yield_indicated", "volume",
                        "industries", "stocks"])
            for i in range(n):
                w.writerow([f"{name} {i}", f"{self.seg_cap[key][i]:.2f}T INR",
                            f"{abs(st[i, 0]) / 10:.2f}%",
                            f"{int(abs(st[i, 0]) * 1e5):,}",
                            str(1 + i % 9), str(5 + (i * 7) % 80)])
        with open(os.path.join(out_dir, f"{key}_performance.csv"), "w",
                  newline="") as fh:
            w = csv.writer(fh)
            perf = _schemas().SEGMENT_PERF_COLS
            w.writerow([key, "change_pct"] + perf)
            for i in range(n):
                w.writerow([f"{name} {i}"] + [pct(v) for v in st[i, 1:]])

    def _news(self, out_dir: str, day: int) -> None:
        base = DAY0 + dt.timedelta(days=day)
        rows = {k: [] for k in ("article_title", "article_description",
                                "article_url", "username", "posted_at",
                                "is_critical")}
        for j in range(NEWS_PER_DAY):
            u = self.rng.random()
            desc = f"Market update {day}-{j}"
            if u < NEWS_TEASER:
                url = f"/news/premium-{day}-{j}"        # never repeated
                desc = f"{TEASER_TEXT} {day}-{j}"
            elif u < NEWS_TEASER + NEWS_REPEAT and self.seen_urls:
                url = self.seen_urls[int(self.rng.integers(0, len(self.seen_urls)))]
            else:
                url = f"/news/story-{self.n_urls}"
                self.n_urls += 1
                self.seen_urls.append(url)
            rows["article_title"].append(
                ("Reuters: " if j % 5 == 0 else "") + f"Story {day}-{j}")
            rows["article_description"].append(desc)
            rows["article_url"].append(url)
            rows["username"].append(["Reuters", "PTI", "ANI", "ET"][j % 4])
            rows["posted_at"].append(base + dt.timedelta(minutes=2 * j))
            rows["is_critical"].append(bool(j % 11 == 0) if j % 3 else None)
        table = pa.table({
            "article_title": pa.array(rows["article_title"], pa.string()),
            "article_description": pa.array(rows["article_description"], pa.string()),
            "article_url": pa.array(rows["article_url"], pa.string()),
            "username": pa.array(rows["username"], pa.string()),
            "posted_at": pa.array(rows["posted_at"], pa.timestamp("us")),
            "is_critical": pa.array(rows["is_critical"], pa.bool_()),
        })
        pq.write_table(table, os.path.join(out_dir, f"news_{day:04d}.parquet"))

    def write_day(self, day: int, downloads: str, news_dir: str) -> int:
        """Write day ``day``'s two CSVs, segment frames and news batch
        under ``downloads`` (one directory per day) and ``news_dir``;
        returns the day's CSV input bytes."""
        self._advance(day)
        os.makedirs(downloads, exist_ok=True)
        os.makedirs(news_dir, exist_ok=True)
        n = self._write_csv(os.path.join(downloads, f"Technicals_{day:04d}.csv"),
                            self.tech_headers)
        n += self._write_csv(os.path.join(downloads, f"funda_{day:04d}.csv"),
                             self.funda_headers)
        self._segment("sector", downloads)
        self._segment("industry", downloads)
        self._news(news_dir, day)
        return n

    def expected_news_urls(self) -> set[str]:
        """Absolute URLs the news table must hold: every distinct
        non-teaser URL published so far."""
        return {NEWS_BASE + u for u in self.seen_urls}


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANG_MIX = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _gen_scale():
    spec = importlib.util.spec_from_file_location(
        "gen_scale", os.path.join(REPO, "tools", "gen_scale.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def gen_relational(out: str, sf: float, seed: int) -> None:
    """TPC-H-shaped star schema at scale ``sf`` (sf0.1 = 600k lineitem)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})


def _profile_dir(out: str) -> str:
    """A documents table carrying only the vocabulary and language mix
    that ``gen_scale.gen_documents`` profiles."""
    prof = os.path.join(out, "_profile")
    os.makedirs(prof, exist_ok=True)
    langs = [lang for lang, n in LANG_MIX.items() for _ in range(n)]
    texts = [" ".join(VOCAB[(i + k) % len(VOCAB)] for k in range(10))
             for i in range(len(langs))]
    pq.write_table(pa.table({"text": texts, "lang": langs}),
                   os.path.join(prof, "documents.parquet"))
    return prof


def gen_registry_tables(out: str, seed: int, *, sf: float,
                        corpus_factor: float, events_factor: float,
                        ) -> tuple[int, int]:
    """Every table the query registry reads, written under ``out``;
    returns the number of documents and of distinct document texts."""
    os.makedirs(out, exist_ok=True)
    gs = _gen_scale()
    gen_relational(out, sf, seed)
    n_docs = gs.gen_documents(out, corpus_factor, _profile_dir(out), seed=seed)
    gs.gen_embeddings(out, corpus_factor, seed=seed + 1)
    gs.gen_events(out, events_factor, seed=seed + 2)
    texts = pq.read_table(os.path.join(out, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    return n_docs, len(set(texts))
