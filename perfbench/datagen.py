"""Deterministic inputs for the benchmark.

Two generators:

* ``write_tables(dir, sf)``: the engine's ten input tables (a TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``) as one
  parquet file each, with the schemas and value domains the declared
  queries expect. The tables are a pure function of the scale factor: the
  query workloads take their seed as the order of the queries, so their
  expected fingerprints stay fixed.
* ``write_bpi(dir, seed, ...)``: the BPI landing workload's payload files,
  landing schedule, FX-rates table and the rows the warehouse must end up
  holding, all a pure function of the seed.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _document(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def write_tables(out_dir: str, sf: float) -> None:
    """All ten tables at scale factor ``sf`` (sf 1 ~ 6M lineitem rows)."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array([segments[i] for i in rng.integers(0, 5, n_cust)], s)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [types[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)], f64)})
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    order_dates = _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": [priorities[i] for i in rng.integers(0, 5, n_ord)]})
    li_order = rng.integers(0, n_ord, n_li)
    ship = order_dates[li_order] + rng.integers(1, 95, n_li).astype("timedelta64[D]").astype("timedelta64[us]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype("int64")
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    ev_types = ["click", "error", "purchase", "signup", "view"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [ev_types[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(20.0, n_ev) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_document(rng, int(rng.integers(10, 100))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 1, (10, 64))
    vecs = 0.15 * centres[labels] + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- BPI ----

CURRENCIES = {
    "USD": ("&#36;", "United States Dollar", 16_000.0, 70_000.0),
    "GBP": ("&pound;", "British Pound Sterling", 13_000.0, 55_000.0),
    "EUR": ("&euro;", "Euro", 15_000.0, 65_000.0),
}
DISCLAIMER = ("This data was produced from the CoinDesk Bitcoin Price Index (USD). "
              "Non-USD currency data converted using hourly conversion rate from openexchangerates.org")
OFFSETS = [0, 0, 7 * 60, -5 * 60, 5 * 60 + 30, 9 * 60, -8 * 60, 1 * 60]
CORRUPT_FRACTION = 0.02


def _rate_text(v: float) -> str:
    return f"{v:,.4f}"


def _updated(t: dt.datetime) -> str:
    return t.strftime("%b ") + str(t.day) + t.strftime(", %Y %H:%M:%S UTC")


def _payload(rng: random.Random, t: dt.datetime):
    """One reference-shaped payload at UTC instant ``t``, and the rates it
    carries (as the warehouse must store them)."""
    offset = dt.timedelta(minutes=rng.choice(OFFSETS))
    local = t.astimezone(dt.timezone(offset))
    bpi, rates = {}, {}
    for code, (symbol, desc, lo, hi) in CURRENCIES.items():
        text = _rate_text(rng.uniform(lo, hi))
        rates[code] = float(text.replace(",", ""))
        bpi[code] = {"code": code, "symbol": symbol, "rate": text,
                     "description": desc, "rate_float": rates[code]}
    body = {
        "time": {"updated": _updated(t), "updatedISO": local.isoformat(),
                 "updateduk": local.strftime("%b %d, %Y at %H:%M GMT")},
        "disclaimer": DISCLAIMER, "chartName": "Bitcoin", "bpi": bpi}
    return json.dumps(body, separators=(",", ":")), rates


def bpi_plan(seed: int, phases, rate_per_s: float):
    """The payload sequence for one run: ``[(phase, name, offset_ms, text,
    expected_row_or_None)]`` plus the FX table ``{date: rate}``.
    ``phases`` is ``[(phase name, payload count)]`` in landing order; the
    ``live`` phase is landed at ``rate_per_s``, the others all at once.

    Instants advance by a seeded 20-90 s per payload from a seeded start,
    so every payload has a distinct ``time_updated_iso`` (the checker's
    key). About 2% of payloads are truncated JSON and must never load."""
    rng = random.Random(seed)
    start = dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        seconds=rng.randrange(0, 2 * 365 * 86400))
    t, plan, fx = start, [], {}
    for phase, n in phases:
        for i in range(n):
            t = t + dt.timedelta(seconds=rng.randint(20, 90))
            name = f"bpi-{len(plan):06d}.json"
            text, rates = _payload(rng, t)
            offset_ms = 1000.0 * i / rate_per_s if phase == "live" else 0.0
            day = t.date()
            if day not in fx:
                fx[day] = round(rng.uniform(14_000.0, 16_500.0), 2)
            expected = None
            if rng.random() < CORRUPT_FRACTION:
                text = text[: rng.randrange(10, len(text) - 10)]
            else:
                stamp = t.strftime("%Y-%m-%d %H:%M:%S")
                expected = {
                    "disclaimer": DISCLAIMER, "chart_name": "Bitcoin",
                    "bpi_usd_code": "USD", "bpi_usd_rate_float": rates["USD"],
                    "bpi_usd_description": CURRENCIES["USD"][1],
                    "bpi_gdp_code": "GBP", "bpi_gdp_rate_float": rates["GBP"],
                    "bpi_gdp_description": CURRENCIES["GBP"][1],
                    "bpi_eur_code": "EUR", "bpi_eur_rate_float": rates["EUR"],
                    "bpi_eur_description": CURRENCIES["EUR"][1],
                    "bpi_idr_rate_float": rates["USD"] * fx[day],
                    "time_updated": stamp, "time_updated_iso": stamp}
            plan.append((phase, name, offset_ms, text, expected))
    return plan, fx


def write_bpi(out_dir: str, seed: int, phases, rate_per_s: float):
    """Stage one run's payloads under ``out_dir``: ``stage/<name>`` files,
    ``schedule.tsv`` (phase, name, offset ms), ``rates.parquet`` and
    ``expected.jsonl`` (name, expected row or null). Returns the plan."""
    plan, fx = bpi_plan(seed, phases, rate_per_s)
    stage = os.path.join(out_dir, "stage")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(out_dir, "schedule.tsv"), "w") as sched, \
            open(os.path.join(out_dir, "expected.jsonl"), "w") as exp:
        for phase, name, offset_ms, text, expected in plan:
            with open(os.path.join(stage, name), "w") as f:
                f.write(text + "\n")
            sched.write(f"{phase}\t{name}\t{offset_ms:.3f}\n")
            exp.write(json.dumps({"name": name, "phase": phase, "row": expected}) + "\n")
    days = sorted(fx)
    _write(pa.table({
        "from_ccy": ["USD"] * len(days), "to_ccy": ["IDR"] * len(days),
        "rate_date": pa.array(days, pa.date32()),
        "fx_rate": pa.array([fx[d] for d in days], pa.float64())}),
        os.path.join(out_dir, "rates.parquet"))
    return plan
