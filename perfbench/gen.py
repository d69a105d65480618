"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of the seed:

* ``write_tables`` writes the TPC-H-ish star tables and the document /
  embedding corpus the query mixes read (same schemas and value domains
  as the engine's test tables).
* ``write_statements`` writes the statement-ingest inputs: one history CSV
  and one CSV per dropped user-month, plus ``manifest.json`` declaring
  what was planted (home country per user, foreign-location rows,
  recurring vendors, malformed rows).
"""
import csv
import datetime as dt
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Alpha-2 codes the engine's ISO-3166 dimension resolves (the same set the
# TPC-H adapter maps nations to), so every well-formed location joins.
COUNTRIES = ["US", "CA", "FR", "DE", "GB", "JP", "CN", "IN", "BR", "AU",
             "MX", "ES", "IT", "NL", "SE", "NO", "DK", "FI", "PL", "ZA"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

TABLES = ["region", "nation", "customer", "orders", "lineitem",
          "documents", "embeddings"]


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def _days(rng, n, lo, hi):
    """n midnight timestamps drawn uniformly from [lo, hi] (datetime64[us])."""
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def write_tables(seed, out, customers, orders, docs, vecs):
    """Star tables + corpus, sized by row counts, into ``out/<table>.parquet``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(f"{out}/region.parquet",
           {"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet",
           {"c_custkey": np.arange(customers),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": rng.integers(0, 25, customers),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
            "c_mktsegment": segs[rng.integers(0, 5, customers)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet",
           {"o_orderkey": np.arange(orders),
            "o_custkey": rng.integers(0, customers, orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
            "o_orderdate": _days(rng, orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": prio[rng.integers(0, 5, orders)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    n = orders * 4
    _write(f"{out}/lineitem.parquet",
           {"l_orderkey": rng.integers(0, orders, n),
            "l_partkey": rng.integers(0, max(1, orders // 7), n),
            "l_suppkey": rng.integers(0, 100, n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))

    # Word-salad documents over a fixed vocabulary; one in twenty carries a
    # trailing "dup" marker, as in the engine's test corpus.
    words = np.array(WORDS)
    lens = rng.integers(10, 100, docs)
    dup = rng.random(docs) < 0.05
    text = []
    for i in range(docs):
        t = " ".join(words[rng.integers(0, len(WORDS), lens[i])])
        text.append(t + " dup" if dup[i] else t)
    _write(f"{out}/documents.parquet",
           {"doc_id": np.arange(docs),
            "text": text,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": [len(t) for t in text]},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))

    v = rng.standard_normal((vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet",
           {"vec_id": np.arange(vecs), "embedding": list(v),
            "label": rng.integers(0, 10, vecs)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


# ---------------------------------------------------------------------------
# Statement ingest
# ---------------------------------------------------------------------------

HEADER = ["UserId", "YearMonth", "transactions.id", "transactions.date",
          "transactions.vendor", "transactions.category", "transactions.amount",
          "transactions.currency", "transactions.recurring", "transactions.type",
          "transactions.location", "transactions.description"]
CATEGORIES = ["Groceries", "Dining", "Travel", "Utilities", "Entertainment",
              "Health & Wellness", "Shopping", "Transport"]
SUBSCRIPTIONS = ["StreamFlix", "Tunely", "CloudBox", "GymPass", "NewsDaily",
                 "GameHub"]
SHOPS = [f"Shop {c}" for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]
MALFORMED = [("amount", "N/A"), ("date", "2024/13/01"), ("location", "??")]


def _ym(base_year, base_month, k):
    m = base_month - 1 + k
    return base_year + m // 12, m % 12 + 1


def _month_rows(rng, user, home, subs, y, m, n, foreign, malformed, tx_seq):
    """Rows of one user-month plus its planted counts: exactly ``foreign``
    rows located outside the home country and ``malformed`` rows with one
    unparseable field, at seeded positions among the shop purchases."""
    rows, counts = [], {"rows": 0, "valid": 0, "foreign_valid": 0, "malformed": 0}
    ym = f"{y}{m:02d}"
    picks = rng.permutation(np.arange(len(subs), n))
    foreign_at = set(picks[:foreign].tolist())
    bad_at = set(picks[foreign:foreign + malformed].tolist())
    for j in range(n):
        recurring = j < len(subs)
        vendor = subs[j] if recurring else SHOPS[rng.integers(0, len(SHOPS))]
        amount = f"{(9.99 + 5 * j) if recurring else rng.uniform(2, 400):.2f}"
        date = f"{y}-{m:02d}-{int(rng.integers(1, 29)):02d}"
        country = home
        if j in foreign_at:
            others = [c for c in COUNTRIES if c != home]
            country = others[rng.integers(0, len(others))]
        loc = f"{country}-R{int(rng.integers(1, 9))}"
        if j in bad_at:
            field, value = MALFORMED[rng.integers(0, len(MALFORMED))]
            if field == "amount":
                amount = value
            elif field == "date":
                date = value
            else:
                loc = value
        tx_seq[0] += 1
        rows.append([user, ym, f"t{tx_seq[0]}", date, vendor,
                     "Subscriptions" if recurring else CATEGORIES[rng.integers(0, len(CATEGORIES))],
                     amount, "USD", "true" if recurring else "false",
                     "debit", loc, f"{vendor} purchase"])
        counts["rows"] += 1
        if j in bad_at:
            counts["malformed"] += 1
        else:
            counts["valid"] += 1
            counts["foreign_valid"] += int(j in foreign_at)
    return rows, counts


def _csv(rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def statement_inputs(seed, users, history_months, history_rows, files, file_rows,
                     foreign_per_file=1, malformed_every=5):
    """(history CSV bytes, [drop CSV bytes], manifest) — pure in its arguments.

    Every user has a home country (all history rows are located there), two
    recurring subscriptions billed every month, and random shop purchases.
    Dropped files are one user-month each, in months after the history, so
    each file adds exactly one new statement item. Each dropped file has
    ``foreign_per_file`` rows located outside the home country (5% of 20
    rows), and every ``malformed_every``-th file has one row with an
    unparseable amount, date or location (1% of rows). Exact counts keep the
    per-batch work the same across seeds; the seed picks which rows.
    """
    rng = np.random.default_rng([seed, 2])
    homes = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), users)]
    subs = [list(rng.choice(SUBSCRIPTIONS, 2, replace=False)) for _ in range(users)]
    seq = [0]
    hist = []
    for u in range(users):
        for k in range(history_months):
            y, m = _ym(2023, 1, k)
            rows, _ = _month_rows(rng, str(u), homes[u], subs[u], y, m,
                                  history_rows, 0, 0, seq)
            hist.extend(rows)
    order = rng.permutation(users)
    drops, per_file = [], []
    for i in range(files):
        u = int(order[i % users])
        y, m = _ym(2023, 1, history_months + i // users)
        rows, counts = _month_rows(rng, str(u), homes[u], subs[u], y, m, file_rows,
                                   foreign_per_file, int(i % malformed_every == 0), seq)
        drops.append(_csv(rows))
        per_file.append(dict(counts, user=str(u), yearMonth=f"{y}{m:02d}"))
    totals = {k: sum(f[k] for f in per_file)
              for k in ("rows", "valid", "foreign_valid", "malformed")}
    manifest = {
        "seed": seed, "users": users, "history_rows": len(hist),
        "home_country": {str(u): homes[u] for u in range(users)},
        "recurring_vendors": {str(u): sorted(subs[u]) for u in range(users)},
        "files": per_file, "totals": totals,
        "user_months": len({(f["user"], f["yearMonth"]) for f in per_file}),
    }
    return _csv(hist), drops, manifest


def write_statements(seed, out, **sizes):
    """Writes history.csv, drops/NNNNN.csv and manifest.json under ``out``."""
    hist, drops, manifest = statement_inputs(seed, **sizes)
    os.makedirs(f"{out}/drops", exist_ok=True)
    with open(f"{out}/history.csv", "wb") as f:
        f.write(hist)
    for i, b in enumerate(drops):
        with open(f"{out}/drops/{i:05d}.csv", "wb") as f:
            f.write(b)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest
