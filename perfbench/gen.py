"""Deterministic input generator for the benchmark workloads.

Everything here is a function of the seed: the same seed writes the same
files, byte for byte. The engine only ever sees the files written here.

Two input families:

* ``ticks``: trading days of a tick feed (symbol, trade_ts, price, volume),
  as one CSV per day for ``pipeline_daily`` and as a few parquet files per
  day for ``stream_daily``. Defects are injected on purpose and tallied:
  null symbols, exact duplicate rows and junk characters inside symbols.
* ``tables``: the star schema plus events, documents and embeddings that
  the registry queries of ``analytics_mix`` read, at a small scale factor.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Injected defect rates, as a share of the clean rows of a day.
NULL_RATE = 0.005
DUP_RATE = 0.01
JUNK_RATE = 0.002
JUNK_CHARS = ["§", "é", "​", "ÿ"]
SECTORS = ["ENERGY", "FINANCE", "HEALTH", "INDUSTRY", "MATERIALS", "RETAIL",
           "TECH", "UTILITIES"]
FIRST_DAY = np.datetime64("2024-01-02")


def day_name(d):
    return str(FIRST_DAY + np.timedelta64(d, "D"))


def _day_ticks(rng, symbols, base, ticks, d):
    """One day of clean ticks, sorted by time, plus per-row tick index."""
    n_sym = len(symbols)
    # every symbol trades `ticks` times between 09:30 and 16:00 at distinct
    # whole seconds, so (symbol, trade_ts) is a key of the clean feed
    secs = np.sort(np.stack([rng.choice(23400, ticks, replace=False)
                             for _ in range(n_sym)]), axis=1)
    steps = rng.normal(0.0, 0.002, size=(n_sym, ticks))
    price = base[:, None] * np.exp(np.cumsum(steps, axis=1) + 0.01 * d)
    vol = rng.integers(1, 1000, size=(n_sym, ticks))
    sym = np.repeat(np.array(symbols, dtype=object), ticks)
    seq = np.tile(np.arange(ticks), n_sym)
    ts = (np.datetime64(day_name(d) + "T09:30:00") +
          secs.reshape(-1).astype("timedelta64[s]"))
    order = np.argsort(ts, kind="stable")
    return {
        "symbol": sym[order],
        "trade_ts": ts[order],
        "price": np.round(price.reshape(-1), 4)[order],
        "volume": vol.reshape(-1)[order],
        "seq": seq[order],
    }


def _inject(rng, day, junk):
    """Null out, duplicate and dirty some rows; return the rows and tallies.

    A row keeps its position; a duplicate is an exact copy placed right
    after its original, so both always land in the same file and batch.
    The first tick of each symbol (seq 0) is never nulled: it carries the
    symbol's daily snapshot. Junk rows are never duplicated.
    """
    n = len(day["symbol"])
    idx = rng.permutation(n)
    eligible_null = idx[day["seq"][idx] != 0]
    n_null = int(round(n * NULL_RATE))
    n_dup = int(round(n * DUP_RATE))
    n_junk = int(round(n * JUNK_RATE)) if junk else 0
    null_rows = set(eligible_null[:n_null].tolist())
    rest = [i for i in idx.tolist() if i not in null_rows]
    junk_rows = set(rest[:n_junk])
    dup_rows = set(rest[n_junk:n_junk + n_dup])
    symbol = day["symbol"].copy()
    for i in junk_rows:
        s = symbol[i]
        p = int(rng.integers(0, len(s) + 1))
        symbol[i] = s[:p] + JUNK_CHARS[int(rng.integers(len(JUNK_CHARS)))] + s[p:]
    for i in null_rows:
        symbol[i] = None
    order = []
    for i in range(n):
        order.append(i)
        if i in dup_rows:
            order.append(i)
    order = np.array(order)
    out = {k: v[order] for k, v in day.items()}
    out["symbol"] = symbol[order]
    tally = {"rows": int(len(order)), "nulls": n_null, "dups": n_dup, "junk": n_junk}
    return out, tally


def ticks(out_dir, seed, days, symbols, ticks_per_day, files_per_day, fmt):
    """Write `days` trading days of ticks; return the injected tallies."""
    rng = np.random.default_rng(seed)
    syms = ["S%05d" % i for i in range(symbols)]
    sectors = [SECTORS[i % len(SECTORS)] for i in range(symbols)]
    base = rng.uniform(10.0, 500.0, size=symbols)
    tallies = []
    for d in range(days):
        day, tally = _inject(rng, _day_ticks(rng, syms, base, ticks_per_day, d),
                             junk=(fmt == "csv"))
        tally["day"] = day_name(d)
        tallies.append(tally)
        ddir = os.path.join(out_dir, day_name(d))
        os.makedirs(ddir, exist_ok=True)
        if fmt == "csv":
            with open(os.path.join(ddir, "ticks.csv"), "w", encoding="utf-8") as f:
                f.write("symbol,trade_ts,price,volume\n")
                for s, t, p, v in zip(day["symbol"], day["trade_ts"],
                                      day["price"], day["volume"]):
                    ts = str(t).replace("T", " ")
                    f.write(f"{'' if s is None else s},{ts},{p:.4f},{v}\n")
        else:
            sector_of = dict(zip(syms, sectors))
            table = pa.table({
                "symbol": pa.array(day["symbol"].tolist(), pa.string()),
                "sector": pa.array([None if s is None else sector_of[s]
                                    for s in day["symbol"]], pa.string()),
                "trade_ts": pa.array(day["trade_ts"].astype("datetime64[us]"),
                                     pa.timestamp("us", tz="UTC")),
                "price": pa.array([f"{p:.4f}" for p in day["price"]]).cast(
                    pa.decimal128(12, 4)),
                "volume": pa.array(day["volume"], pa.int64()),
                "seq": pa.array(day["seq"], pa.int32()),
            })
            # contiguous time slices, so each file is one later micro-batch
            bounds = np.linspace(0, table.num_rows, files_per_day + 1).astype(int)
            # never split an original from its duplicate
            for k in range(1, files_per_day):
                while (0 < bounds[k] < table.num_rows and
                       day["trade_ts"][bounds[k]] == day["trade_ts"][bounds[k] - 1]
                       and day["symbol"][bounds[k]] == day["symbol"][bounds[k] - 1]):
                    bounds[k] += 1
            for k in range(files_per_day):
                pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                               os.path.join(ddir, "part-%02d.parquet" % k))
    return tallies


# ----------------------------------------------------------------- tables

WORDS = ("a the key agg row scan slow fast table value part hash batch window "
         "spark order data column join small line customer query merge big "
         "stream filter sort vector").split()
ADJ = "old red large new hot blue small cold green tiny".split()
NOUN = "bolt ring anvil plate widget gear rod gizmo".split()


def tables(out_dir, seed, sf):
    """Write the ten fixture tables at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_users, n_events = int(15000 * sf), int(1000000 * sf)
    n_docs, n_vecs = 500, 500
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    sdate = day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") +
                       ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    # one document in ten is a near-copy of an earlier one (a few words
    # replaced), so the dedup and similarity queries have pairs to find
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
        "source": ["src%d" % s for s in rng.integers(0, 18, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.1, size=(10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.07, size=(n_vecs, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
