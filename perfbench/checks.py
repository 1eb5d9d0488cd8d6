"""Output checks, run after the timed region.

jobs_stream: an independent recomputation of every job call from the
generated feeds (`JobSim`), compared with each completion the program
emitted and with the final in-memory stores and JDBC tables it left behind.

curation: each query's rows against its DuckDB oracle (SparkEntry.oracleSql)
over the same generated tables.
"""
import datetime
import glob
import json
import math
import os

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen


def java_hash(s):
    """java.lang.String.hashCode."""
    h = 0
    for ch in s.encode("utf-16-be").hex(" ", 2).split():
        h = (31 * h + int(ch, 16)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= 1 << 31 else h


def quote(symbol, asset_type):
    """QuoteSource's synthesized quote: (price, percent_change, change, high, low)."""
    h = java_hash(f"{symbol}:{asset_type}") & 0x7FFFFFFF
    price = 10.0 + (h % 100000) / 100.0
    change = ((h >> 8) % 2000 - 1000) / 100.0
    pct = change / (price - change) * 100.0 if price - change != 0.0 else 0.0
    return price, pct, change, price + abs(change), price - abs(change)


def months(start, end):
    """First-of-month dates from start's month through end's month."""
    y, m = int(start[:4]), int(start[5:7])
    ey, em = int(end[:4]), int(end[5:7])
    out = []
    while (y, m) <= (ey, em):
        out.append(f"{y:04d}-{m:02d}-01")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


class JobSim:
    """The three jobs' contracts restated over plain dicts: which keys a
    request fetches, what the completion counts, and what the store holds
    after it."""

    def __init__(self, data):
        o = pq.read_table(f"{data}/orders.parquet",
                          columns=["o_custkey", "o_orderdate", "o_totalprice"])
        stamp = o["o_orderdate"].to_numpy().astype("datetime64[us]")
        month_names = {}
        self.series = {}  # (symbol, asset_type) -> {month: [(datetime, close)]}
        for k, d, m, p in zip(o["o_custkey"].to_numpy().tolist(), stamp.astype(np.int64).tolist(),
                              stamp.astype("datetime64[M]").astype(np.int64).tolist(),
                              o["o_totalprice"].to_numpy().tolist()):
            if m not in month_names:
                month_names[m] = f"{1970 + m // 12:04d}-{m % 12 + 1:02d}-01"
            key = (gen.market_symbol(k), gen.asset_type(k))
            self.series.setdefault(key, {}).setdefault(month_names[m], []).append((d, p))
        e = pq.read_table(f"{data}/events.parquet", columns=["event_id", "ts", "user_id", "value"])
        ids, users = e["event_id"].to_numpy(), e["user_id"].to_numpy()
        ts = e["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        values = e["value"].to_numpy()
        order = np.lexsort((ids, ts, users))  # by user, then (ts, event_id)
        users, values = users[order], values[order]
        starts = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
        ends = np.r_[starts[1:], len(users)]
        self.index_feed = {}
        for a, b in zip(starts.tolist(), ends.tolist()):
            first, last = float(values[a]), float(values[b - 1])
            self.index_feed[gen.index_symbol(int(users[a]))] = (
                last, last - first, (last - first) / first * 100.0,
                float(values[a:b].max()), float(values[a:b].min()))
        self.market, self.monthly, self.index = {}, {}, {}

    def call(self, kind, keys, window=None):
        """Apply one job call; returns (completion fields, per-batch payloads)."""
        keys = list(dict.fromkeys(tuple(k) if isinstance(k, list) else k for k in keys))
        if kind == "market":
            needed = [k for k in keys if k not in self.market]
            for k in needed:
                self.market[k] = quote(*k)
            return {"record_count": len(needed), "total_batches": math.ceil(len(needed) / 100),
                    "total_assets": len(needed), "status": "complete"}, None
        if kind == "index":
            if all(s in self.index for s in keys):
                return {"record_count": len(keys), "total_symbols": len(keys),
                        "total_batches": 0, "status": "complete_cached"}, None
            fetched = [s for s in keys if s in self.index_feed]
            for s in fetched:
                self.index[s] = self.index_feed[s]
            return {"record_count": len(fetched), "total_batches": math.ceil(len(fetched) / 100),
                    "total_symbols": len(fetched), "status": "complete"}, None
        fetched, symbols = 0, set()
        spine = months(*window)
        for k in keys:
            missing = [m for m in spine if (k, m) not in self.monthly]
            if not missing:
                continue
            lo, hi = min(missing), max(missing)
            for m, rows in self.series.get(k, {}).items():
                if lo <= m <= hi:
                    fetched += len(rows)
                    symbols.add(k[0])
                    self.monthly[(k, m)] = max(rows)[1]
        per_type = {}
        for k in keys:
            per_type[k[1]] = per_type.get(k[1], 0) + 1
        batches = sum(math.ceil(n / 50) for n in per_type.values())
        return {"record_count": fetched, "total_batches": batches,
                "total_symbols": len(symbols), "status": "complete"}, batches

    def stores(self):
        """Final stores keyed as the program's: value tuples in column order."""
        return {
            "market_store": dict(self.market),
            "monthly_store": {(k[0], k[1], m): p for (k, m), p in self.monthly.items()},
            "index_store": {(s,): v for s, v in self.index.items()},
        }


STORE_LAYOUT = {  # parquet output -> (key columns, value columns)
    "market_store": (("symbol", "asset_type"), ("price", "percent_change", "change", "high", "low")),
    "monthly_store": (("symbol", "asset_type", "date"), ("price",)),
    "index_store": (("symbol",), ("price", "price_change", "percent_change", "price_high",
                                  "price_low")),
}
DERBY = {"market_store": "derby_market_data", "monthly_store": "derby_market_data_monthly",
         "index_store": "derby_market_index_data"}


def read_store(path, keys, values):
    t = pads.dataset(path).to_table().to_pydict()
    n = len(t[keys[0]]) if t else 0

    def cell(x):
        return x.isoformat() if isinstance(x, datetime.date) else x
    rows = {tuple(cell(t[c][i]) for c in keys): tuple(t[c][i] for c in values) for i in range(n)}
    return rows, n


def compare_store(name, got, n_rows, want):
    problems = []
    if n_rows != len(got):
        problems.append(f"{name}: {n_rows} rows but {len(got)} distinct keys")
    want = {k: (v if isinstance(v, tuple) else (v,)) for k, v in want.items()}
    if got != want:
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        wrong = sum(1 for k in set(got) & set(want) if got[k] != want[k])
        problems.append(f"{name}: {missing} keys missing, {extra} extra, {wrong} values differ")
    return problems


def check_jobs(res, spec):
    """Replay every warm-up and timed call in the order the program ran them.
    Returns (number of calls checked, list of problems)."""
    sim = JobSim(spec["data"])
    reqs = {r["req"]: r for r in spec["requests"]}
    problems, calls = [], 0

    def keys_of(r):
        return r["symbols"] if r["type"] == "index" else [tuple(a) for a in r["assets"]]

    def window_of(r):
        return (r["start_date"], r["end_date"]) if r["type"] == "historical" else None

    # the warm-up batches are not recorded: replay each the way the harness
    # coalesces a batch (one call per job type and window), then every
    # recorded batch call in order
    for due in sorted({m["due_ms"] for m in spec["warm_messages"]}):
        warm = [reqs[m["req"]] for m in spec["warm_messages"] if m["due_ms"] == due]
        for kind in ("market", "historical", "index"):
            groups = {}
            for r in warm:
                if r["type"] == kind:
                    groups.setdefault(window_of(r), []).extend(keys_of(r))
            for window in sorted(groups, key=str):
                sim.call(kind, groups[window], window)
    for b in res["batches"]:
        for g in b["groups"][1:]:
            window = tuple(g["range"]) if g["range"] else None
            ks = [k for q in g["reqs"] for k in keys_of(reqs[q])]
            want, batches = sim.call(g["type"], ks, window)
            got = [json.loads(p) for p in g["payload"]]
            calls += 1
            if got != [want] or g.get("per_batch") != batches:
                problems.append(f"batch {b['id']} {g['type']}: completion {got}, expected {want}")
    want_stores = sim.stores()
    for name, (keys, values) in STORE_LAYOUT.items():
        for table in (name, DERBY[name]):
            got, n = read_store(f"{res['outputs']}/{table}", keys, values)
            problems += compare_store(table, got, n, want_stores[name])
    return calls, problems


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted((tuple(_norm(c[i]) for c in data) for i in range(table.num_rows)), key=repr)


def check_curation(res, spec):
    """Returns (mismatching query names, unchecked query names with reason)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(f"{spec['data']}/*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    wrong, unchecked = [], []
    for name, sql in sorted(res["oracles"].items()):
        if not sql:
            unchecked.append((name, "no oracle registered"))
            continue
        try:
            want = _rows(con.sql(sql).arrow())
        except Exception as e:  # an oracle that cannot run here is named, not skipped
            unchecked.append((name, f"oracle failed: {str(e).splitlines()[0][:160]}"))
            continue
        got = _rows(pads.dataset(f"{res['outputs']}/{name}").to_table())
        if got != want:
            wrong.append(f"{name}: {len(got[1])} rows {got[0]} vs oracle {len(want[1])} rows {want[0]}")
    return wrong, unchecked
