"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from one seed:
the parquet tables it scans, the job-request sequence, the streamed
messages and their offered schedule. The same seed gives byte-identical
inputs. The program never sees the seed itself.

Request shapes follow the reference's three Kafka payloads
(FIXTURES.md A2): market-data and historical requests carry an asset
list of {symbol, asset_type}; historical ones add start/end dates; index
requests carry a symbol list. A `req` id field rides along so that a
completion can be matched to the request it answers.
"""
import datetime
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ASSET_TYPES = ("STOCK", "CRYPTO", "FOREX")
TOPICS = {
    "market": "MARKET_DATA_UPDATE_REQUEST",
    "historical": "HISTORICAL_MARKET_DATA_REQUEST",
    "index": "MARKET_INDEX_DATA_UPDATE_REQUEST",
}
# Job-table sizes: the sf0.1 row counts of the testdata (TESTDATA.md).
CUSTOMERS = 15000
ORDERS = 150000
EVENT_USERS = 1500
EVENTS = 100000
# Curation corpus: small enough that a run holds a warm-up and several passes.
DOCUMENTS = 300
# The testdata corpus vocabulary (uniform words, 44-577 characters per doc).
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
ORDER_START = datetime.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01, like the testdata orders
EVENT_START = datetime.datetime(2024, 1, 1)
# One historical window (five of the orders' years), so that the streamed
# historical requests of a micro-batch coalesce into one backfill call and
# every batch makes at most three job calls.
HIST_WINDOW = ("1996-01-01", "2000-12-31")
# Request mix: per block of six, four market-data refreshes, one index and
# one historical request, in seeded order. The reference publishes no traffic
# figures; the mix makes the market-data refresh the common request and the
# other two occasional ones.
TYPE_BLOCK = ("market", "market", "market", "market", "index", "historical")
# Asset lists hold 1..MAX_ASSETS symbols, log-uniform (most lists are short).
# Each kind's requests take their sizes in groups of SIZE_BANDS, one from each
# quarter of that distribution, in seeded order (stratified sampling): the
# same distribution, with less of the run-to-run variance that independent
# draws would add.
MAX_ASSETS = 200
SIZE_BANDS = 4
WARMUP_TYPES = ("market", "historical", "index")  # one warm-up request of each
WARMUP_REQUESTS = len(WARMUP_TYPES)
# Streamed requests are due one every INTERVAL_S seconds, whatever happened
# to the requests before them. One request alone takes about 0.5 s
# (market-data, index) to 2.5 s (historical) to serve on 4 cores, so the
# program is busy about half the time; a request that comes due while a
# micro-batch runs waits, and shares the next batch with any others that came
# due meanwhile.
INTERVAL_S = 1.5
STREAM_WARMUP = WARMUP_REQUESTS + len(TYPE_BLOCK)
BAD_SHARE = 0.05  # chance that an empty or malformed message rides with a request


def market_symbol(key):
    return f"C{key}"


def asset_type(key):
    return ASSET_TYPES[key % 3]


def index_symbol(user):
    return f"^U{user}"


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def job_tables(rng, out):
    """customer (market-data catalog), orders (historical feed) and events
    (index feed), with the testdata schemas."""
    keys = np.arange(CUSTOMERS, dtype=np.int64)
    _write(pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], CUSTOMERS),
    }), f"{out}/customer.parquet")
    days = rng.integers(0, ORDER_DAYS, ORDERS)
    start = np.datetime64(ORDER_START, "us")
    _write(pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, ORDERS), 2),
        "o_orderdate": start + days.astype("timedelta64[D]").astype("timedelta64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], ORDERS),
    }), f"{out}/orders.parquet")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, EVENTS))
    _write(pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": np.datetime64(EVENT_START, "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, EVENTS).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], EVENTS),
        "value": np.round(rng.uniform(0.5, 500.0, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    }), f"{out}/events.parquet")


def corpus_tables(rng, out):
    """documents. Lengths are the evenly spaced 8..95 words in seeded order,
    and one document in twenty (at seeded places) is a near copy of an
    earlier one with a few words replaced, so the dedup queries find
    clusters; every seed then gives a corpus of the same size and shape."""
    lengths = rng.permutation(np.linspace(8, 95, DOCUMENTS).astype(int))
    copies = set(rng.choice(np.arange(20, DOCUMENTS), DOCUMENTS // 20, replace=False).tolist())
    texts = []
    for i in range(DOCUMENTS):
        if i in copies:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(lengths[i]))]
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")


def size(u):
    """The asset-list size at quantile u of a log-uniform 1..MAX_ASSETS."""
    return max(1, min(MAX_ASSETS, int(math.exp(u * math.log(MAX_ASSETS + 1)))))


def request_types(rng, n):
    out = list(WARMUP_TYPES)
    while len(out) < n:
        out.extend(TYPE_BLOCK[i] for i in rng.permutation(len(TYPE_BLOCK)))
    return out[:n]


def requests(rng, n):
    """The request sequence: the warm-up requests, then blocks of TYPE_BLOCK.
    Keys are drawn uniformly and without repeats within a request, so
    almost every key misses the store."""
    types = request_types(rng, n)
    bands = {t: [] for t in TOPICS}  # each kind's bands left in its group
    out = []
    for i, t in enumerate(types):
        if i < WARMUP_REQUESTS:
            u = rng.random()
        else:
            if not bands[t]:
                bands[t] = rng.permutation(SIZE_BANDS).tolist()
            u = (bands[t].pop() + rng.random()) / SIZE_BANDS
        n_keys = size(u)
        r = {"req": f"r{i}", "type": t}
        if t == "index":
            r["symbols"] = [index_symbol(k) for k in draw(rng, EVENT_USERS, n_keys)]
        else:
            r["assets"] = [[market_symbol(k), asset_type(k)] for k in draw(rng, CUSTOMERS, n_keys)]
            if t == "historical":
                r["start_date"], r["end_date"] = HIST_WINDOW
        out.append(r)
    return out


def draw(rng, catalog, n):
    return [int(k) for k in rng.choice(catalog, size=n, replace=False)]


def payload(r):
    """The reference's message JSON for one request, plus its `req` id."""
    if r["type"] == "index":
        body = {"req": r["req"], "symbols": r["symbols"]}
    else:
        body = {"req": r["req"],
                "assets": [{"symbol": s, "asset_type": a} for s, a in r["assets"]]}
        if r["type"] == "historical":
            body["start_date"], body["end_date"] = r["start_date"], r["end_date"]
    return json.dumps(body, separators=(",", ":"))


def due_times_ms(n, every_s):
    """Open-loop schedule: request i is due i * every_s seconds after the
    start, whatever happened to the requests before it."""
    return [1000.0 * every_s * i for i in range(n)]


def timed_requests(seconds):
    """How many requests come due within `seconds`: whole blocks, so that
    every run serves the kinds in the same proportion."""
    block = len(TYPE_BLOCK)
    return block * max(1, int(seconds / INTERVAL_S) // block)


def stream_messages(rng, reqs, seconds):
    """Warm-up messages (sent before timing starts: one batch of one request
    of each kind, then a block of six one request per batch, as the timed
    requests mostly come) and the timed schedule: one request every
    INTERVAL_S seconds within `seconds`, a few of them joined by an empty or
    malformed message (the reference's skip paths)."""
    warm = [{"due_ms": float(max(0, i - WARMUP_REQUESTS + 1)), "topic": TOPICS[r["type"]],
             "value": payload(r), "req": r["req"]}
            for i, r in enumerate(reqs[:STREAM_WARMUP])]
    timed_reqs = reqs[STREAM_WARMUP:STREAM_WARMUP + timed_requests(seconds)]
    timed = []
    for r, due in zip(timed_reqs, due_times_ms(len(timed_reqs), INTERVAL_S)):
        timed.append({"due_ms": due, "topic": TOPICS[r["type"]], "value": payload(r),
                      "req": r["req"]})
        if rng.random() < BAD_SHARE:
            bad = "   " if rng.random() < 0.5 else '{"assets": [{"symbol": "C1", '
            timed.append({"due_ms": due, "topic": TOPICS[r["type"]], "value": bad, "req": None})
    return warm, timed


def generate(workload, seed, seconds, out):
    """Write the inputs of one run under `out`; returns the spec the harness
    reads (table directory, requests, schedule)."""
    rng = np.random.default_rng(seed)
    data = f"{out}/data"
    os.makedirs(data, exist_ok=True)
    spec = {"workload": workload, "data": data, "seconds": seconds}
    if workload == "curation":
        corpus_tables(rng, data)
        return spec
    job_tables(rng, data)
    reqs = requests(rng, STREAM_WARMUP + timed_requests(seconds))
    spec["requests"] = reqs
    spec["warm_messages"], spec["messages"] = stream_messages(rng, reqs, seconds)
    return spec
