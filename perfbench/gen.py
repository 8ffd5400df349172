"""Seeded input generators and the independent oracles they imply.

Everything here is a pure function of the seed and the traffic settings, so
the same seed always gives the same inputs. The program under test only ever
sees the files these functions write.

CDC log (ingest_cow, view_refresh): tab-separated CSV files with the
reference job's 11-column schema and an `Op` column of I/U/D. Destination
states follow state population and updates/deletes favour recently inserted
keys; the plan records how many partitions each poll touches.

Analytics tables: the TPC-H-ish star schema plus `events`, `documents` and
`embeddings`, in the shapes `graft.SparkEntry.queries` reads.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Destination states weighted by resident population (U.S. Census Bureau,
# 2020 Census apportionment results, thousands): orders ship where people live.
STATE_POPULATION = {
    "CA": 39538, "TX": 29146, "FL": 21538, "NY": 20201, "PA": 13003,
    "IL": 12813, "OH": 11799, "GA": 10712, "NC": 10439, "MI": 10077,
    "NJ": 9289, "VA": 8631, "WA": 7705, "AZ": 7152, "MA": 7030,
    "TN": 6911, "IN": 6786, "MD": 6177, "MO": 6154, "WI": 5894,
    "CO": 5774, "MN": 5706, "SC": 5118, "AL": 5024, "LA": 4658,
    "KY": 4506, "OR": 4237, "OK": 3959, "CT": 3606, "UT": 3272,
    "IA": 3190, "NV": 3105, "AR": 3012, "MS": 2961, "KS": 2938,
    "NM": 2118, "NE": 1962, "ID": 1839, "WV": 1794, "HI": 1455,
    "NH": 1378, "ME": 1362, "MT": 1084, "RI": 1097, "DE": 990,
    "SD": 887, "ND": 779, "AK": 733, "VT": 643, "WY": 577}
STATES = list(STATE_POPULATION)
CATEGORIES = ["books", "toys", "games", "garden", "market", "language",
              "music", "kitchen", "sports", "tools", "beauty", "office"]
SHIPPING = ["air", "ground", "sea", "express"]
REFERRAL = ["web", "ad", "email", "partner", "none"]
CDC_HEADER = ["Op", "replicadmstimestamp", "invoiceid", "itemid", "category",
              "price", "quantity", "orderdate", "destinationstate",
              "shippingtype", "referral"]
# Table columns: the CDC columns minus the op and order columns.
TABLE_COLS = CDC_HEADER[2:]

# Traffic settings of the CDC generator, also recorded with their sources in
# perfbench/ledger.json. Messages per poll and files per message follow the
# reference job; the rest have no published source.
CDC_TRAFFIC = {
    "state_weights": "population",  # STATE_POPULATION
    "recency_mean_keys": 2000,   # U/D pick a key ~Exp(mean) back from the newest
    "op_shares": {"I": 0.5, "U": 0.4, "D": 0.1},
    "rows_per_file": 5,
    "files_per_message": 1,      # one S3 object per event notification
    "messages_per_poll": 10,     # the reference poller's batch size
    "base_rows": 10000,
    "warmup_polls": 1,
}
TINY_CDC = dict(CDC_TRAFFIC, base_rows=400, recency_mean_keys=50)


_EPOCH = np.datetime64("2025-01-01T00:00:00.000")


def _ts(seq):
    """Strictly increasing DMS-style timestamp: one millisecond per row."""
    return str(_EPOCH + np.timedelta64(seq, "ms")).replace("T", " ")


class CdcLog:
    """The CDC event stream: base inserts, then polls of I/U/D rows."""

    def __init__(self, seed, traffic):
        self.t = traffic
        self.rng = np.random.default_rng(seed)
        w = np.array([STATE_POPULATION[s] for s in STATES], dtype=float)
        self.state_p = w / w.sum()
        self.seq = 0
        self.keys = []          # insertion order, (invoiceid, itemid)
        self.state_of = {}      # invoiceid -> state (immutable per invoice)
        self.alive = {}         # key -> bool
        self.next_invoice = 100000
        self.items_left = 0

    def _new_key(self):
        if self.items_left == 0:
            self.next_invoice += 1
            self.items_left = int(self.rng.integers(1, 5))
            self.state_of[self.next_invoice] = STATES[
                int(self.rng.choice(len(STATES), p=self.state_p))]
        item = 5 - self.items_left
        self.items_left -= 1
        key = (self.next_invoice, item)
        self.keys.append(key)
        return key

    def _recent_key(self, backs):
        n = len(self.keys)
        for back in backs:
            key = self.keys[max(0, n - 1 - int(back))]
            if self.alive.get(key):
                break
        return key

    def rows(self, n, inserts_only=False):
        r = self.rng
        shares = self.t["op_shares"]
        ops = (["I"] * n if inserts_only else
               r.choice(["I", "U", "D"], size=n,
                        p=[shares["I"], shares["U"], shares["D"]]).tolist())
        backs = r.exponential(self.t["recency_mean_keys"], size=(n, 4))
        cat = r.integers(len(CATEGORIES), size=n).tolist()
        dollars = r.integers(1, 1000, size=n).tolist()
        cents = r.integers(1, 100, size=n).tolist()
        qty = r.integers(1, 21, size=n).tolist()
        month = r.integers(1, 13, size=n).tolist()
        day = r.integers(1, 29, size=n).tolist()
        ship = r.integers(len(SHIPPING), size=n).tolist()
        ref = r.integers(len(REFERRAL), size=n).tolist()
        out = []
        for i, op in enumerate(ops):
            key = (self._new_key() if op == "I" or not self.keys
                   else self._recent_key(backs[i]))
            out.append([op, _ts(self.seq), key[0], key[1], CATEGORIES[cat[i]],
                        "%d.%02d" % (dollars[i], cents[i]), qty[i],
                        "2025-%02d-%02d" % (month[i], day[i]),
                        self.state_of[key[0]], SHIPPING[ship[i]], REFERRAL[ref[i]]])
            self.seq += 1
            self.alive[key] = op != "D"
        return out


def _write_tsv(path, rows):
    with open(path, "w") as f:
        f.write("\t".join(CDC_HEADER) + "\n")
        for r in rows:
            f.write("\t".join(str(v) for v in r) + "\n")


def write_cdc(out_dir, seed, polls, traffic=CDC_TRAFFIC):
    """Write the base file and `warmup_polls + polls` polls of CDC files.

    Returns the plan the JVM harness replays: message bodies are built there
    with `S3EventParser.eventJson`, one message per `files_per_message` files,
    delivered FIFO by name. `messages` lists every message in order, the base
    load first; `log` holds the rows of each message for the oracle fold.
    """
    land = os.path.join(out_dir, "land")
    os.makedirs(land, exist_ok=True)
    log = CdcLog(seed, traffic)
    messages, logs, states = [], [], []
    base = log.rows(traffic["base_rows"], inserts_only=True)
    _write_tsv(os.path.join(land, "base.csv"), base)
    messages.append({"name": "m000000.json", "files": ["base.csv"], "rows": len(base)})
    logs.append(base)
    per_file = traffic["rows_per_file"]
    for p in range(traffic["warmup_polls"] + polls):
        touched = set()
        for m in range(traffic["messages_per_poll"]):
            files, mrows = [], []
            for f in range(traffic["files_per_message"]):
                rows = log.rows(per_file)
                name = "p%05d_m%d_f%d.csv" % (p, m, f)
                _write_tsv(os.path.join(land, name), rows)
                files.append(name)
                mrows.extend(rows)
                touched.update(r[8] for r in rows)
            messages.append({"name": "m%06d.json" % len(messages), "files": files,
                             "rows": len(mrows)})
            logs.append(mrows)
        states.append(len(touched))
    plan = {"land": os.path.abspath(land), "messages": messages,
            "messages_per_poll": traffic["messages_per_poll"],
            "warmup_polls": traffic["warmup_polls"],
            "partitions_touched": states}
    return plan, logs


def fold(logs, n_messages, drop_first_delete=False):
    """Independent oracle: the table after `n_messages` messages.

    Latest op per key wins in timestamp order (the log is written in that
    order), deletes remove the key, an update of an absent key inserts it.
    With `drop_first_delete` the first effective delete is skipped: the
    corrupted expectation every run feeds the gate, which must reject it.
    """
    table = {}
    skipped = not drop_first_delete
    for rows in logs[:n_messages]:
        for r in rows:
            key = (r[2], r[3])
            if r[0] == "D":
                if not skipped and key in table:
                    skipped = True
                    continue
                table.pop(key, None)
            else:
                table[key] = (r[2], r[3], r[4], float(r[5]), r[6], r[7], r[8],
                              r[9], r[10])
    return table.values()


def row_digest(rows):
    """Order-independent (count, hash) of a row multiset."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, total


# ---------------------------------------------------------------- analytics

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
P_NAMES = [a + " " + b for a in ["small", "red", "blue", "green", "large",
                                 "shiny", "matte", "old"]
           for b in ["ring", "widget", "bolt", "nut", "gear", "spring",
                     "valve", "pipe"]]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, n_days, n):
    d = np.datetime64(start) + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def write_analytics(out_dir, seed, sf):
    """Write the ten analytics tables at scale factor `sf` (sf 1 ~ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": ["NATION_%d" % i for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [P_NAMES[i] for i in rng.integers(0, len(P_NAMES), n_part)],
        "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, n_li), pa.timestamp("us"))})
    # events: one month of strictly increasing microsecond timestamps
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.03, n_ev),
        "props": ['{"k": %d}' % i for i in rng.integers(0, 100, n_ev)]})
    docs = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:        # near and exact duplicates
            src = docs[int(rng.integers(0, i))]
            docs.append(src if rng.random() < 0.5 else src + " dup")
            continue
        n_words = int(rng.integers(8, 90))
        docs.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": ["src%d" % i for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

