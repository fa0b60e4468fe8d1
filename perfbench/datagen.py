"""Seeded inputs for the benchmark.

Two kinds of input live here:

* the base tables (TPC-H-ish star schema plus `events`, `documents`,
  `embeddings`) that the engine's loader maps into an infoton store.
  They are drawn from a FIXED seed so the materialized store can be
  built once per checkout and served warm;
* the per-run inputs drawn from `--seed`: the read request stream, the
  N-Triples write batches with their expected fold, and the curation
  corpus with its planted near-duplicates.

Everything is deterministic in its seed: the same seed gives
byte-identical files, a different seed gives different ones.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data spark table query join filter group sort scan hash key "
         "value row column line part order customer window stream batch merge "
         "agg vector big small fast slow index graph node edge path store").split()
PART_ADJ = ["large", "hot", "cold", "small", "red", "blue", "steel", "brass"]
PART_NOUN = ["ring", "bolt", "widget", "gear", "pipe", "valve", "nut", "spring"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EMB_DIM = 64


def _rng(seed, stream):
    """Independent generator per (seed, purpose)."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r, n, span_days):
    return EPOCH_1992 + (r.integers(0, span_days, n) * 86_400_000_000).astype(
        "timedelta64[us]")


def _text(r, n_words):
    return " ".join(WORDS[i] for i in r.integers(0, len(WORDS), n_words))


def base_tables(out_dir, sf):
    """Write the base tables at scale factor `sf` (sf 1 = 150k customers)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(BASE_SEED, 1)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_users, n_ev = max(10, int(15_000 * sf)), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in r.integers(0, len(TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 20_000) / 10, 2),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 900, 500_000, n_ord),
        "o_orderdate": pa.array(_days(r, n_ord, 3650), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    # 1..7 lines per order, numbered 1..k: (orderkey, linenumber) unique
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lnum = np.arange(len(okey)) - starts + 1
    n_li = len(okey)
    qty = r.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(r, n_li, 3700), pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")
    # distinct microsecond timestamps: consume chunk boundaries are exact
    ts = EPOCH_2024 + np.cumsum(r.integers(1, 60_000_000, n_ev)).astype(
        "timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": _money(r, 0, 200, n_ev),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    docs = [_text(r, int(k)) for k in r.integers(12, 70, n_docs)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    centers = r.normal(0, 1, (10, EMB_DIM))
    label = r.integers(0, 10, n_emb)
    emb = (centers[label] + r.normal(0, 0.6, (n_emb, EMB_DIM))).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# --------------------------------------------------------------- read_mix

# Class weights: the engine's declared query paths per family
# (`SparkEntry.queries`, as counted in VERDICT.md's operator-by-operator
# audit): search 26 + aggregations 13, graph xg/yg/gqp 14, sparql 36,
# gremlin 17, consume 8. Every request kind below stands for its family,
# so a class is sent as often as its family has query paths.
FAMILY_PATHS = {"search": 26 + 13, "graph": 14, "sparql": 36, "gremlin": 17,
                "consume": 8}


def _apportion(weights, n):
    """Largest-remainder split of `n` slots by `weights` (ties by name)."""
    total = sum(weights.values())
    exact = {c: n * w / total for c, w in weights.items()}
    slots = {c: int(x) for c, x in exact.items()}
    for c in sorted(exact, key=lambda c: (slots[c] - exact[c], c))[
            :n - sum(slots.values())]:
        slots[c] += 1
    return slots


def class_cycle(weights, kinds):
    """The fixed class schedule: the shortest cycle whose apportionment
    of `weights` gives every class at least one slot per request kind,
    with each class's slots spread evenly over it. Every seed sends the
    same schedule, so run-to-run differences come from the constants,
    not from a reshuffled mix."""
    n = len(weights)
    while True:
        slots = _apportion(weights, n)
        if all(slots[c] >= len(kinds[c]) for c in weights):
            break
        n += 1
    order = sorted(((k + 0.5) / slots[c], c) for c in weights
                   for k in range(slots[c]))
    return [c for _, c in order]


KINDS = {"search": ["page_c", "agg_term", "page_o", "agg_stats", "agg_hist"],
         "graph": ["xg", "yg", "gqp"],
         "sparql": ["star", "chain", "closure"],
         "gremlin": ["in_values", "range_ids"],
         "consume": ["consume"]}
CLASS_CYCLE = class_cycle(FAMILY_PATHS, KINDS)
INFOTON_FORMATS = ["text", "jsonl", "csv", "yaml", "atom", "ntriples", "ttl",
                   "jsonld"]
# Formatters.ntriples over a sorted, limited Search.search page fails in
# Catalyst (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on _extract_path, at any
# offset) — an engine defect, so pages draw from the other formats until
# it is fixed. `ntriples_probe` keeps sending that request outside the
# measured window and the report shows whether it still fails.
PAGE_FORMATS = [f for f in INFOTON_FORMATS if f != "ntriples"]
LINE_FORMATS = ["text", "jsonl", "csv", "yaml", "atom"]
# share of constants drawn from a short hot list — a free choice: enough
# repeats that cached plans and compiled literals get reused, most
# constants new
HOT_SHARE = 0.3
WARMUP_SEED = 0  # the untimed warm-up is the same for every run
ONT = "PREFIX ont: <cmwell://ont#> "


def _skewed(r, hot, cold):
    """A constant that repeats with probability HOT_SHARE (Zipf over a
    short fixed hot list) and is drawn fresh otherwise."""
    if r.random() < HOT_SHARE:
        w = 1.0 / np.arange(1, len(hot) + 1)
        return hot[r.choice(len(hot), p=w / w.sum())]
    return cold()


def _table_size(base_dir, name):
    return pq.ParquetFile(f"{base_dir}/{name}.parquet").metadata.num_rows


def read_requests(seed, base_dir, n=400):
    """The seeded request stream: dicts with the engine call (`kind`,
    `fmt`, five string args) and its oracle (DuckDB SQL, or a consume
    spec the checker expands into chunks)."""
    r = _rng(seed, 10)
    n_cust = _table_size(base_dir, "customer")
    seen = {c: 0 for c in KINDS}
    out = []

    def money(lo, hi):
        return lambda: f"{r.uniform(lo, hi):.2f}"

    def pick(xs):
        return xs[r.integers(0, len(xs))]

    for i in range(n):
        cls = CLASS_CYCLE[i % len(CLASS_CYCLE)]
        kind = KINDS[cls][seen[cls] % len(KINDS[cls])]
        seen[cls] += 1
        fmt = pick(INFOTON_FORMATS)
        seg = _skewed(r, ["BUILDING", "MACHINERY"], lambda: pick(SEGMENTS))
        prio = _skewed(r, ["1-URGENT"], lambda: pick(PRIORITIES))
        nation = _skewed(r, [7, 3], lambda: int(r.integers(0, 25)))
        args = [""] * 5
        if kind.startswith("page"):
            fmt = pick(PAGE_FORMATS)
        if kind == "page_c":
            x = _skewed(r, ["1000", "5000", "9000"], money(-500, 9500))
            off, ln = int(pick([0, 10, 20])), int(pick([10, 20]))
            args = ["/customer", f"mktsegment::{seg},acctbal>{x}", "-acctbal",
                    str(off), str(ln)]
            oracle = (f"SELECT '/customer/' || c_custkey AS path FROM customer "
                      f"WHERE c_mktsegment = '{seg}' AND c_acctbal > {x} "
                      f"ORDER BY c_acctbal DESC, path LIMIT {ln} OFFSET {off}")
        elif kind == "page_o":
            x = _skewed(r, ["20000", "50000"], money(5000, 100000))
            off, ln = int(pick([0, 10])), int(pick([10, 20]))
            args = ["/orders", f"orderpriority::{prio},totalprice<{x}",
                    "totalprice", str(off), str(ln)]
            oracle = (f"SELECT '/orders/' || o_orderkey AS path FROM orders "
                      f"WHERE o_orderpriority = '{prio}' AND o_totalprice < {x} "
                      f"ORDER BY o_totalprice, path LIMIT {ln} OFFSET {off}")
        elif kind == "agg_term":
            x = _skewed(r, ["100000", "250000"], money(1000, 450000))
            fmt = "json"
            args = ["/orders", f"totalprice>{x}",
                    "type:term,field::orderpriority,size:3", "", ""]
            oracle = (f"SELECT o_orderpriority AS key, count(*) AS doc_count "
                      f"FROM orders WHERE o_totalprice > {x} GROUP BY 1 "
                      f"ORDER BY doc_count DESC, key LIMIT 3")
        elif kind == "agg_stats":
            flag = pick(["A", "N", "R"])
            q = _skewed(r, [25, 40], lambda: int(r.integers(1, 45)))
            fmt = "json"
            args = ["/lineitem", f"returnflag::{flag},quantity>{q}",
                    "type:stats,field::extendedprice", "", ""]
            oracle = (f"SELECT count(l_extendedprice), min(l_extendedprice), "
                      f"max(l_extendedprice), "
                      f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), "
                      f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
                      f" / count(l_extendedprice) FROM lineitem "
                      f"WHERE l_returnflag = '{flag}' AND l_quantity > {q}")
        elif kind == "agg_hist":
            status = pick(["F", "O", "P"])
            iv = _skewed(r, [50000, 100000],
                         lambda: int(r.integers(2, 40)) * 5000)
            fmt = "json"
            args = ["/orders", f"orderstatus::{status}",
                    f"type:hist,field::totalprice,interval:{iv}", "", ""]
            oracle = (f"SELECT floor(o_totalprice / {iv}) * {iv} AS bucket, "
                      f"count(*) AS doc_count FROM orders "
                      f"WHERE o_orderstatus = '{status}' GROUP BY 1 ORDER BY 1")
        elif kind == "xg":
            x = _skewed(r, ["450000"], money(400000, 495000))
            args = ["/orders", f"orderpriority::{prio},totalprice>{x}",
                    "refCustomer", "", ""]
            cond = f"o_orderpriority = '{prio}' AND o_totalprice > {x}"
            oracle = (f"SELECT '/orders/' || o_orderkey FROM orders WHERE {cond} "
                      f"UNION SELECT '/customer/' || o_custkey FROM orders "
                      f"WHERE {cond}")
        elif kind == "yg":
            x = _skewed(r, ["9000"], money(8000, 9900))
            y = _skewed(r, ["100000"], money(50000, 450000))
            args = ["/customer", f"mktsegment::{seg},acctbal>{x}",
                    f"<refCustomer[totalprice>{y}]", "", ""]
            cond = f"c_mktsegment = '{seg}' AND c_acctbal > {x}"
            oracle = (f"SELECT '/customer/' || c_custkey FROM customer "
                      f"WHERE {cond} UNION SELECT '/orders/' || o_orderkey "
                      f"FROM orders JOIN customer ON o_custkey = c_custkey "
                      f"WHERE {cond} AND o_totalprice > {y}")
        elif kind == "gqp":
            y = _skewed(r, ["490000"], money(470000, 499000))
            args = ["/customer", f"mktsegment::{seg}",
                    f"<refCustomer[totalprice>{y}]", "", ""]
            oracle = (f"SELECT '/customer/' || c_custkey FROM customer "
                      f"WHERE c_mktsegment = '{seg}' AND EXISTS (SELECT 1 FROM "
                      f"orders WHERE o_custkey = c_custkey AND "
                      f"o_totalprice > {y})")
        elif kind == "star":
            x = _skewed(r, ["5000"], money(0, 9500))
            fmt = "json"
            args[0] = (ONT + "SELECT ?c WHERE { ?c ont:refNation ?n . "
                       f"?n ont:name \"NATION_{nation}\" . ?c ont:acctbal ?a . "
                       f"FILTER (?a > {x}) }}")
            oracle = (f"SELECT '/customer/' || c_custkey FROM customer "
                      f"WHERE c_nationkey = {nation} AND c_acctbal > {x} "
                      f"UNION ALL SELECT '/supplier/' || s_suppkey FROM supplier "
                      f"WHERE s_nationkey = {nation} AND s_acctbal > {x}")
        elif kind == "chain":
            x = _skewed(r, ["450000"], money(300000, 490000))
            fmt = "json"
            args[0] = (ONT + "SELECT ?o ?c WHERE { ?o ont:refCustomer ?c . "
                       "?c ont:refNation ?n . "
                       f"?n ont:name \"NATION_{nation}\" . ?o ont:totalprice ?p . "
                       f"FILTER (?p > {x}) }}")
            oracle = (f"SELECT '/orders/' || o_orderkey, '/customer/' || c_custkey "
                      f"FROM orders JOIN customer ON o_custkey = c_custkey "
                      f"WHERE c_nationkey = {nation} AND o_totalprice > {x}")
        elif kind == "closure":
            k = _skewed(r, [42, 7], lambda: int(r.integers(0, n_cust)))
            fmt = "json"
            args[0] = (ONT + f"SELECT ?x WHERE {{ <cmwell://customer/{k}> "
                       "(^ont:refCustomer|ont:refNation|ont:refRegion)+ ?x }")
            oracle = (f"SELECT '/orders/' || o_orderkey FROM orders "
                      f"WHERE o_custkey = {k} UNION SELECT '/nation/' || "
                      f"c_nationkey FROM customer WHERE c_custkey = {k} "
                      f"UNION SELECT '/region/' || n_regionkey FROM nation "
                      f"JOIN customer ON n_nationkey = c_nationkey "
                      f"WHERE c_custkey = {k}")
        elif kind == "in_values":
            fmt = "json"
            args[0] = (f"g.v(\"/nation/{nation}\").in(\"refNation\")"
                       f".has(\"mktsegment\", \"{seg}\").values(\"name\")")
            oracle = (f"SELECT c_name FROM customer WHERE c_nationkey = {nation}"
                      f" AND c_mktsegment = '{seg}'")
        elif kind == "range_ids":
            x = _skewed(r, ["9500"], money(9000, 9950))
            fmt = "json"
            args[0] = (f"g.V.has(\"mktsegment\", \"{seg}\")"
                       f".has(\"acctbal\", \"gt\", \"{x}\").id")
            oracle = (f"SELECT '/customer/' || c_custkey FROM customer "
                      f"WHERE c_mktsegment = '{seg}' AND c_acctbal > {x}")
        elif kind == "consume":
            ev = _skewed(r, ["purchase"], lambda: pick(EVENT_TYPES))
            size = _skewed(r, [100, 200], lambda: int(r.integers(30, 300)))
            fmt = pick(LINE_FORMATS)
            args = ["/user", f"event_type::{ev}", str(size), "3", ""]
            oracle = {"event_type": ev, "chunk": size, "chunks": 3}
        out.append({"id": f"q{i}", "cls": cls, "kind": kind, "fmt": fmt,
                    "args": args, "oracle": oracle})
    return out


def warmup_requests(base_dir):
    """The untimed warm-up: the first request of each class from a list
    that is the same for every run. With only two warm-up requests the
    window still carried much of the JIT warm-up, and ops_per_s spread
    0.15 over ten seeds."""
    reqs = read_requests(WARMUP_SEED, base_dir, n=len(CLASS_CYCLE))
    return [next(q for q in reqs if q["cls"] == c) for c in KINDS]


def ntriples_probe(base_dir):
    """The known-defect probe: a sorted customer page rendered as
    ntriples (see PAGE_FORMATS), the same request for every run."""
    reqs = read_requests(WARMUP_SEED, base_dir, n=len(CLASS_CYCLE))
    q = next(q for q in reqs if q["kind"] == "page_c")
    return dict(q, id="probe", fmt="ntriples")


def requests_tsv(reqs):
    return "".join("\t".join([q["id"], q["cls"], q["kind"], q["fmt"]] +
                             q["args"]) + "\n" for q in reqs)


# ----------------------------------------------------------- ingest_merge

# subjects per batch: the same size sequence for every seed, so runs
# differ in content, not in how much they write; a run sends whole
# cycles of it
BATCH_SUBJECTS = [100, 40, 160]
# operation mix per batch — a free choice, not a measured trace: field
# updates dominate, and every batch carries every operation kind
OP_MIX = {"update": 0.4, "add": 0.15, "delete": 0.1, "new": 0.2}
XSD = "http://www.w3.org/2001/XMLSchema#"
SYS = "cmwell://meta/sys#"
CHECKED_FIELDS = ["acctbal", "mktsegment", "name", "refCustomer"]


def num(d):
    """Canonical number text — the same rule as the JVM side's
    Render.num: integral values as integers, others rounded half-up to
    9 significant digits with trailing zeros stripped."""
    from decimal import Decimal, Context, ROUND_HALF_UP
    d = float(d)
    if d == int(d) and abs(d) < 1e15:
        return str(int(d))
    x = Context(prec=9, rounding=ROUND_HALF_UP).plus(Decimal(d)).normalize()
    return format(x, "f")


def ingest_batches(seed, base_dir, n_batches=24, sample=6):
    """N-Triples write batches plus, per batch, the paths to read back
    and their expected fields after folding every batch so far."""
    r = _rng(seed, 20)
    cust = pq.read_table(f"{base_dir}/customer.parquet").to_pydict()
    parts = pq.read_table(f"{base_dir}/part.parquet").to_pydict()
    n_cust, n_part = len(cust["c_custkey"]), len(parts["p_partkey"])
    n_ord = _table_size(base_dir, "orders")
    state = {}  # path -> {field: set of canonical values} | None (deleted)

    def customer(k):
        p = f"/customer/{k}"
        if p not in state:
            state[p] = {"acctbal": {num(cust["c_acctbal"][k])},
                        "mktsegment": {cust["c_mktsegment"][k]},
                        "name": {cust["c_name"][k]}}
        return p

    hot = [int(x) for x in r.choice(n_cust, 20, replace=False)]
    deleted, new_cust = set(), n_cust
    batches = []
    for b in range(n_batches):
        m = BATCH_SUBJECTS[b % len(BATCH_SUBJECTS)]
        n_upd, n_add, n_del, n_new = (int(m * OP_MIX[k]) for k in
                                      ("update", "add", "delete", "new"))
        n_dir = m - n_upd - n_add - n_del - n_new  # new subjects, new parent
        lines, touched = [], []
        upd = set()
        while len(upd) < n_upd:
            upd.add(hot[r.integers(0, 20)] if r.random() < HOT_SHARE
                    else int(r.integers(0, n_cust)))
        for k in sorted(upd):
            p, v = customer(k), f"{r.uniform(-999, 9999):.2f}"
            lines += [f"<cmwell:/{p}> <{SYS}markReplace> <cmwell://ont#acctbal> .",
                      f"<cmwell:/{p}> <cmwell://ont#acctbal> \"{v}\"^^<{XSD}double> ."]
            state[p]["acctbal"] = {num(v)}
            touched.append(p)
        for k in sorted({int(x) for x in r.integers(0, n_part, n_add)}):
            p, v = f"/part/{k}", f"renamed {b} {k}"
            lines.append(f"<cmwell:/{p}> <cmwell://ont#name> \"{v}\" .")
            state.setdefault(p, {"name": {parts["p_name"][k]}})["name"].add(v)
            touched.append(p)
        dels = set()
        while len(dels) < n_del:
            k = int(r.integers(0, n_ord))
            if k not in deleted:
                dels.add(k)
        for k in sorted(dels):
            deleted.add(k)
            p = f"/orders/{k}"
            lines.append(f"<cmwell:/{p}> <{SYS}fullDelete> \"true\" .")
            state[p] = None
            touched.append(p)
        for _ in range(n_new):
            p, v = f"/customer/{new_cust}", f"{r.uniform(0, 9000):.2f}"
            s = SEGMENTS[r.integers(0, 5)]
            lines += [f"<cmwell:/{p}> <cmwell://ont#name> \"New#{new_cust}\" .",
                      f"<cmwell:/{p}> <cmwell://ont#acctbal> \"{v}\"^^<{XSD}double> .",
                      f"<cmwell:/{p}> <cmwell://ont#mktsegment> \"{s}\" ."]
            state[p] = {"name": {f"New#{new_cust}"}, "acctbal": {num(v)},
                        "mktsegment": {s}}
            touched.append(p)
            new_cust += 1
        for j in range(n_dir):
            p, k = f"/ingest{seed % 1000}/batch{b}/item{j}", int(r.integers(0, n_cust))
            lines += [f"<cmwell:/{p}> <cmwell://ont#name> \"item {j}\" .",
                      f"<cmwell:/{p}> <cmwell://ont#refCustomer> <cmwell://customer/{k}> ."]
            state[p] = {"name": {f"item {j}"}, "refCustomer": {f"/customer/{k}"}}
            touched.append(p)
        pool = sorted(state)
        picks = sorted(set([touched[i] for i in r.choice(len(touched), sample // 2,
                                                         replace=False)] +
                           [pool[i] for i in r.choice(len(pool), sample // 2,
                                                      replace=False)]))
        expected = sorted(
            "|".join([p] + [f"{f}={';'.join(sorted(state[p].get(f, ())))}"
                            for f in CHECKED_FIELDS])
            for p in picks if state[p] is not None)
        batches.append({"nt": "".join(l + "\n" for l in lines),
                        "triples": len(lines), "sample": picks,
                        "expected": expected})
    return batches


# --------------------------------------------------------- pipeline_batch

REPLICAS = 2
NEAR_DUP_SHARE = 0.1
BENCH_SHARE = 0.02
KNN_QUERIES = 3


def corpus(seed, base_dir):
    """The curation corpus: the base documents replicated REPLICAS times
    (replica r > 0 prefixes every token with a seeded tag, so replicas
    share length and repetition statistics but no vocabulary), plus a
    NEAR_DUP_SHARE of seeded near-duplicates (one token appended to a
    doc of at least 20 tokens). Returns (docs table, benchmark-slice
    texts, planted (original, copy) pairs, knn query ids)."""
    r = _rng(seed, 30)
    d = pq.read_table(f"{base_dir}/documents.parquet").to_pydict()
    letters = np.array(list("bcdfghjkmnpqrstvwxz"))
    tags = [""] + ["".join(r.choice(letters, 3)) for _ in range(REPLICAS - 1)]
    ids, texts, langs, sources = [], [], [], []
    for rep, tag in enumerate(tags):
        for i, t in enumerate(d["text"]):
            ids.append(rep * 1_000_000 + d["doc_id"][i])
            texts.append(" ".join(tag + w for w in t.split()) if tag else t)
            langs.append(d["lang"][i])
            sources.append(d["source"][i])
    long_docs = [j for j, t in enumerate(texts) if len(t.split()) >= 20]
    n_dup = int(len(texts) * NEAR_DUP_SHARE)
    planted = []
    for k, j in enumerate(sorted(r.choice(long_docs, n_dup, replace=False))):
        new_id = 9_000_000 + k
        planted.append((ids[j], new_id))
        ids.append(new_id)
        texts.append(texts[j] + " " + WORDS[r.integers(0, len(WORDS))])
        langs.append(langs[j])
        sources.append(sources[j])
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                     "lang": langs, "source": sources,
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    bench_rows = sorted(r.choice(len(texts), max(1, int(len(texts) * BENCH_SHARE)),
                                 replace=False))
    bench = pa.table({"text": [texts[j] for j in bench_rows]})
    n_emb = _table_size(base_dir, "embeddings")
    queries = sorted(int(x) for x in r.choice(n_emb, KNN_QUERIES, replace=False))
    return docs, bench, planted, queries

