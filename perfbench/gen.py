"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files. `reviews` returns a ledger of what it planted, so the
benchmark can check the program's outputs against it; `warehouse` returns
its row counts.

  warehouse(out, sf, seed)    parquet tables with the star schema and text
                              tables the query registry reads
  reviews(out, seed, ...)     Yelp-shaped JSONL files for the review ETL
                              stream, with planted duplicates, spam,
                              too-short, out-of-range and non-English rows
"""

import datetime
import json
import os
import random

def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _order_mtimes(paths):
    """Give staged files strictly increasing modification times in list
    order: the streaming file source takes the oldest file first."""
    base = int(os.path.getmtime(paths[0])) - len(paths) - 60
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def _dump(obj):
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


# --------------------------------------------------------------------------
# warehouse corpus

WH_WORDS = ("spark batch part line column order small sort fast value scan a "
            "hash slow group agg filter query big key window row table stream "
            "merge data join vector customer the").split()


def warehouse(out, sf=0.02, seed=42):
    """Write the ten registry tables under `out` (`<name>.parquet`) at scale
    `sf` (sf 0.1 = 600k lineitem rows). Returns row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    counts = {}

    def save(name, cols):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out, name + ".parquet"),
                       compression="snappy")
        counts[name] = t.num_rows

    def n(base):
        return max(1, int(round(base * sf / 0.1)))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": pa.array(range(5), i32),
                    "r_name": pa.array(regions, s)})
    save("nation", {"n_nationkey": pa.array(range(25), i32),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust, n_supp, n_part = n(15000), n(1000), n(20000)
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    save("customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], i32),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n_cust)], f64),
        "c_mktsegment": pa.array([rng.choice(segs) for _ in range(n_cust)], s)})
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], i32),
        "s_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n_supp)], f64)})
    adj = "blue hot small old red new cold large".split()
    noun = "bolt gear anvil ring widget rod plate".split()
    types = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
    price = [round(900 + (i % 2000) / 10, 2) for i in range(n_part)]
    save("part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}"
                            for _ in range(n_part)], s),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}"
                             for _ in range(n_part)], s),
        "p_type": pa.array([rng.choice(types) for _ in range(n_part)], s),
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], i32),
        "p_retailprice": pa.array(price, f64)})

    n_ord = n(150000)
    d0 = datetime.datetime(1995, 1, 1)
    odate = [d0 + datetime.timedelta(days=rng.randrange(2404))
             for _ in range(n_ord)]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    save("orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], i64),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n_ord)], s),
        "o_totalprice": pa.array([round(rng.uniform(1000, 500000), 2)
                                  for _ in range(n_ord)], f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array([rng.choice(prios)
                                     for _ in range(n_ord)], s)})

    li = {k: [] for k in ("ok", "pk", "sk", "ln", "q", "ep", "d", "t",
                          "rf", "ls", "sd")}
    for o in range(n_ord):
        for ln in range(1, rng.randrange(1, 8) + 1):
            pk = rng.randrange(n_part)
            q = float(rng.randrange(1, 51))
            li["ok"].append(o)
            li["pk"].append(pk)
            li["sk"].append(rng.randrange(n_supp))
            li["ln"].append(ln)
            li["q"].append(q)
            li["ep"].append(round(q * price[pk], 2))
            li["d"].append(rng.randrange(11) / 100)
            li["t"].append(rng.randrange(9) / 100)
            li["rf"].append(rng.choice("RAN"))
            li["ls"].append(rng.choice("OF"))
            li["sd"].append(odate[o] + datetime.timedelta(
                days=rng.randrange(1, 122)))
    save("lineitem", {
        "l_orderkey": pa.array(li["ok"], i64),
        "l_partkey": pa.array(li["pk"], i64),
        "l_suppkey": pa.array(li["sk"], i64),
        "l_linenumber": pa.array(li["ln"], i32),
        "l_quantity": pa.array(li["q"], f64),
        "l_extendedprice": pa.array(li["ep"], f64),
        "l_discount": pa.array(li["d"], f64),
        "l_tax": pa.array(li["t"], f64),
        "l_returnflag": pa.array(li["rf"], s),
        "l_linestatus": pa.array(li["ls"], s),
        "l_shipdate": pa.array(li["sd"], ts)})

    n_ev, n_users = n(100000), n(1500)
    e0 = datetime.datetime(2024, 1, 1)
    offs = sorted(rng.randrange(30 * 86400 * 10 ** 6) for _ in range(n_ev))
    etypes = ["view"] * 10 + ["click"] * 5 + ["purchase"] * 2 + \
        ["signup"] + ["error"] * 2
    save("events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array([e0 + datetime.timedelta(microseconds=o)
                        for o in offs], ts),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)], i64),
        "event_type": pa.array([rng.choice(etypes) for _ in range(n_ev)], s),
        "value": pa.array([round(rng.uniform(0.01, 490.02), 2)
                           for _ in range(n_ev)], f64),
        "props": pa.array(['{"k": %d}' % rng.randrange(100)
                           for _ in range(n_ev)], s)})

    n_doc = n(5000)
    langs = ["en"] * 8 + ["zh", "de", "fr", "es"] * 3
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.01:  # exact copy
            texts.append(rng.choice(texts))
        elif texts and r < 0.03:  # near copy: one word replaced
            w = rng.choice(texts).split()
            w[rng.randrange(len(w))] = rng.choice(WH_WORDS)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WH_WORDS)
                                  for _ in range(rng.randrange(10, 90))))
    save("documents", {
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([rng.choice(langs) for _ in range(n_doc)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n_emb, dim = n(2000), 64
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs = []
    for i in range(n_emb):
        if i % 50 == 49:  # near-twin of the previous vector
            v = [x + rng.gauss(0, 0.01) for x in vecs[-1]]
        else:
            v = [c + rng.gauss(0, 0.6) for c in centers[i % 10]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    save("embeddings", {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in range(n_emb)], i32)})
    return counts


# --------------------------------------------------------------------------
# review stream

REVIEW_NOUNS = ("food service staff room pasta pizza coffee table menu "
                "bread salad soup view music price waiter dessert").split()
REVIEW_ADJS = ("great fine tasty warm friendly quick calm fresh lovely "
               "pleasant cozy clean decent solid nice").split()
# Spanish, French and German words with no English stopword among them
FOREIGN = [
    "una comida muy buena con el mejor servicio de la ciudad".split(),
    "le repas etait tres bon et le service rapide".split(),
    "das essen war sehr gut und der service schnell".split(),
]
SHORT_TEXTS = ["it is ok", "it was ok", "was fine", "the best", "is good"]
ISSUES_BY_KIND = {
    "clean": [],
    "spam": ["spam_detected"],
    # under 10 characters the English detector finds fewer than six
    # stopwords, so a short review is also flagged for low confidence
    "short": ["wrong_language", "too_short"],
    "range": ["out_of_range"],
    "foreign": ["unsupported_language"],
}
REVIEW_T0 = datetime.datetime(2024, 3, 1)
REVIEW_STEP_S = 5  # event time advances 5 s per record


def _english(rng):
    # each clause carries seven English stopwords, so the detector's
    # confidence (0.15 per match) clears its 0.8 threshold
    clauses = []
    for _ in range(rng.randrange(2, 5)):
        a, b, c = (rng.choice(REVIEW_NOUNS) for _ in range(3))
        clauses.append(f"the {a} was {rng.choice(REVIEW_ADJS)} and the {b} "
                       f"is {rng.choice(REVIEW_ADJS)} for the {c}.")
    return " ".join(clauses)


def _review_kind(rng, shares):
    r = rng.random()
    for kind, share in shares:
        if r < share:
            return kind
        r -= share
    return "clean"


# Shares of each planted kind (the benchmark's own choice, not the reference's:
# large enough that every issue type appears in every file, small enough
# that most of the stream is clean and reaches the warehouse).
REVIEW_SHARES = [("dup", 0.08), ("spam", 0.05), ("short", 0.04),
                 ("range", 0.03), ("foreign", 0.05)]


def arrivals(rng, n_files, rate, interval_s, jitter):
    """Arrival offsets in seconds, one per review, grouped into files: file
    k holds the reviews that arrive in [k * interval_s, (k+1) *
    interval_s). Reviews come at `rate` per second with each gap scaled by
    uniform(1 - jitter, 1 + jitter), as the reference producer paces them
    (`--rate`, default 100/s, with +-50% delay jitter)."""
    files = [[] for _ in range(n_files)]
    t = 0.0
    while True:
        t += rng.uniform(1 - jitter, 1 + jitter) / rate
        k = int(t // interval_s)
        if k >= n_files:
            return files
        files[k].append(round(t, 4))


def reviews(out, seed, n_files, rate, interval_s, preroll=0, jitter=0.5,
            warmup_records=200):
    """Stage warmup.json (`warmup_records` reviews, released first) and
    `n_files` JSONL files under `out`, file k holding the reviews that
    arrive in its `interval_s` window (see `arrivals`). Returns the ledger:
    what every staged file plants, the arrival offsets and the release
    schedule (file k is due at (k+1) * interval_s; the first `preroll`
    files are a ramp that is not measured)."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    times = arrivals(rng, n_files, rate, interval_s, jitter)
    ids = set()
    index = [0]

    def new_id():
        while True:
            rid = "R%012x" % rng.getrandbits(48)
            if rid not in ids:
                ids.add(rid)
                return rid

    def record(kind):
        i = index[0]
        index[0] += 1
        date = REVIEW_T0 + datetime.timedelta(seconds=REVIEW_STEP_S * i)
        stars = float(rng.randrange(1, 6))
        if kind == "spam":
            text = _english(rng) + " click here http://deals.example now"
        elif kind == "short":
            text = rng.choice(SHORT_TEXTS)
        elif kind == "foreign":
            words = rng.choice(FOREIGN)[:]
            rng.shuffle(words)
            text = " ".join(words)
        else:
            text = _english(rng)
        if kind == "range":
            stars = rng.choice([6.0, 7.0, -1.0])
        return {"review_id": new_id(),
                "business_id": "b%d" % rng.randrange(500),
                "user_id": "u%d" % rng.randrange(5000),
                "stars": stars, "text": text,
                "date": date.strftime("%Y-%m-%d %H:%M:%S"),
                "useful": rng.randrange(10), "funny": rng.randrange(5),
                "cool": rng.randrange(5)}

    ledger = {"files": n_files, "rate": rate, "jitter": jitter,
              "interval_s": interval_s, "preroll": preroll,
              "warmup_records": warmup_records,
              "sizes": [len(ts) for ts in times], "arrivals_s": times,
              "records": 0, "fresh": 0,
              "dup": 0, "clean": 0, "rating_sum_clean": 0,
              "kinds": {k: 0 for k in ISSUES_BY_KIND}, "issues": {}}
    layout = [("warmup.json", warmup_records)] + \
        [("f%05d.json" % f, len(ts)) for f, ts in enumerate(times)]
    paths = []
    prev = []
    for name, size in layout:
        rows = []
        for _ in range(size):
            kind = _review_kind(rng, REVIEW_SHARES)
            pool = prev + [r for r, k in rows if k != "dup"]
            if kind == "dup" and pool:
                rows.append((dict(rng.choice(pool)), "dup"))
                ledger["dup"] += 1
                continue
            if kind == "dup":
                kind = "clean"
            r = record(kind)
            rows.append((r, kind))
            ledger["fresh"] += 1
            ledger["kinds"][kind] += 1
            for it in ISSUES_BY_KIND[kind]:
                ledger["issues"][it] = ledger["issues"].get(it, 0) + 1
            if kind == "clean":
                ledger["clean"] += 1
                ledger["rating_sum_clean"] += int(r["stars"])
        # duplicates re-send a record from this file or the one before:
        # minutes of event time, well inside the 2 h dedup watermark
        prev = [r for r, k in rows if k != "dup"]
        p = os.path.join(out, name)
        _write_lines(p, (_dump(r) for r, _ in rows))
        paths.append(p)
        ledger["records"] += len(rows)
    ledger["issues"]["duplicate"] = ledger["dup"]
    _order_mtimes(paths)
    with open(os.path.join(out, "ledger.json"), "w") as f:
        f.write(_dump(ledger))
    return ledger
