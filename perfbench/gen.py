"""Seeded input generators for the benchmark.

Everything the library reads during a run is written here, from the seed
alone: the claims history and its timed batches (CSV), the sales table
(CSV), and the small TPC-H-like tables the operator surface reads
(parquet). The same seed always gives byte-identical files.
"""
import csv
import json
import math
import os
import random
from datetime import date, datetime, timedelta

# Claims shape. The reference mart has ~4,774 parents x <=8 children over
# 49 months; the benchmark keeps the 49-month spine and the <=8 children
# per parent but scales the parent count and monthly volume down so a
# month-close batch finishes in seconds at 4 cores.
HISTORY_START = (2025, 1)
HISTORY_MONTHS = 6                   # 2025-01 .. 2025-06
PLANTS = [f"P{i:02d}" for i in range(1, 9)]
CAT2 = [f"C{i}" for i in range(1, 7)]
MAJORS = [f"M{i:02d}" for i in range(1, 11)]
N_PARENTS = 300
CLAIMS_PER_MONTH = 360
ZIPF_S = 1.1
NEGATIVE_LAG_SHARE = 0.03
LOT_CLUSTERS_PER_MONTH = 4
MONTH_CLOSE_BATCHES = 40
CORRECTION_BATCHES = 40
CORRECTION_SIZE = 40
MOVE_SHARE = 0.25
SALES_GAP_SHARE = 0.08

CLAIM_COLUMNS = [
    "상담번호", "접수년", "접수월", "접수일", "접수경로", "사업부문",
    "플랜트", "제품범주2", "대분류", "중분류", "소분류", "등급기준",
    "제품명", "제품코드", "불만원인", "제조일자", "유통기한", "LOT",
    "구입경로", "총처리액", "보상액",
]
GRADES = [("일반", 0.90), ("중대", 0.07), ("위험", 0.03)]
DATE_FORMATS = ["%Y-%m-%d", "%Y/%m/%d", "%Y.%m.%d"]


def month_add(ym, k):
    y, m = ym
    t = y * 12 + (m - 1) + k
    return (t // 12, t % 12 + 1)


def days_in_month(y, m):
    nxt = date(y + (m == 12), m % 12 + 1, 1)
    return (nxt - date(y, m, 1)).days


def pick_weighted(rng, items):
    x = rng.random()
    acc = 0.0
    for v, w in items:
        acc += w
        if x < acc:
            return v
    return items[-1][0]


class ClaimsWorld:
    """Parents, children and Zipf-skewed series volumes for one seed."""

    def __init__(self, seed):
        self.rng = random.Random(f"claims-{seed}")
        rng = self.rng
        combos = [(p, c, m) for p in PLANTS for c in CAT2 for m in MAJORS]
        rng.shuffle(combos)
        self.parents = sorted(combos[:N_PARENTS])
        self.series = []
        for parent in self.parents:
            for k in range(rng.randint(1, 8)):
                self.series.append(parent + (f"S{k + 1}",))
        order = list(range(len(self.series)))
        rng.shuffle(order)
        weights = [0.0] * len(self.series)
        for rank, i in enumerate(order):
            weights[i] = 1.0 / (rank + 1) ** ZIPF_S
        total = sum(weights)
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w / total
            self.cum.append(acc)
        self.next_key = 0

    def pick_series(self):
        x = self.rng.random()
        lo, hi = 0, len(self.cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cum[mid] < x:
                lo = mid + 1
            else:
                hi = mid
        return self.series[lo]

    def new_key(self):
        self.next_key += 1
        return f"C{self.next_key:08d}"

    def claim(self, s, receipt, mfg=None):
        rng = self.rng
        plant, cat2, major, mid = s
        product = f"{cat2}-{major}-{rng.randint(1, 3)}"
        if mfg is None:
            if rng.random() < NEGATIVE_LAG_SHARE:
                mfg = receipt + timedelta(days=rng.randint(1, 20))
            else:
                mfg = receipt - timedelta(days=int(rng.expovariate(1 / 45.0)))
        return {
            "상담번호": self.new_key(),
            "접수년": str(receipt.year), "접수월": str(receipt.month),
            "접수일": str(receipt.day),
            "접수경로": rng.choice(["전화", "웹", "매장"]),
            "사업부문": "식품", "플랜트": plant, "제품범주2": cat2,
            "대분류": major, "중분류": mid,
            "소분류": f"T{rng.randint(1, 5)}",
            "등급기준": pick_weighted(rng, GRADES),
            "제품명": f"PRD-{product}", "제품코드": f"PC-{product}",
            "불만원인": rng.choice(["제조불만", "유통불만", "고객불만"]),
            "제조일자": mfg.strftime(rng.choice(DATE_FORMATS)),
            "유통기한": (mfg + timedelta(days=365)).strftime("%Y-%m-%d"),
            "LOT": f"L{mfg.strftime('%y%m%d')}{plant[-1]}",
            "구입경로": rng.choice(["마트", "온라인", "편의점"]),
            "총처리액": f"{rng.randint(0, 50) * 1000}",
            "보상액": f"{rng.randint(0, 20) * 1000}",
        }

    def month_claims(self, ym):
        """One month of claims: Zipf volume plus LOT clusters (>=3 claims
        of one product and manufacture date inside the month)."""
        rng = self.rng
        y, m = ym
        dim = days_in_month(y, m)
        n = int(CLAIMS_PER_MONTH * (1 + 0.15 * math.sin(2 * math.pi * m / 12)))
        rows = []
        for _ in range(n):
            rows.append(self.claim(self.pick_series(),
                                   date(y, m, rng.randint(1, dim))))
        for _ in range(LOT_CLUSTERS_PER_MONTH):
            s = self.pick_series()
            mfg = date(y, m, 1) - timedelta(days=rng.randint(5, 60))
            base = self.claim(s, date(y, m, rng.randint(1, dim)), mfg)
            base["제조일자"] = mfg.strftime("%Y-%m-%d")
            rows.append(base)
            for _ in range(rng.randint(2, 4)):
                r = dict(base)
                r["상담번호"] = self.new_key()
                r["접수일"] = str(rng.randint(1, dim))
                rows.append(r)
        return rows


def write_csv(path, rows, columns=CLAIM_COLUMNS):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=columns)
        w.writeheader()
        w.writerows(rows)


def gen_claims(out, seed):
    """History CSV, month-close and correction batch CSVs, sales CSV.

    Writes `claims/manifest.json` naming every file; the history month
    range and the batch order are part of it."""
    world = ClaimsWorld(seed)
    rng = world.rng
    os.makedirs(out, exist_ok=True)
    history = []
    for k in range(HISTORY_MONTHS):
        history.extend(world.month_claims(month_add(HISTORY_START, k)))
    write_csv(os.path.join(out, "history.csv"), history)

    month_close = []
    keys = {r["상담번호"] for r in history}
    keys_after = []
    for k in range(MONTH_CLOSE_BATCHES):
        ym = month_add(HISTORY_START, HISTORY_MONTHS + k)
        p = os.path.join(out, f"month_close_{k:03d}.csv")
        rows = world.month_claims(ym)
        write_csv(p, rows)
        keys.update(r["상담번호"] for r in rows)
        keys_after.append(len(keys))     # corrections re-file existing keys
        nxt = month_add(ym, 1)
        month_close.append({"path": p, "as_of": f"{nxt[0]:04d}-{nxt[1]:02d}-01"})

    # Corrections re-file history claims on the same receipt date, so the
    # month spine never grows; a share moves to another parent.
    corrections = []
    last = month_add(HISTORY_START, HISTORY_MONTHS)
    as_of = f"{last[0]:04d}-{last[1]:02d}-01"
    for k in range(CORRECTION_BATCHES):
        rows = []
        for src in rng.sample(history, CORRECTION_SIZE):
            r = dict(src)
            r["소분류"] = f"T{rng.randint(1, 5)}"
            r["등급기준"] = pick_weighted(rng, GRADES)
            r["불만원인"] = rng.choice(["제조불만", "유통불만", "고객불만"])
            if rng.random() < MOVE_SHARE:
                plant, cat2, major = rng.choice(world.parents)
                r["플랜트"], r["제품범주2"], r["대분류"] = plant, cat2, major
                r["중분류"] = f"S{rng.randint(1, 2)}"
            rows.append(r)
        # a re-filed claim uploaded twice in one batch: keep-last dedup
        dup = dict(rows[0])
        dup["소분류"] = "T9"
        rows.append(dup)
        p = os.path.join(out, f"correction_{k:03d}.csv")
        write_csv(p, rows)
        corrections.append({"path": p, "as_of": as_of})

    sales = []
    for plant in PLANTS:
        for k in range(HISTORY_MONTHS):
            y, m = month_add(HISTORY_START, k)
            x = rng.random()
            if x < SALES_GAP_SHARE:
                continue                     # gap month: no row at all
            qty = 0 if x < SALES_GAP_SHARE * 1.5 else rng.randint(20000, 90000)
            sales.append({"ID": f"SID-{plant}-{y}", "플랜트": plant, "년": str(y),
                          "월": str(m), "매출수량": str(qty)})
    write_csv(os.path.join(out, "sales.csv"), sales,
              ["ID", "플랜트", "년", "월", "매출수량"])

    # Zipf-skewed lookup keys over the parents (mart document keys).
    order = list(world.parents)
    rng.shuffle(order)
    w = [1.0 / (i + 1) ** ZIPF_S for i in range(len(order))]
    lookups = ["_".join(rng.choices(order, weights=w)[0]) for _ in range(2000)]

    manifest = {
        "history": os.path.join(out, "history.csv"),
        "history_rows": len(history),
        "history_as_of": as_of,
        "history_months": HISTORY_MONTHS,
        "month_close": month_close,
        "corrections": corrections,
        "sales": os.path.join(out, "sales.csv"),
        "lookup_keys": lookups,
        "verb_seed": rng.randrange(1 << 30),
        "distinct_keys_after_cycle": keys_after,
    }
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False)
    return manifest


# ---- operator-surface tables (TPC-H-like star schema + events + corpus) ----

WORDS = ("the a data spark row column table scan filter join agg group sort "
         "merge hash key value query batch stream window vector part line "
         "order customer fast slow big small").split()
LANGS = [("en", 0.4), ("fr", 0.16), ("es", 0.16), ("zh", 0.14), ("de", 0.14)]


def gen_tables(out, seed, scale=1):
    """Write region/nation/customer/supplier/part/orders/lineitem/events/
    documents/embeddings parquet under `out`, sized like sf0.001."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"tables-{seed}")
    os.makedirs(out, exist_ok=True)

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out, f"{name}.parquet"))

    ts = pa.timestamp("us")
    write("region", {"r_regionkey": list(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {"n_nationkey": list(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord = 1500 * scale
    write("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"]) for _ in range(n_cust)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    write("supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = ["cold", "small", "large", "blue", "red", "green", "steel", "brass"]
    noun = ["widget", "bolt", "rod", "gear", "panel", "valve", "spring", "nut"]
    write("part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL",
                               "MEDIUM", "LARGE"]) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(n_part)]},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    d0 = datetime(1995, 1, 1)
    span = (datetime(2001, 8, 1) - d0).days
    odates = [d0 + timedelta(days=rng.randrange(span + 1)) for _ in range(n_ord)]
    write("orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": odates,
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_ord)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", ts), ("o_orderpriority", pa.string())]))
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for _ in range(6000 * scale):
        o = rng.randrange(n_ord)
        q = float(rng.randint(1, 50))
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(q)
        li["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(odates[o] + timedelta(days=rng.randint(1, 120)))
    write("lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", ts)]))
    n_ev = 1000 * scale
    t0 = datetime(2024, 1, 1)
    secs = sorted(rng.randrange(30 * 86400) for _ in range(n_ev))
    write("events", {
        "event_id": list(range(n_ev)),
        "ts": [t0 + timedelta(seconds=s, microseconds=rng.randrange(10 ** 6))
               for s in secs],
        "user_id": [rng.randrange(20) for _ in range(n_ev)],
        "event_type": [rng.choice(["click", "purchase", "error", "signup", "view"])
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(1, 200), 2) for _ in range(n_ev)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_ev)]},
        pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()),
                   ("props", pa.string())]))
    texts = []
    for i in range(500):
        if i >= 40 and rng.random() < 0.08:
            # near-duplicate of an earlier document: dedup entries find it
            base = texts[rng.randrange(len(texts))].split()
            j = rng.randrange(len(base))
            base[j] = rng.choice(WORDS)
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(8, 100))))
    write("documents", {
        "doc_id": list(range(500)), "text": texts,
        "lang": [pick_weighted(rng, LANGS) for _ in range(500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    embs, labels = [], []
    for _ in range(500):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        embs.append([x / norm for x in v])
        labels.append(lab)
    write("embeddings", {"vec_id": list(range(500)), "embedding": embs,
                         "label": labels},
          pa.schema([("vec_id", pa.int64()),
                     ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]))


def gen_warmup(out, seed):
    """One month of claims: the input of the short session whose loaded
    classes make the class-data archive."""
    world = ClaimsWorld(seed)
    os.makedirs(out, exist_ok=True)
    write_csv(os.path.join(out, "month.csv"), world.month_claims(HISTORY_START))
