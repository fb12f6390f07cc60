"""Seeded input generators for the benchmark workloads.

Every generator is pure Python/numpy/pyarrow, takes the workload seed and
returns both the inputs and the ground truth the correctness checks need.
The same seed gives byte-identical files; the program under test only ever
sees the files written here.
"""

from __future__ import annotations

import csv
import io
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# medallion_etl: car-sales CSV batches (FIXTURES.md section 1 shape)
# ---------------------------------------------------------------------------

CARSALES_COLUMNS = [
    "Branch_ID", "Dealer_ID", "Model_ID", "Revenue", "Units_Sold", "Date_ID",
    "Day", "Month", "Year", "BranchName", "DealerName", "Product_Name",
]
_BRANDS = ["BMW", "Audi", "Tata", "Fisker", "Kia", "Honda", "Ford", "Volvo"]
_NAME_WORDS = [
    "AC", "Deccan", "Metro", "Prime", "Royal", "Star", "Sun", "Motors", "Cars",
    "Autos", "Wheels", "City", "Grand", "Karma", "Ocean", "Valley", "Hill",
]


@dataclass
class CarSales:
    """A base load plus incremental batches of raw car-sales rows.

    Rows are dicts keyed by :data:`CARSALES_COLUMNS`; names are ``""`` where
    the CSV field is empty. Within one batch every attribute is a function
    of its business key (a renamed dealer is renamed in all of its rows),
    which is the condition a merge on the dimension key requires."""

    base: list[dict]
    batches: list[list[dict]]
    #: per batch: how many rows carry a never-seen business key (insert
    #: path), how many keys were renamed (SCD1 update path) and how many
    #: rows re-send an already loaded fact key combination
    batch_stats: list[dict] = field(default_factory=list)


class _CarSalesState:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.branch: dict[str, str] = {}
        self.dealer: dict[str, str] = {}
        self.models: list[str] = []
        self.dates: dict[str, tuple[int, int, int]] = {}
        self.combos: list[tuple[str, str, str, str]] = []
        #: keys in insertion order (= sorted order), for O(1) random picks
        self.ids: dict[str, list[str]] = {"branch": [], "dealer": [], "date": []}

    def name(self) -> str:
        r = self.rng.random()
        if r < 0.04:
            return ""  # empty names load as nulls
        a, b = self.rng.sample(_NAME_WORDS, 2)
        if r < 0.15:
            return f"{a}, {b} Motors"  # quoted comma in the CSV
        return f"{a} {b} {self.rng.choice(['Motors', 'Cars', 'Autos'])}"

    def new_branch(self) -> str:
        k = f"BR{len(self.branch) + 1:05d}"
        self.branch[k] = self.name()
        self.ids["branch"].append(k)
        return k

    def new_dealer(self) -> str:
        k = f"DLR{len(self.dealer) + 1:05d}"
        self.dealer[k] = self.name()
        self.ids["dealer"].append(k)
        return k

    def new_model(self) -> str:
        k = f"{self.rng.choice(_BRANDS)}-M{len(self.models) + 1:04d}"
        self.models.append(k)
        return k

    def new_date(self) -> str:
        k = f"DT{len(self.dates) + 1:05d}"
        self.dates[k] = (
            self.rng.randint(1, 28), self.rng.randint(1, 12), self.rng.randint(2017, 2020)
        )
        self.ids["date"].append(k)
        return k

    def row(self, b: str, d: str, m: str, t: str) -> dict:
        day, month, year = self.dates[t]
        units = self.rng.randint(1, 3)
        return {
            "Branch_ID": b, "Dealer_ID": d, "Model_ID": m,
            "Revenue": self.rng.randint(110_000, 30_000_000), "Units_Sold": units,
            "Date_ID": t, "Day": day, "Month": month, "Year": year,
            "BranchName": self.branch[b], "DealerName": self.dealer[d],
            "Product_Name": m.split("-")[0],
        }

    def random_row(self) -> dict:
        rng = self.rng
        combo = (
            rng.choice(self.ids["branch"]), rng.choice(self.ids["dealer"]),
            rng.choice(self.models), rng.choice(self.ids["date"]),
        )
        self.combos.append(combo)
        return self.row(*combo)


def carsales(
    seed: int,
    base_rows: int,
    batch_rows: int,
    n_batches: int,
    new_frac: float = 0.2,
    renames: int = 4,
    resend_frac: float = 0.1,
) -> CarSales:
    """Base load of ``base_rows`` and ``n_batches`` batches of ``batch_rows``.

    Each batch mixes rows with brand-new business keys (``new_frac``),
    rows for ``renames`` existing branches/dealers whose name changed,
    rows that re-send an existing fact key combination with a new revenue
    (``resend_frac``) and ordinary rows over existing keys."""
    rng = random.Random(seed)
    st = _CarSalesState(rng)
    n_keys = max(4, base_rows // 8)
    for _ in range(n_keys):
        st.new_branch()
        st.new_dealer()
    for _ in range(max(4, base_rows // 16)):
        st.new_model()
    for _ in range(max(4, base_rows // 4)):
        st.new_date()
    base = [st.random_row() for _ in range(base_rows)]

    batches, stats = [], []
    for bi in range(n_batches):
        rows: list[dict] = []
        n_new = int(batch_rows * new_frac)
        for _ in range(n_new):
            # each insert row introduces a new key in one or more dims
            b = st.new_branch() if rng.random() < 0.7 else rng.choice(st.ids["branch"])
            d = st.new_dealer() if rng.random() < 0.5 else rng.choice(st.ids["dealer"])
            m = st.new_model() if rng.random() < 0.3 else rng.choice(st.models)
            t = st.new_date() if rng.random() < 0.3 else rng.choice(st.ids["date"])
            st.combos.append((b, d, m, t))
            rows.append(st.row(b, d, m, t))
        renamed = []
        for i in range(renames):
            pool = st.branch if i % 2 == 0 else st.dealer
            key = rng.choice(st.ids["branch" if i % 2 == 0 else "dealer"])
            pool[key] = f"{pool[key] or 'Unnamed'} up{bi + 1}"
            renamed.append(key)
            b = key if pool is st.branch else rng.choice(st.ids["branch"])
            d = key if pool is st.dealer else rng.choice(st.ids["dealer"])
            combo = (b, d, rng.choice(st.models), rng.choice(st.ids["date"]))
            st.combos.append(combo)
            rows.append(st.row(*combo))
        n_resend = int(batch_rows * resend_frac)
        for _ in range(n_resend):
            rows.append(st.row(*rng.choice(st.combos)))
        while len(rows) < batch_rows:
            rows.append(st.random_row())
        # names are re-read from the key state, so every row of a renamed
        # key carries the new name — attributes stay key-determined
        for r in rows:
            r["BranchName"] = st.branch[r["Branch_ID"]]
            r["DealerName"] = st.dealer[r["Dealer_ID"]]
        rng.shuffle(rows)
        batches.append(rows)
        stats.append({"new_rows": n_new, "renamed_keys": len(set(renamed)), "resent_rows": n_resend})
    return CarSales(base=base, batches=batches, batch_stats=stats)


def write_carsales_csv(rows: list[dict], path: str) -> int:
    """Write rows as a header+CSV file (quotes only where needed); returns
    the byte size."""
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=CARSALES_COLUMNS, lineterminator="\n")
    w.writeheader()
    w.writerows(rows)
    data = buf.getvalue().encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# ---------------------------------------------------------------------------
# analytics_mix: TPC-H-like tables plus an event stream (the testdata shape)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    # two-decimal doubles: the queries' decimal(18,6) sums are exact on them
    return rng.integers(lo, hi, n) / 100.0


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Tables with the column names, types and value domains of the
    repository's testdata (TESTDATA.md) at scale factor ``sf`` (sf 0.01: 15k orders,
    ~60k lineitems, 10k events). Event timestamps strictly increase with
    ``event_id``, so every per-user ordering is a total order."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(20, int(15_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    order_day = rng.integers(0, 4 * 365, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_num = np.arange(n_li) - np.repeat(starts, lines_per_order) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n_li)) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + (np.repeat(order_day, lines_per_order) + rng.integers(1, 122, n_li)) * _DAY_US,
            pa.timestamp("us"),
        ),
    })
    # 30 days of events; strictly increasing microsecond timestamps
    gaps = rng.integers(1, 2 * (30 * _DAY_US) // n_ev, n_ev)
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0, 10_000, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout ``catalog`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# curation tables: documents with planted duplicates, embeddings with
# planted near-copies
# ---------------------------------------------------------------------------

_STOP = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with", "as"]
_LANGS = ["en", "de", "fr", "es", "zh"]


@dataclass
class Corpus:
    docs: pa.Table  # doc_id, text, lang, source, n_chars
    n_low_quality: int
    #: distinct normalized texts = what exact dedup must keep
    n_exact_survivors: int
    #: (original id, copy id) pairs: re-cased/re-spaced exact copies
    exact_pairs: list[tuple[int, int]]
    #: (original id, near-copy id) pairs, one word replaced
    near_pairs: list[tuple[int, int]]


def _vocab(rng: random.Random, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ren", "dar", "vel", "tor", "sa", "bri", "qu", "nex", "ul"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def corpus(
    seed: int,
    n_unique: int,
    exact_frac: float = 0.1,
    near_frac: float = 0.1,
    low_quality_frac: float = 0.05,
) -> Corpus:
    """``n_unique`` distinct documents, plus planted exact copies
    (re-cased and re-spaced, so only the normalized fingerprint matches)
    of ``exact_frac`` of them, planted near-copies (one word replaced,
    3-shingle Jaccard >= 0.88) of ``near_frac`` of them, and
    ``low_quality_frac`` digit-only junk documents a quality gate drops."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)

    def doc() -> list[str]:
        return [
            rng.choice(_STOP) if rng.random() < 0.25 else rng.choice(vocab)
            for _ in range(rng.randint(50, 100))
        ]

    originals = [doc() for _ in range(n_unique)]
    texts: list[str] = [" ".join(w) for w in originals]
    n_exact = int(n_unique * exact_frac)
    n_near = int(n_unique * near_frac)
    # disjoint original sets: exact copies come from the front, near copies
    # from the back; ids follow list order, so originals carry the smaller id
    exact_pairs = []
    for i in range(n_exact):
        exact_pairs.append((i, len(texts)))
        texts.append("  ".join(w.upper() if j % 5 == 0 else w for j, w in enumerate(originals[i])))
    near_pairs = []
    for i in range(n_unique - n_near, n_unique):
        words = list(originals[i])
        words[rng.randrange(5, len(words) - 5)] = rng.choice(vocab) + "x"
        near_pairs.append((i, len(texts)))
        texts.append(" ".join(words))
    n_low = int(n_unique * low_quality_frac)
    for _ in range(n_low):
        texts.append(" ".join(str(rng.randint(0, 10**6)) for _ in range(30)))
    docs = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return Corpus(docs, n_low, n_unique + n_near + n_low, exact_pairs, near_pairs)


@dataclass
class Embeddings:
    table: pa.Table  # vec_id, embedding array<float>, label
    #: (original id, near-copy id): cosine > 0.99, far above random pairs
    near_pairs: list[tuple[int, int]]


def embeddings(
    seed: int, n: int, dim: int = 64, n_clusters: int = 10, near_frac: float = 0.05
) -> Embeddings:
    """A Gaussian mixture of ``n`` vectors whose component is the ``label``
    (within-component cosine well below 0.9), plus ``near_frac`` planted
    near-copies of random vectors."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (n_clusters, dim))
    centers *= 2.0 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    base = centers[labels] + rng.normal(0, 0.25, (n, dim))
    n_near = int(n * near_frac)
    src = rng.choice(n, n_near, replace=False)
    vecs = np.vstack([base, base[src] + rng.normal(0, 0.003, (n_near, dim))])
    labels = np.concatenate([labels, labels[src]])
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, dim), pa.int32())
    table = pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })
    return Embeddings(table, [(int(s), n + i) for i, s in enumerate(src)])


def analytics_tables(seed: int, sf: float) -> tuple[dict[str, pa.Table], Corpus, Embeddings]:
    """Every table the analytics mix reads, at scale factor ``sf``, plus
    the planted ground truth of the curation tables."""
    tables = tpch_tables(seed, sf)
    c = corpus(seed, max(40, int(40_000 * sf)))
    e = embeddings(seed, max(40, int(20_000 * sf)))
    tables["documents"] = c.docs
    tables["embeddings"] = e.table
    return tables, c, e
