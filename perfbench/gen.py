"""Seeded input generation for the pipeline benchmark.

Every input the benchmarked pipelines read is generated here from the
workload seed, with numpy's PCG64 generator, and written as parquet
with fixed writer options, so the same seed gives byte-identical files.
The program under test sees only these files.

Tables follow the shape of the TPC-H-like star schema and the
``documents`` corpus used by the repository's examples (same column
names and types), at sizes chosen so one pipeline run takes a few
seconds on two task threads.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes (rows); lineitem/orders keep the 4:1 ratio of TPC-H
STAR_ROWS = {
    "lineitem": 240_000,
    "orders": 60_000,
    "customer": 6_000,
    "supplier": 400,
    "part": 8_000,
}
N_DOCS = 1_200  # base corpus before injected duplicates
N_SOURCES = 20  # src0 is the evaluation (benchmark) slice
DELTA_ORDERS = 15_000  # rows of the base Delta table
DELTA_BATCHES = 10  # upserts v2..v11 after create (v0) and append (v1): cross the v10 checkpoint
DELTA_BATCH_FRACTION = 0.02  # share of keys each upsert replaces

_EPOCH = dt.datetime(1970, 1, 1)
_START = (dt.datetime(1992, 1, 1) - _EPOCH).days
_END = (dt.datetime(1998, 8, 2) - _EPOCH).days
_US_PER_DAY = 86_400 * 1_000_000
# the Delta table spans the last 12 months: one partition per month
_DELTA_START = (dt.datetime(1997, 8, 1) - _EPOCH).days

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "es", "fr", "zh"]

# A fixed vocabulary (independent of the seed): syllable words, drawn
# with a Zipf-like law so n-gram overlap between unrelated documents is
# rare and the injected duplicates/contamination are what the
# operators find.
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do"]
VOCAB = sorted(
    {a + b + c for a in _SYL for b in _SYL for c in ["", "n", "r", "s", "l"]}
)


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, type=pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _orders(rng, n: int, start: int = _START) -> pa.Table:
    keys = np.arange(1, n + 1, dtype=np.int64) * 4  # sparse like TPC-H
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, STAR_ROWS["customer"] + 1, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n), 2),
        "o_orderdate": _ts(rng.integers(start, _END, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def make_star(rng: np.random.Generator, out: Path) -> dict[str, Path]:
    """TPC-H-like star schema: lineitem, orders and five dimensions."""
    n_li, n_o = STAR_ROWS["lineitem"], STAR_ROWS["orders"]
    orders = _orders(rng, n_o)
    okeys = orders.column("o_orderkey").to_numpy()
    odays = orders.column("o_orderdate").to_numpy().astype(np.int64) // _US_PER_DAY
    which = np.sort(rng.integers(0, n_o, n_li))
    starts = np.r_[0, np.flatnonzero(np.diff(which)) + 1]
    linenum = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2_000.0, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": okeys[which],
        "l_partkey": rng.integers(1, STAR_ROWS["part"] + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, STAR_ROWS["supplier"] + 1, n_li).astype(np.int64),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odays[which] + rng.integers(1, 122, n_li)),
    })
    n_c, n_s, n_p = STAR_ROWS["customer"], STAR_ROWS["supplier"], STAR_ROWS["part"]
    customer = pa.table({
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n_c), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_c),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n_s), 2),
    })
    part = pa.table({
        "p_partkey": np.arange(1, n_p + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_p + 1)],
        "p_brand": _pick(rng, [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)], n_p),
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2_000.0, n_p), 2),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    paths = {}
    for name, table in [("lineitem", lineitem), ("orders", orders),
                        ("customer", customer), ("supplier", supplier),
                        ("part", part), ("nation", nation), ("region", region)]:
        paths[name] = out / f"{name}.parquet"
        _write(table, paths[name])
    return paths


_WEIGHTS = 1.0 / (np.arange(len(VOCAB)) + 20.0)
_WEIGHTS /= _WEIGHTS.sum()


def _words(rng, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.choice(len(VOCAB), n, p=_WEIGHTS)]


def _pii(rng) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"{VOCAB[rng.integers(len(VOCAB))]}.{rng.integers(10, 99)}@example.com"
    if kind == 1:
        return f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"
    return f"192.168.{rng.integers(0, 255)}.{rng.integers(1, 255)}"


def make_documents(rng: np.random.Generator, out: Path) -> tuple[Path, dict]:
    """Corpus with seeded exact duplicates, near duplicates and benchmark
    contamination.  Returns the parquet path and the injection record:
    ``exact_groups`` lists doc_id groups with byte-identical text."""
    texts, sources = [], []
    for i in range(N_DOCS):
        words = _words(rng, int(rng.integers(30, 110)))
        if rng.random() < 0.08:
            words.insert(int(rng.integers(0, len(words))), _pii(rng))
        texts.append(" ".join(words))
        sources.append(f"src{i % N_SOURCES}")
    eval_ids = [i for i in range(N_DOCS) if sources[i] == "src0"]
    train_ids = [i for i in range(N_DOCS) if sources[i] != "src0"]
    chosen = rng.permutation(train_ids)
    n_inj = N_DOCS // 25
    exact_src, near_src, leak_dst = np.split(chosen[: 3 * n_inj], 3)

    def add(text: str, source: str) -> int:
        texts.append(text)
        sources.append(source)
        return len(texts) - 1

    exact_groups = []
    for i in exact_src:
        copies = [add(texts[i], f"src{1 + int(rng.integers(0, N_SOURCES - 1))}")
                  for _ in range(int(rng.integers(1, 3)))]
        exact_groups.append([int(i), *copies])
    for i in near_src:
        words = texts[i].split(" ")
        for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
            words[j] = VOCAB[rng.integers(len(VOCAB))]
        add(" ".join(words), sources[i])
    # exact n-gram leaks: a 24-word span of an eval doc inside a train doc
    for i in leak_dst:
        e = texts[eval_ids[int(rng.integers(0, len(eval_ids)))]].split(" ")
        k = int(rng.integers(0, max(1, len(e) - 24)))
        texts[i] = texts[i] + " " + " ".join(e[k: k + 24])
    # paraphrase leaks: an eval doc with 5% of its words replaced
    for _ in range(n_inj // 2):
        words = texts[eval_ids[int(rng.integers(0, len(eval_ids)))]].split(" ")
        for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
            words[j] = VOCAB[rng.integers(len(VOCAB))]
        add(" ".join(words), f"src{1 + int(rng.integers(0, N_SOURCES - 1))}")

    n = len(texts)
    order = rng.permutation(n)  # injected rows are not clustered at the end
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[order] = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).take(pa.array(np.argsort(doc_id)))
    path = out / "documents.parquet"
    _write(table, path)
    groups = [sorted(int(doc_id[i]) for i in g) for g in exact_groups]
    return path, {"exact_groups": groups}


def make_delta_inputs(rng: np.random.Generator, out: Path) -> tuple[Path, list[Path]]:
    """Base orders table plus the upsert batches.  Each batch replaces
    DELTA_BATCH_FRACTION of the existing keys with new prices, statuses
    and dates (rows may move between month partitions) and inserts a
    few new keys."""
    base = _orders(rng, DELTA_ORDERS, _DELTA_START)
    keys = base.column("o_orderkey").to_numpy()
    base_path = out / "delta_base.parquet"
    _write(base, base_path)
    batches = []
    n_upd = int(DELTA_ORDERS * DELTA_BATCH_FRACTION)
    n_new = n_upd // 10
    next_key = int(keys.max()) + 4
    for b in range(DELTA_BATCHES):
        upd = rng.choice(keys, n_upd, replace=False)
        new = np.arange(next_key, next_key + 4 * n_new, 4, dtype=np.int64)
        next_key += 4 * n_new
        batch = _orders(rng, n_upd + n_new, _DELTA_START)
        batch = batch.set_column(0, "o_orderkey", pa.array(np.r_[upd, new]))
        p = out / f"delta_batch_{b:02d}.parquet"
        _write(batch, p)
        batches.append(p)
    return base_path, batches
