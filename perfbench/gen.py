"""Seeded input generators for the benchmark.

Everything the engine reads during a benchmark run is written here, under
a root inside the benchmark's own work directory:

* ``write_base`` — the TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings`` at a scale factor (one parquet file per
  table, the fixture layout the catalog reads).
* ``ensure_bi_data`` — the sf1 tier: a fixed-seed sf0.1 base upsampled 10x
  by ``tools.make_benchdata.build``, imported unchanged.
* ``HourlyExtracts`` — the incremental workload's hourly batches. Each batch
  re-stages about 1% of the base orders, all inside the trailing 3-month
  window, in a fixed mix (``BATCH_MIX``): value updates, new keys,
  deletions (soft: the order row is restaged with status ``D`` and no
  lines) and orders that move across the year boundary inside the window.
* ``write_corpus`` — the curation corpus: random documents plus a stated
  share of planted exact copies (``EXACT_SHARE``) and one-token
  near-duplicates (``NEAR_SHARE``), one embedding per document.

The same seed gives byte-identical files (pinned by the benchmark's tests).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 31-word token vocabulary, the shape of the driver fixtures' text.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group "
    "stream filter big vector index"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: Orders span [ORDER_START, ORDER_END); the trailing 3-month window
#: [WINDOW_START, ORDER_END) crosses a year boundary so that restaged
#: orders can move year without leaving it.
ORDER_START = dt.date(1995, 1, 1)
ORDER_END = dt.date(2002, 2, 1)
WINDOW_START = dt.date(2001, 11, 1)
YEAR_EDGE = dt.date(2002, 1, 1)

#: Fixed seed of the BI base tables: bi_mix varies its query order by the
#: workload seed, not its 6M-row tables, which are built once per checkout.
BI_BASE_SEED = 42
BASE_SF = 0.1

#: Share of each hourly batch by kind; a batch restages BATCH_FRAC of the
#: base orders.
BATCH_FRAC = 0.01
BATCH_MIX = {"update": 0.6, "new": 0.2, "delete": 0.1, "move_year": 0.1}

#: Curation corpus: share of planted exact copies and of one-token
#: near-duplicates (each plant copies a distinct original of >= 60 tokens).
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
CORPUS_DOCS = 800

_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal money values (exact cents, so rounded sums never sit on
    a float half)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 99) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in toks[pos : pos + ln]))
        pos += ln
    return out


def _perturb(rng: np.random.Generator, text: str) -> str:
    """One token replaced by a different vocabulary word."""
    toks = text.split(" ")
    i = int(rng.integers(0, len(toks)))
    choices = [w for w in VOCAB if w != toks[i]]
    toks[i] = choices[int(rng.integers(0, len(choices)))]
    return " ".join(toks)


def _unit_vectors(rng: np.random.Generator, n: int, dim: int = 64) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (len(ids) + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _documents_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), len(ids))]),
            "source": pa.array([f"src{int(i) % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_base(dst: str, sf: float, seed: int) -> str:
    """Write the base tables at scale factor ``sf`` (sf0.1: 150k orders,
    ~600k lineitems, 100k events, 5k documents, 2k embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(dst, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{dst}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{dst}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{dst}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }), f"{dst}/supplier.parquet")
    adjectives = ("small", "red", "large", "blue", "green", "steel")
    nouns = ("ring", "widget", "bolt", "gear", "panel", "valve")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, 900, 2000, n_part),
    }), f"{dst}/part.parquet")

    odays = rng.integers(_days(ORDER_START), _days(ORDER_END), n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{dst}/orders.parquet")

    per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per)
    n_li = len(okeys)
    linenos = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    _write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(np.repeat(odays, per) + rng.integers(1, 122, n_li)),
    }), f"{dst}/lineitem.parquet")

    ev_start = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{dst}/events.parquet")

    texts = _texts(rng, n_doc)
    for i in rng.choice(n_doc // 2, size=max(5, int(250 * sf)), replace=False):
        texts[n_doc // 2 + int(i)] = _perturb(rng, texts[int(i)])
    _write(_documents_table(np.arange(n_doc), texts, rng), f"{dst}/documents.parquet")
    _write(_embeddings_table(np.arange(n_emb), _unit_vectors(rng, n_emb),
                             rng.integers(0, 10, n_emb)), f"{dst}/embeddings.parquet")
    return dst


def source_digest(*paths: str) -> str:
    h = hashlib.sha1()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def build_once(dst: str, build) -> str:
    """Run ``build(tmp)`` into a sibling temp dir and publish it by rename,
    so an interrupted build never leaves a half-written cache entry."""
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(tmp, dst)
    return dst


def ensure_base(cache: str) -> str:
    """The fixed-seed sf0.1 base, cached per generator version."""
    key = source_digest(__file__)
    return build_once(os.path.join(cache, f"base-sf{BASE_SF}-{key}"),
                       lambda d: write_base(d, BASE_SF, BI_BASE_SEED))


def ensure_bi_data(cache: str) -> str:
    """The sf1 tier: the sf0.1 base upsampled 10x by
    ``tools.make_benchdata.build`` (6M lineitem rows)."""
    from tools import make_benchdata

    base = ensure_base(cache)
    key = source_digest(__file__, make_benchdata.__file__)
    return build_once(os.path.join(cache, f"sf1-{key}"),
                       lambda d: make_benchdata.build(src=base, dst=d))


# ---------------------------------------------------------------------------
# incremental_etl: hourly extracts
# ---------------------------------------------------------------------------

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
DENORM_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_orderdate", pa.timestamp("us")),
    ("l_partkey", pa.int64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
])


class HourlyExtracts:
    """Deterministic stream of hourly extract batches over a base dir.

    Batch ``k`` depends only on (seed, base tables, k): the generator keeps
    the in-window order state itself, so restaged keys are always live
    orders and deleted orders are never restaged again."""

    def __init__(self, base_dir: str, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        orders = pq.read_table(f"{base_dir}/orders.parquet").to_pandas()
        self.n_part = pq.read_metadata(f"{base_dir}/part.parquet").num_rows
        self.n_cust = pq.read_metadata(f"{base_dir}/customer.parquet").num_rows
        self.per_batch = max(10, int(len(orders) * BATCH_FRAC))
        lo = np.datetime64(WINDOW_START)
        in_win = orders[orders["o_orderdate"] >= lo]
        self.live = sorted(int(k) for k in in_win["o_orderkey"])
        self.days = {int(k): int(d) for k, d in zip(
            in_win["o_orderkey"], in_win["o_orderdate"].values.astype("datetime64[D]").astype(np.int64))}
        self.next_key = int(orders["o_orderkey"].max()) + 1

    def next_batch(self) -> tuple[pa.Table, pa.Table]:
        """(orders extract, pre-joined order+line extract) of the next hour."""
        rng = self.rng
        counts = {k: int(round(self.per_batch * f)) for k, f in BATCH_MIX.items()}
        picked = rng.choice(len(self.live), size=counts["update"] + counts["delete"]
                            + counts["move_year"], replace=False)
        keys = [self.live[int(i)] for i in picked]
        upd = keys[: counts["update"]]
        dele = keys[counts["update"] : counts["update"] + counts["delete"]]
        mov = keys[counts["update"] + counts["delete"] :]
        new = list(range(self.next_key, self.next_key + counts["new"]))
        self.next_key += counts["new"]
        w0, w1, edge = _days(WINDOW_START), _days(ORDER_END), _days(YEAR_EDGE)
        for k in mov:  # cross the year edge, staying inside the window
            d = self.days[k]
            self.days[k] = int(rng.integers(edge, w1)) if d < edge else int(rng.integers(w0, edge))
        for k in new:
            self.days[k] = int(rng.integers(w0, w1))
        staged = upd + mov + new
        n = len(staged) + len(dele)
        okeys = np.array(staged + dele, dtype=np.int64)
        odays = np.array([self.days[k] for k in staged + dele], dtype=np.int64)
        self.live = sorted((set(self.live) - set(dele)) | set(new))
        for k in dele:
            self.days.pop(k)
        status = [("F", "O", "P")[i] for i in rng.integers(0, 3, len(staged))] + ["D"] * len(dele)
        orders = pa.table({
            "o_orderkey": okeys,
            "o_custkey": rng.integers(0, self.n_cust, n),
            "o_orderstatus": status,
            "o_totalprice": _cents(rng, 1000, 500000, n),
            "o_orderdate": _ts_us(odays),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }, schema=ORDERS_SCHEMA)

        per = rng.integers(1, 8, len(staged))
        n_li = int(per.sum())
        pk, price = rng.integers(0, self.n_part, n_li), _cents(rng, 900, 105000, n_li)
        disc = rng.integers(0, 11, n_li) / 100.0
        dkeys = np.concatenate([np.repeat(okeys[: len(staged)], per), okeys[len(staged):]])
        ddays = np.concatenate([np.repeat(odays[: len(staged)], per), odays[len(staged):]])
        nulls = [None] * len(dele)
        denorm = pa.table({
            "o_orderkey": dkeys,
            "o_orderdate": _ts_us(ddays),
            "l_partkey": pa.array(list(pk) + nulls, pa.int64()),
            "l_extendedprice": pa.array(list(price) + nulls, pa.float64()),
            "l_discount": pa.array(list(disc) + nulls, pa.float64()),
        }, schema=DENORM_SCHEMA)
        return orders, denorm


def batch_name(k: int) -> str:
    """Staged file name of batch ``k``: lexicographic order is staging
    order, the contract of the denorm maintenance loop."""
    return f"hour-{k:06d}.parquet"


# ---------------------------------------------------------------------------
# llm_curation: the corpus
# ---------------------------------------------------------------------------


def write_corpus(dst: str, seed: int, n_docs: int = CORPUS_DOCS) -> list[tuple[int, int]]:
    """Write ``documents`` and ``embeddings`` for one seed and return the
    planted duplicate pairs ``(id_1, id_2)``, ``id_1 < id_2``, over the
    written doc ids. Originals are random texts; plants copy a distinct
    original of at least 60 tokens, exactly or with one token replaced,
    so every planted pair is far above any near-dup threshold and every
    unplanted pair far below it."""
    rng = np.random.default_rng([seed, 11])
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_orig = n_docs - n_exact - n_near
    texts = _texts(rng, n_orig)
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") + 1 >= 60]
    srcs = [int(i) for i in rng.choice(long_ids, size=n_exact + n_near, replace=False)]
    for j, s in enumerate(srcs):
        texts.append(texts[s] if j < n_exact else _perturb(rng, texts[s]))
    vecs = _unit_vectors(rng, n_orig)
    noise = rng.standard_normal((len(srcs), vecs.shape[1])).astype(np.float32) * 0.01
    vecs = np.concatenate([vecs, vecs[srcs] + noise])
    labels = rng.integers(0, 10, n_orig)
    labels = np.concatenate([labels, labels[srcs]])
    perm = rng.permutation(n_docs)  # perm[i] = doc id of generated row i
    order = np.argsort(perm)
    os.makedirs(dst, exist_ok=True)
    ids = np.arange(n_docs)
    _write(_documents_table(ids, [texts[int(i)] for i in order], rng), f"{dst}/documents.parquet")
    _write(_embeddings_table(ids, vecs[order], labels[order]), f"{dst}/embeddings.parquet")
    pairs = []
    for j, s in enumerate(srcs):
        a, b = int(perm[s]), int(perm[n_orig + j])
        pairs.append((min(a, b), max(a, b)))
    return sorted(pairs)
