"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run is made here, before any
timing starts, from the workload seed alone: the star-schema fixture tables,
the nightly ETL snapshots and the streaming micro-batches. The same seed gives
the same bytes. The tables follow the schema and value domains of the
project's parquet fixtures (see FIXTURES.md), so every registered query and
its DuckDB oracle run on them unchanged.

Input sizes that set how much work an operation does are fixed, not drawn:
changed customers per night (and the dimension bands they fall in), new
events per night, rows per micro-batch and the late share. The seed chooses
which keys, values and timestamps, so that two seeds time the same amount
of work on different data.

Numpy's PCG64 stream seeded with the workload seed drives every draw; no
global random state is touched.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _ts(base: dt.date, offsets_us: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base.isoformat(), "us")
    return pa.array(epoch + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, options: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def _write(path: str, table: pa.Table) -> None:
    # one row group: the file layout depends on the values alone
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale factor `sf` (sf0.01 = 60k
    lineitem rows) into `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    def write(name: str, cols: dict) -> None:
        _write(os.path.join(out_dir, f"{name}.parquet"), pa.table(cols))

    write("region", {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(_REGIONS)})
    write("nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    write("customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": i64(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    write("orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    write("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, 2499, n_li) * _DAY_US),
    })
    write("events", _events(rng, 0, n_ev, dt.date(2024, 1, 1), 30,
                            max(15, int(15_000 * sf))))
    docs = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # planted near-duplicate
            docs.append(docs[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            docs.append(" ".join(_WORDS[w] for w in words))
    write("documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(docs),
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in docs]),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    write("embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })


def _events(rng, first_id: int, n: int, start: dt.date, days: int, n_users: int) -> dict:
    offs = np.sort(rng.integers(0, days * _DAY_US, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(start, offs),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


# ------------------------------------------------------------ dimension bands

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark's `xxhash64` of one BIGINT (XXH64 of its 8 bytes, Spark's
    default seed 42), as an unsigned 64-bit integer."""
    h = (seed + _P5 + 8) & _M64
    k = (_rotl((value & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


# the warehouse dimension's band count (pipeline._N_DIM_BANDS)
N_BANDS = 16


def dim_band(custkey: int) -> int:
    """The band `pipeline.run_etl` files a customer key under:
    pmod(xxhash64(key), 16), which for a power of two is the low bits."""
    return xxhash64_long(custkey) % N_BANDS


# ------------------------------------------------------------------- nights

# A few-change night changes 3 customers in 3 distinct bands; a many-change
# night changes 6 customers in each of the 16 bands. The two kinds rewrite
# different shares of the dimension, so each is timed and summarised on its
# own.
NIGHT_KINDS = {"night_few": (3, 1), "night_many": (N_BANDS, 6)}
NEW_EVENTS_PER_NIGHT = 1000


def _changed_keys(rng, bands: np.ndarray, n_bands: int, per_band: int) -> list[int]:
    chosen = rng.choice(N_BANDS, n_bands, replace=False)
    keys = []
    for b in sorted(chosen):
        pool = np.flatnonzero(bands == b)
        keys.extend(int(k) for k in rng.choice(pool, per_band, replace=False))
    return sorted(keys)


def make_nights(base_dir: str, out_root: str, seed: int, kinds: list[str]) -> list[dict]:
    """Write one nightly source snapshot per entry of `kinds`, to be loaded
    in order into one target whose full load read `base_dir`. Each night is
    a dir of symlinks to `base_dir` except `customer.parquet` (the
    customers of the night's kind get a new account balance; changes
    accumulate over the nights) and `events.parquet` (the previous night's
    events plus NEW_EVENTS_PER_NIGHT stamped after everything loaded so
    far). Returns one descriptor per night."""
    rng = np.random.default_rng([seed, 2])
    cust = pq.read_table(os.path.join(base_dir, "customer.parquet"))
    events = pq.read_table(os.path.join(base_dir, "events.parquet"))
    n_users = int(pc.max(events.column("user_id")).as_py()) + 1
    next_id = int(pc.max(events.column("event_id")).as_py()) + 1
    bal = cust.column("c_acctbal").to_numpy().copy()
    bands = np.array([dim_band(int(k)) for k in cust.column("c_custkey").to_pylist()])
    nights = []
    for k, kind in enumerate(kinds):
        keys = _changed_keys(rng, bands, *NIGHT_KINDS[kind])
        bal[keys] = np.round(bal[keys] + rng.uniform(1.0, 500.0, len(keys)), 2)
        day = dt.date(2024, 1, 31) + dt.timedelta(days=k)
        new = pa.table(_events(rng, next_id, NEW_EVENTS_PER_NIGHT, day, 1, n_users))
        events = pa.concat_tables([events, new.cast(events.schema)])
        next_id += NEW_EVENTS_PER_NIGHT
        d = os.path.join(out_root, f"night{k:03d}")
        os.makedirs(d, exist_ok=True)
        for t in TABLES:
            if t not in ("customer", "events"):
                os.symlink(os.path.join(os.path.abspath(base_dir), f"{t}.parquet"),
                           os.path.join(d, f"{t}.parquet"))
        _write(os.path.join(d, "customer.parquet"),
               cust.set_column(3, "c_acctbal", pa.array(bal)))
        _write(os.path.join(d, "events.parquet"), events)
        nights.append({"dir": d, "kind": kind, "changed_keys": keys,
                       "events_total": events.num_rows})
    return nights


# ------------------------------------------------------------ micro-batches

ROWS_PER_BATCH = 500
# share of a late batch's rows stamped one to three days before the day of
# the batch before it; the rest fall on the batch's own day
LATE_ROW_SHARE = 0.1
STREAM_USERS = 200


def make_batches(seed: int, kinds: list[str]) -> list[list[tuple]]:
    """One micro-batch of ROWS_PER_BATCH events per entry of `kinds`, one
    event-time day per batch, in the shape of the streaming soak's traffic:
    (user, ts) pairs collide through a coarse hour/half-hour grid and rows
    are shuffled within each batch. A `batch_in_order` batch holds only its
    own day, after every day folded before it; a `batch_late` batch also
    carries LATE_ROW_SHARE of its rows from earlier days, so the sink takes
    its late-data (reconcile) path."""
    rng = np.random.default_rng([seed, 3])
    eid, batches = 0, []
    n_late = int(ROWS_PER_BATCH * LATE_ROW_SHARE)
    for k, kind in enumerate(kinds):
        head_day = 4 + k
        days = np.full(ROWS_PER_BATCH, head_day)
        if kind == "batch_late":
            days[:n_late] = head_day - 1 - rng.integers(1, 4, n_late)
        hours = rng.integers(0, 6, ROWS_PER_BATCH)
        halves = rng.integers(0, 2, ROWS_PER_BATCH) * 30
        users = rng.integers(1, STREAM_USERS + 1, ROWS_PER_BATCH)
        etypes = rng.choice(list("abcd"), ROWS_PER_BATCH)
        values = rng.choice([1.0, 2.0, 3.5], ROWS_PER_BATCH)
        rows = [(eid + j,
                 dt.datetime(2024, 1, 1) + dt.timedelta(days=int(days[j]) - 1, hours=int(hours[j]),
                                                        minutes=int(halves[j])),
                 int(users[j]), str(etypes[j]), float(values[j]))
                for j in range(ROWS_PER_BATCH)]
        eid += ROWS_PER_BATCH
        batches.append([rows[j] for j in rng.permutation(ROWS_PER_BATCH)])
    return batches


def write_batches(out_dir: str, seed: int, kinds: list[str]) -> list[dict]:
    """Write make_batches' micro-batches as one parquet file each, with `ts`
    as a UTC instant (Spark reads it as TIMESTAMP). Returns one descriptor
    per batch: its path, kind, rows, and whether it is late, i.e. holds a
    day older than the newest day of the batches before it."""
    os.makedirs(out_dir, exist_ok=True)
    out, head = [], None
    for i, (kind, rows) in enumerate(zip(kinds, make_batches(seed, kinds))):
        cols = list(zip(*rows))
        table = pa.table({
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
        })
        path = os.path.join(out_dir, f"batch{i:04d}.parquet")
        _write(path, table)
        days = [t.date() for t in cols[1]]
        out.append({"path": path, "kind": kind, "rows": len(rows),
                    "late": head is not None and min(days) < head})
        head = max(days) if head is None else max(head, max(days))
    return out


def etl_schedule(pairs: int) -> tuple[list[str], list[str]]:
    """Night and batch kinds of an etl_write run: batch 0 seeds the empty
    stream dimension (set-up); then `pairs` passes of one few-change and one
    many-change night, and one in-order and one late batch."""
    nights = ["night_few", "night_many"] * pairs
    batches = ["batch_in_order"] + ["batch_in_order", "batch_late"] * pairs
    return nights, batches


def make_etl_inputs(d: str, seed: int, sf: float, pairs: int) -> dict:
    """Tables in d/base, nights in d/nights, batches in d/batches; returns
    their descriptors."""
    base = os.path.join(d, "base")
    make_tables(base, seed, sf)
    night_kinds, batch_kinds = etl_schedule(pairs)
    return {"base": base,
            "nights": make_nights(base, os.path.join(d, "nights"), seed, night_kinds),
            "batches": write_batches(os.path.join(d, "batches"), seed, batch_kinds)}
