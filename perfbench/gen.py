"""Seeded, single-process input generator for the ingest benchmark.

Everything the program under test sees is a file on disk: Farcaster-v3
window files named ``nindexer-{table}-{start}-{end}.{parquet|empty}``
(a full snapshot has start 0), written with pyarrow from the schemas in
``catalog.REFERENCE_TABLES_V3``, plus a small TPC-H-shaped corpus for the
``plans.queries`` members of the query mix.

The same seed gives the same inputs. The only input that is not a pure
function of the seed is the time base of the ``live`` workload, whose
windows must sit on the wall clock; its rows are generated relative to
that base, so their content and version order are still seeded.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA_NAME = "nindexer"
US = 1_000_000
# time base of the backfill/catchup inputs (a whole second, far from now:
# the benchmark passes ``now`` to run_catchup, so staleness never trips)
T0_BASE = 1_750_000_000

_WORDS = (
    "gm frame cast channel onchain mint base zora warp degen build ship "
    "meme art photo music dev rust spark lake data node hub fid follow "
    "reply quote like recast alpha beta launch vote drop club"
).split()


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions of one workload's inputs (fixed per
    workload and printed with its results)."""

    snapshot_rows: dict[str, int]
    n_windows: int  # incremental 1-second windows per table
    window_rows: int  # rows in a data window
    update_share: float  # window rows that update a stored PK
    delete_share: float  # ... that soft-delete a stored PK
    tie_share: float  # ... that update with version == stored (">=" wins)
    stale_share: float  # ... older than the stored version (rejected)
    empty_share: float  # windows published as .empty sentinels
    late_window: int | None  # index of the window that lands late
    malformed_json_share: float  # casts.embeds payloads that are not JSON
    repr_json_share: float  # casts.embeds payloads in Python-repr form
    zipf_a: float  # skew of fid / target_fid
    n_users: int

    def as_dict(self) -> dict:
        return asdict(self)


# ---------------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------------


def _arrow_type(dtype) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        return pa.list_(_arrow_type(dtype.elementType))
    return {
        T.BinaryType: pa.binary(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.FloatType: pa.float32(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
    }[type(dtype)]


def arrow_schema(table: str) -> pa.Schema:
    """The wire schema of a v3 table: the catalog's columns, with the uuid
    PK as parquet fixed_size_binary[16] like the real exporter writes."""
    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V3

    spec = REFERENCE_TABLES_V3[table]
    fields = []
    for f in spec.schema.fields:
        t = pa.binary(16) if f.name in spec.uuid_columns else _arrow_type(f.dataType)
        fields.append(pa.field(f.name, t))
    return pa.schema(fields)


# ---------------------------------------------------------------------------
# row content
# ---------------------------------------------------------------------------


def seeded_rng(seed: int, *parts: str) -> np.random.Generator:
    salt = zlib.crc32("/".join(parts).encode())
    return np.random.default_rng([seed, salt])


def _bytes(rng: np.random.Generator, n: int, width: int) -> list[bytes]:
    raw = rng.bytes(n * width)
    return [raw[i * width : (i + 1) * width] for i in range(n)]


def _zipf(rng: np.random.Generator, n: int, tr: Traffic) -> np.ndarray:
    return np.minimum(rng.zipf(tr.zipf_a, n), tr.n_users).astype(np.int64)


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, k = [], 0
    for ln in lens:
        out.append(" ".join(_WORDS[j] for j in idx[k : k + ln]))
        k += ln
    return out


def _nullable(rng: np.random.Generator, values: list, null_share: float) -> list:
    mask = rng.random(len(values)) < null_share
    return [None if m else v for v, m in zip(values, mask)]


def _embeds(rng: np.random.Generator, n: int, tr: Traffic) -> list[str | None]:
    """casts.embeds payloads: JSON arrays, Python-repr lists (the v2
    quirk the cleaner converts), truncated garbage (cleaned to NULL)."""
    kind = rng.random(n)
    k = rng.integers(0, 10_000, n)
    out: list[str | None] = []
    for x, i in zip(kind, k):
        url = f"https://i.example.com/{i}.png"
        if x < tr.malformed_json_share:
            out.append('[{"url": "' + url)
        elif x < tr.malformed_json_share + tr.repr_json_share:
            out.append(repr([{"url": url, "cast_id": None}]))
        elif x < 0.9:
            out.append(json.dumps([{"url": url}]))
        elif x < 0.95:
            out.append("[]")
        else:
            out.append(None)
    return out


def _fresh(table: str, n: int, rng: np.random.Generator, tr: Traffic) -> dict[str, list]:
    """Non-key column values for ``n`` new rows of ``table``."""
    ts = (T0_BASE - rng.integers(0, 30 * 86400, n)) * US
    if table == "casts":
        parent = rng.random(n) < 0.4
        n_m = rng.integers(0, 4, n)
        return {
            "fid": _zipf(rng, n, tr),
            "hash": _bytes(rng, n, 20),
            "parent_hash": [h if p else None for h, p in zip(_bytes(rng, n, 20), parent)],
            "parent_fid": [int(f) if p else None for f, p in zip(_zipf(rng, n, tr), parent)],
            "parent_url": _nullable(rng, [f"https://warpcast.com/~/channel/c{i}" for i in rng.integers(0, 50, n)], 0.8),
            "text": _words(rng, n, 3, 24),
            "embeds": _embeds(rng, n, tr),
            "mentions": [rng.integers(1, tr.n_users, m).tolist() for m in n_m],
            "mentions_positions": [rng.integers(0, 300, m).astype(np.int16).tolist() for m in n_m],
            "embedded_urls": [[f"https://x.example/{j}" for j in rng.integers(0, 500, m)] for m in rng.integers(0, 3, n)],
            "embedded_casts": [_bytes(rng, int(m), 20) for m in rng.integers(0, 2, n)],
            "timestamp": ts,
        }
    if table == "reactions":
        return {
            "fid": _zipf(rng, n, tr),
            "reaction_type": rng.choice(np.array([1, 2, 3], np.int16), n, p=[0.7, 0.25, 0.05]),
            "hash": _bytes(rng, n, 20),
            "target_hash": _bytes(rng, n, 20),
            "target_fid": _zipf(rng, n, tr),
            "target_url": _nullable(rng, [f"https://t.example/{i}" for i in rng.integers(0, 100, n)], 0.9),
            "timestamp": ts,
        }
    if table == "follows":
        return {
            "fid": _zipf(rng, n, tr),
            "target_fid": _zipf(rng, n, tr),
            "timestamp": ts,
            "display_timestamp": _nullable(rng, ts.tolist(), 0.5),
        }
    if table == "profiles":
        return {
            "fid": rng.integers(1, tr.n_users + 1, n),
            "username": [f"user{i}" for i in rng.integers(0, 10 * tr.n_users, n)],
            "display_name": _words(rng, n, 1, 3),
            "pfp_url": [f"https://p.example/{i}.jpg" for i in rng.integers(0, 10**6, n)],
            "bio": _words(rng, n, 0, 12),
            "url": _nullable(rng, [f"https://u.example/{i}" for i in rng.integers(0, 10**6, n)], 0.7),
            "location": _nullable(rng, _words(rng, n, 1, 2), 0.6),
            "latitude": rng.uniform(-90, 90, n).astype(np.float32),
            "longitude": rng.uniform(-180, 180, n).astype(np.float32),
        }
    if table == "verifications":
        return {
            "fid": _zipf(rng, n, tr),
            "address": _bytes(rng, n, 20),
            "protocol": rng.choice(np.array([0, 1], np.int16), n, p=[0.8, 0.2]),
            "timestamp": ts,
        }
    raise KeyError(table)


# columns an update rewrites (the rest of the stored row is kept)
MUTABLE = {
    "casts": ("text", "embeds", "embedded_urls"),
    "reactions": ("reaction_type", "target_url"),
    "follows": ("display_timestamp",),
    "profiles": ("username", "display_name", "bio", "location"),
    "verifications": ("protocol",),
}


def _table(table: str, cols: dict[str, object]) -> pa.Table:
    schema = arrow_schema(table)
    return pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema}, schema=schema)


def _new_rows(table: str, ids: list[bytes], versions: np.ndarray, rng, tr) -> pa.Table:
    cols = _fresh(table, len(ids), rng, tr)
    cols.update(id=ids, created_at=versions, updated_at=versions, deleted_at=[None] * len(ids))
    return _table(table, cols)


def _rewrite(table: str, stored: pa.Table, versions, deleted: bool, mutate: bool, rng, tr) -> pa.Table:
    """Stored rows re-issued with new versions: mutated content for an
    update, the stored content plus ``deleted_at`` for a soft delete."""
    n = stored.num_rows
    cols = {name: stored.column(name) for name in stored.column_names}
    if mutate:
        fresh = _fresh(table, n, rng, tr)
        for name in MUTABLE[table]:
            cols[name] = fresh[name]
    cols["updated_at"] = versions
    cols["deleted_at"] = versions if deleted else [None] * n
    return _table(table, cols)


@dataclass
class TableInputs:
    """One table's generated stream: the snapshot and its windows
    (``None`` = an .empty sentinel), window ``i`` covering
    ``[t0 + i, t0 + i + 1)``."""

    table: str
    t0: int
    snapshot: pa.Table
    windows: list[pa.Table | None]
    late_window: int | None


def table_inputs(table: str, tr: Traffic, seed: int, t0: int = T0_BASE) -> TableInputs:
    """Seeded snapshot + window stream for one table.

    Within the stream every stored PK is touched at most once, so no two
    rows of one import batch share a PK and a version: the only ties are
    window rows that tie with the stored snapshot row (``tie_share``),
    which the sink's ``>=`` guard resolves toward the window."""
    rng = seeded_rng(seed, table)
    n_snap = tr.snapshot_rows[table]
    snap_ids = _bytes(rng, n_snap, 16)
    # unique stored versions before t0: a random second plus a distinct
    # microsecond per row
    snap_v = t0 * US - 1 - (rng.integers(0, 30 * 86400, n_snap) * US + rng.permutation(n_snap))
    snapshot = _new_rows(table, snap_ids, snap_v, rng, tr)
    # a few snapshot rows are already soft-deleted
    deleted = rng.random(n_snap) < 0.03
    snapshot = snapshot.set_column(
        snapshot.schema.get_field_index("deleted_at"),
        "deleted_at",
        pa.array([int(v) if d else None for v, d in zip(snap_v, deleted)], pa.timestamp("us", tz="UTC")),
    )

    data = [i for i in range(tr.n_windows) if i == tr.late_window or rng.random() >= tr.empty_share]
    n_data = len(data)
    starts = (t0 + np.array(data, np.int64)) * US
    kinds = ("update", "delete", "tie", "stale")
    counts = dict(zip(kinds, np.floor(np.array(
        [tr.update_share, tr.delete_share, tr.tie_share, tr.stale_share]) * tr.window_rows).astype(int)))
    n_ins = tr.window_rows - sum(counts.values())
    if sum(counts.values()) * n_data > n_snap:
        raise ValueError(f"{table}: snapshot too small for {n_data} data windows")

    # every kind is generated for all windows at once, then sliced: a
    # window's rows are block w of each kind. Versions need only be
    # unique per PK, and every PK occurs once in the stream.
    def in_window(k: int) -> np.ndarray:
        return np.repeat(starts, k) + rng.integers(0, US, k * n_data)

    blocks = {"insert": (n_ins, _new_rows(table, _bytes(rng, n_ins * n_data, 16), in_window(n_ins), rng, tr))}
    order = rng.permutation(n_snap)  # stored PKs, each touched at most once
    cursor = 0
    for kind in kinds:
        k = int(counts[kind])
        if k == 0:
            continue
        stored = snapshot.take(order[cursor : cursor + k * n_data])
        cursor += k * n_data
        old = stored.column("updated_at").cast(pa.int64()).to_numpy()
        if kind == "tie":
            v = old
        elif kind == "stale":
            v = old - rng.integers(1, 3600 * US, k * n_data)
        else:
            v = in_window(k)
        blocks[kind] = (k, _rewrite(table, stored, v, kind == "delete", kind != "delete", rng, tr))

    windows: list[pa.Table | None] = [None] * tr.n_windows
    for w, i in enumerate(data):
        win = pa.concat_tables([tbl.slice(w * k, k) for k, tbl in blocks.values()])
        windows[i] = win.take(rng.permutation(win.num_rows))
    return TableInputs(table, t0, snapshot, windows, tr.late_window)


# ---------------------------------------------------------------------------
# files
# ---------------------------------------------------------------------------


def window_name(table: str, start: int, end: int, empty: bool = False) -> str:
    return f"{SCHEMA_NAME}-{table}-{start}-{end}.{'empty' if empty else 'parquet'}"


def snapshot_path(src: str, inp: TableInputs) -> str:
    return os.path.join(src, window_name(inp.table, 0, inp.t0))


def window_path(src: str, inp: TableInputs, i: int) -> str:
    start = inp.t0 + i
    return os.path.join(src, window_name(inp.table, start, start + 1, inp.windows[i] is None))


def publish(path: str, table: pa.Table | None) -> None:
    """Atomic publish (write + rename), like the exporter's S3 copy; an
    empty window is a zero-byte sentinel."""
    tmp = path + ".tmp"
    if table is None:
        open(tmp, "wb").close()
    else:
        pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_snapshot(src: str, inp: TableInputs) -> str:
    os.makedirs(src, exist_ok=True)
    path = snapshot_path(src, inp)
    publish(path, inp.snapshot)
    return path


def write_windows(src: str, inp: TableInputs, skip: set[int] = frozenset()) -> None:
    os.makedirs(src, exist_ok=True)
    for i, win in enumerate(inp.windows):
        if i not in skip:
            publish(window_path(src, inp, i), win)


def rows_in(inp: TableInputs, windows: range | None = None) -> int:
    idx = range(len(inp.windows)) if windows is None else windows
    return sum(inp.windows[i].num_rows for i in idx if inp.windows[i] is not None)


# ---------------------------------------------------------------------------
# TPC-H-shaped corpus for the plans.queries members of the query mix
# ---------------------------------------------------------------------------


def write_testdata(out_dir: str, seed: int, n_orders: int = 1500) -> None:
    """A small seeded corpus with the column layout ``catalog.load_table``
    and ``plans.queries`` expect (one parquet file per table)."""
    rng = seeded_rng(seed, "testdata")
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    day = 86400 * US
    epoch95 = 788_918_400 * US  # 1995-01-01

    def write(name: str, cols: dict, types: dict) -> None:
        tbl = pa.table({k: pa.array(v, types[k]) for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part, n_nat = 150, 10, 200, 25
    write("region", {"r_regionkey": list(range(5)), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          {"r_regionkey": pa.int32(), "r_name": pa.string()})
    write("nation", {"n_nationkey": list(range(n_nat)), "n_name": [f"NATION_{i}" for i in range(n_nat)],
                     "n_regionkey": [i % 5 for i in range(n_nat)]},
          {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
    write("customer", {"c_custkey": list(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, n_nat, n_cust), "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                       "c_mktsegment": rng.choice(segs, n_cust)},
          {"c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(), "c_acctbal": pa.float64(), "c_mktsegment": pa.string()})
    write("supplier", {"s_suppkey": list(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, n_nat, n_supp), "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)},
          {"s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(), "s_acctbal": pa.float64()})
    adj, noun = ["cold", "small", "large", "green", "shiny"], ["widget", "bolt", "gear", "nut"]
    write("part", {"p_partkey": list(range(n_part)),
                   "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
                   "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                   "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"], n_part),
                   "p_size": rng.integers(1, 51, n_part), "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)},
          {"p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(), "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64()})
    odate = epoch95 + rng.integers(0, 2404, n_orders) * day
    write("orders", {"o_orderkey": list(range(n_orders)), "o_custkey": rng.integers(0, n_cust, n_orders),
                     "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                     "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2), "o_orderdate": odate,
                     "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)},
          {"o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
           "o_orderdate": ts, "o_orderpriority": pa.string()})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {"l_orderkey": l_order, "l_partkey": rng.integers(0, n_part, n_li), "l_suppkey": rng.integers(0, n_supp, n_li),
                       "l_linenumber": l_num, "l_quantity": qty, "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                       "l_discount": rng.integers(0, 11, n_li) / 100, "l_tax": rng.integers(0, 9, n_li) / 100,
                       "l_returnflag": rng.choice(["A", "N", "R"], n_li), "l_linestatus": rng.choice(["O", "F"], n_li),
                       "l_shipdate": odate[l_order] + rng.integers(1, 500, n_li) * day},
          {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
           "l_quantity": pa.float64(), "l_extendedprice": pa.float64(), "l_discount": pa.float64(), "l_tax": pa.float64(),
           "l_returnflag": pa.string(), "l_linestatus": pa.string(), "l_shipdate": ts})
    n_ev = 1000
    ev_ts = np.sort(1_704_067_200 * US + rng.integers(0, 30 * day, n_ev))
    write("events", {"event_id": list(range(n_ev)), "ts": ev_ts, "user_id": rng.integers(0, 15, n_ev),
                     "event_type": rng.choice(["signup", "click", "error", "purchase", "view"], n_ev),
                     "value": np.round(rng.uniform(0, 200, n_ev), 2),
                     "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]},
          {"event_id": pa.int64(), "ts": ts, "user_id": pa.int64(), "event_type": pa.string(), "value": pa.float64(), "props": pa.string()})
    n_doc = 500
    texts = _words(rng, n_doc, 15, 80)
    for i in range(0, n_doc, 10):  # planted near-duplicates for the LSH family
        words = texts[i].split()
        words[len(words) // 2] = "dup"
        texts[i + 1] = " ".join(words)
    write("documents", {"doc_id": list(range(n_doc)), "text": texts,
                        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc), "source": [f"src{i % 20}" for i in range(n_doc)],
                        "n_chars": [len(t) for t in texts]},
          {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(), "source": pa.string(), "n_chars": pa.int64()})
    emb = rng.normal(size=(n_doc, 64)).astype(np.float32)
    write("embeddings", {"vec_id": list(range(n_doc)), "embedding": list(emb), "label": rng.integers(0, 10, n_doc)},
          {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()), "label": pa.int32()})
