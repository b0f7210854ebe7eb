"""Seeded input generators, independent of the program under test.

Everything here is built from ``--seed`` with numpy/struct/pyarrow only:
the pgoutput frames are packed from the PostgreSQL "Logical Replication
Message Formats" layout (protocol version 1) by this module's own
``struct`` code, never by the program's encoders, so a decoder change
cannot also move its own input. Each generator also returns the truth
the program's output is checked against.
"""

from __future__ import annotations

import datetime
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- pgoutput wire format ------------------------------------------------------

RELID = 16384
#: (name, type oid): bigint, text, float8, timestamp, bool, int4
COLUMNS = (("id", 20), ("name", 25), ("score", 701), ("updated_at", 1114),
           ("active", 16), ("qty", 23))
_EPOCH = datetime.datetime(2024, 1, 1)


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def relation_frame() -> bytes:
    """'R' Int32 relid, Cstr namespace, Cstr relname, Int8 replident,
    Int16 ncols, ncols x (Int8 flags, Cstr name, Int32 oid, Int32 typmod)."""
    out = [b"R", struct.pack(">i", RELID), _cstr("public"), _cstr("accounts"),
           b"d", struct.pack(">h", len(COLUMNS))]
    for name, oid in COLUMNS:
        out.append(struct.pack(">b", 1 if name == "id" else 0) + _cstr(name)
                   + struct.pack(">ii", oid, -1))
    return b"".join(out)


def _tuple(texts: list[str | None]) -> bytes:
    """TupleData: Int16 ncols, then 'n' (NULL) or 't' Int32 len + bytes."""
    out = [struct.pack(">h", len(texts))]
    for t in texts:
        if t is None:
            out.append(b"n")
        else:
            b = t.encode()
            out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def pg_text(row: tuple) -> list[str]:
    """A row in PostgreSQL's text output format (timestamps drop trailing
    fractional zeros, float8 prints the shortest round-trip digits)."""
    key, name, score, ts, active, qty = row
    t = ts.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
    return [str(key), name, repr(score), t, "t" if active else "f", str(qty)]


def insert_frame(row: tuple) -> bytes:
    return b"I" + struct.pack(">i", RELID) + b"N" + _tuple(pg_text(row))


def update_frame(row: tuple) -> bytes:
    return b"U" + struct.pack(">i", RELID) + b"N" + _tuple(pg_text(row))


def delete_frame(key: int) -> bytes:
    # REPLICA IDENTITY DEFAULT: the old image carries the key only
    return (b"D" + struct.pack(">i", RELID) + b"K"
            + _tuple([str(key)] + [None] * (len(COLUMNS) - 1)))


def begin_frame(final_lsn: int, xid: int) -> bytes:
    return b"B" + struct.pack(">qqi", final_lsn, 0, xid)


def commit_frame(lsn: int, end_lsn: int) -> bytes:
    return b"C" + struct.pack(">bqqq", 0, lsn, end_lsn, 0)


def malformed_frame(rng: np.random.Generator, good: bytes) -> bytes:
    """A frame no decoder can read as a change: an unknown message type,
    an empty payload, or a row message cut inside its fixed header."""
    kind = int(rng.integers(3))
    if kind == 0:
        return b"Z" + good[1:]
    if kind == 1:
        return b""
    return good[:int(rng.integers(1, 6))]


def _row(rng: np.random.Generator, key: int) -> tuple:
    name = "acct-" + format(int(rng.integers(1 << 40)), "x")
    score = round(float(rng.random()) * 1000.0, 3)
    ts = _EPOCH + datetime.timedelta(microseconds=int(rng.integers(0, 86_400_000_000 * 30)))
    return (key, name, score, ts, bool(rng.integers(2)), int(rng.integers(-1000, 1000)))


def pgoutput_feed(out_dir: str, seed: int, n_files: int, changes_per_file: int,
                  malformed_share: float = 0.005) -> dict:
    """Write ``n_files`` parquet files of ``(lsn long, payload binary)``
    frames: each file re-sends the Relation message, then transactions of
    1-16 I/U/D changes framed by Begin/Commit over a uniform key space as
    large as the change count, with ``malformed_share`` of the change
    slots replaced by malformed frames. Returns the last-writer-wins
    truth ``{key: row}`` and the frame counts."""
    rng = np.random.default_rng(seed)
    n_keys = n_files * changes_per_file
    truth: dict[int, tuple] = {}
    lsn, xid = 0x1000000, 1000
    counts = {"changes": 0, "malformed": 0, "frames": 0}
    schema = pa.schema([("lsn", pa.int64()), ("payload", pa.binary())])
    os.makedirs(out_dir, exist_ok=True)

    def emit(frames: list, lsns: list, payload: bytes) -> None:
        nonlocal lsn
        lsn += len(payload) + 24
        lsns.append(lsn)
        frames.append(payload)

    for f in range(n_files):
        frames: list[bytes] = []
        lsns: list[int] = []
        emit(frames, lsns, relation_frame())
        left = changes_per_file
        while left > 0:
            n = min(left, int(rng.integers(1, 17)))
            left -= n
            xid += 1
            emit(frames, lsns, begin_frame(lsn + 1, xid))
            for _ in range(n):
                key = int(rng.integers(n_keys))
                if key in truth and rng.random() < 0.2:
                    payload = delete_frame(key)
                    apply = None
                else:
                    row = _row(rng, key)
                    payload = (update_frame if key in truth else insert_frame)(row)
                    apply = row
                if rng.random() < malformed_share:
                    emit(frames, lsns, malformed_frame(rng, payload))
                    counts["malformed"] += 1
                    continue
                emit(frames, lsns, payload)
                counts["changes"] += 1
                if apply is None:
                    truth.pop(key)
                else:
                    truth[key] = apply
            emit(frames, lsns, commit_frame(lsn, lsn + 1))
        counts["frames"] += len(frames)
        table = pa.table([pa.array(lsns, pa.int64()), pa.array(frames, pa.binary())],
                         schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return {"truth": truth, **counts}


# --- lookup keys ------------------------------------------------------------------


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, a: float = 1.2) -> np.ndarray:
    """Zipf-skewed keys in ``[0, n_keys)``: rank ``r`` maps to a fixed
    pseudo-random key so the hot keys spread over the hash buckets."""
    ranks = rng.zipf(a, size=size * 2)
    ranks = ranks[ranks <= n_keys][:size]
    while len(ranks) < size:  # heavy tail overshoot: top up uniformly
        ranks = np.concatenate([ranks, rng.integers(1, n_keys + 1, size - len(ranks))])
    return ((ranks.astype(np.int64) - 1) * 2_654_435_761) % n_keys


# --- relational tables for query_mix ---------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_WORDS = ("a", "the", "of", "and", "to", "data", "table", "row", "scan", "join", "agg",
          "key", "value", "part", "hash", "merge", "sort", "window", "stream", "batch",
          "spark", "query", "filter", "group", "column", "line", "order", "customer",
          "fast", "slow", "big", "small", "vector", "index", "page", "log", "commit")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _ts(base: str, days: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """TPC-H-shaped star schema plus ``events``/``documents``/
    ``embeddings`` in the column layout the query registry reads
    (``scale=1`` is 60k lineitem rows). Returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ("small", "red", "blue", "hot", "cold", "green", "big", "old")
    noun = ("ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"))[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 4 * 365 + 200, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 1100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 7 * 365, n_li)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 2 * 60_000_000, n_ev).cumsum()
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + gaps.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(20, 80, n_doc)]
    for i in range(0, n_doc, 25):  # a few exact duplicates for the dedup queries
        texts[i] = texts[(i * 7 + 3) % n_doc]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(("en", "de", "es", "fr", "zh"))[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
