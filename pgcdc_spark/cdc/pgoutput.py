"""pgoutput BINARY protocol decode — the R1 wire format itself.

The reference never touches these bytes: it delegates decode to the
pg-logical-replication npm package and consumes its JS objects
(src/database/postgresql/PostgresLogicalPg.ts:21, plugin selection
src/config/config.ts:21-24). This module implements the documented
logical-replication message layout (PostgreSQL docs, "Logical
Replication Message Formats", protocol version 1) so a Spark pipeline
can ingest raw XLogData payloads from a replication slot without a
decode sidecar:

  'B' Begin     Int64 final_lsn, Int64 commit_ts, Int32 xid
  'C' Commit    Int8 flags, Int64 lsn, Int64 end_lsn, Int64 commit_ts
  'R' Relation  Int32 relid, Cstr namespace, Cstr relname,
                Int8 replident, Int16 ncols,
                ncols x (Int8 flags, Cstr name, Int32 typoid, Int32 typmod)
  'I' Insert    Int32 relid, 'N', TupleData
  'U' Update    Int32 relid, ['K'|'O', TupleData]?, 'N', TupleData
  'D' Delete    Int32 relid, 'K'|'O', TupleData
  TupleData     Int16 ncols, ncols x ('n' | 'u' | 't' Int32 len, bytes)
                ('n' = SQL NULL; 'u' = unchanged TOAST — the value was
                 NOT re-sent and must be carried forward, see
                 track_unchanged + upsert.toast_state)

Beyond the v1 row surface this module also implements: protocol v2
streamed transactions (S/E/c/A + xid-prefixed rows — see the v2 section),
protocol v3 two-phase commit (b/P/K/r/p — the 2PC section), logical
decoding messages ('M' prefix+content, decode_logical_messages),
replication-origin loop filtering ('O', filter_foreign_origins),
TRUNCATE ('T'), and the bronze/silver multi-table split
(decode_pgoutput_generic / route_table).

Execution model (the two WAL-decode phases, made Spark-shaped):

1. ``discover_relations`` — relation ('R') messages are per-TABLE
   metadata, O(#tables) not O(wal): filter on the first payload byte
   (a pushdown-friendly binary substring compare) and decode the
   handful of survivors driver-side. Same sanctioned-metadata class as
   schema-evolution's column discovery.
2. ``decode_pgoutput`` — the corpus-sized pass, in two halves:
   a. ``_decode_kernel``, the ONE Python row-decode loop of the module
      (every row decoder — v1, v2, 2PC, bronze — runs it): Arrow-batched
      ``mapInPandas`` parsing each payload independently (no cross-row
      state, so any partitioning works) into the schema-agnostic wire
      frame (relid, tag, vals, kinds, old_vals, old_kinds) — tuple
      values stay wire TEXT. Truncated/unknown messages become
      tag='_corrupt' rows with null images instead of failing the batch
      (dead-letter discipline, like multimodal quarantine).
   b. ``_typed_envelope`` — JVM projections over that frame build the
      SAME envelope as the JSON adapters (lsn, tag, new, old), so
      filter_control_messages / extract_images / latest_state run
      UNCHANGED downstream. Typing is ``_typed_image``: one
      try_element_at + try_cast per schema field, inside codegen
      (checked: a malformed or out-of-range value becomes NULL, never a
      corrupt row or a failed batch — the engine-wide fix for the
      reference's unchecked cast, src/mapping/customMapper.ts:22).

``encode_*`` builders produce byte-exact fixture messages for tests and
the driver-gated query (real deployments get bytes from the slot); the
layout itself is additionally pinned by HAND-WRITTEN literal bytes in
tests/test_cdc.py, so encoder and decoder cannot drift together.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- encode (fixture/demo side) ----------------------------------------------


class _UnchangedToast:
    """Singleton marking a TOASTed column the wire did NOT re-send
    (pgoutput TupleData kind 'u'). Distinct from None (SQL NULL, kind
    'n') — the whole point of TOAST handling is that these two must
    never be conflated: 'u' means "keep the stored value", 'n' means
    "the value IS null".

    Checks use ``isinstance``, never ``is``: closures shipped to Spark
    workers are cloudpickled, and an unpickled copy of the sentinel is
    a DIFFERENT object from the one the worker's own module import
    holds — an identity check would silently miss every marker.
    ``__new__``/``__reduce__`` additionally collapse copies back to the
    module singleton so ``is`` still works where it happens to be used.
    """

    __slots__ = ()
    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __reduce__(self):
        return (_UnchangedToast, ())

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "UNCHANGED_TOAST"


UNCHANGED_TOAST = _UnchangedToast()


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _tuple_data(values: list[object]) -> bytes:
    out = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        elif isinstance(v, _UnchangedToast):
            out.append(b"u")
        else:
            t = str(v).encode()
            out.append(b"t" + struct.pack(">i", len(t)) + t)
    return b"".join(out)


def encode_relation(relid: int, namespace: str, relname: str,
                    col_names: list[str], replident: str = "d",
                    typoids: list[int] | None = None,
                    key_cols: list[str] | None = None) -> bytes:
    """``typoids`` default to 25 (text); ``key_cols`` sets the
    per-column key-flag bit (REPLICA IDENTITY membership) for exactly
    the named columns — omitted, every column stays flagged (the
    historic byte layout the golden literals pin). Both feed
    decode_relation_schema/infer_row_schema."""
    body = [b"R", struct.pack(">i", relid), _cstr(namespace), _cstr(relname),
            replident.encode(), struct.pack(">h", len(col_names))]
    oids = typoids if typoids is not None else [25] * len(col_names)
    keys = None if key_cols is None else set(key_cols)
    for name, oid in zip(col_names, oids):
        flag = 1 if (keys is None or name in keys) else 0
        body.append(struct.pack(">b", flag) + _cstr(name)
                    + struct.pack(">i", oid) + struct.pack(">i", -1))
    return b"".join(body)


def encode_insert(relid: int, values: list[object]) -> bytes:
    return b"I" + struct.pack(">i", relid) + b"N" + _tuple_data(values)


def encode_update(relid: int, new_values: list[object],
                  old_values: list[object] | None = None,
                  old_kind: bytes = b"O") -> bytes:
    out = [b"U", struct.pack(">i", relid)]
    if old_values is not None:
        out.append(old_kind + _tuple_data(old_values))
    out.append(b"N" + _tuple_data(new_values))
    return b"".join(out)


def encode_delete(relid: int, old_values: list[object],
                  old_kind: bytes = b"O") -> bytes:
    return b"D" + struct.pack(">i", relid) + old_kind + _tuple_data(old_values)


def encode_begin(final_lsn: int, commit_ts: int, xid: int) -> bytes:
    return b"B" + struct.pack(">qqi", final_lsn, commit_ts, xid)


def encode_commit(lsn: int, end_lsn: int, commit_ts: int) -> bytes:
    return b"C" + struct.pack(">bqqq", 0, lsn, end_lsn, commit_ts)


def encode_truncate(relids: list[int], options: int = 0) -> bytes:
    """'T' Int32 nrels, Int8 options (1=CASCADE, 2=RESTART IDENTITY),
    nrels x Int32 relid."""
    return (b"T" + struct.pack(">ib", len(relids), options)
            + b"".join(struct.pack(">i", r) for r in relids))


# --- decode ------------------------------------------------------------------


def _read_tuple(buf: bytes, pos: int) -> tuple[list[object], int]:
    # values are str (kind 't'), None (kind 'n'), or UNCHANGED_TOAST ('u')
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    vals: list[str | None] = []
    for _ in range(ncols):
        kind = buf[pos:pos + 1]
        pos += 1
        if kind == b"n":
            vals.append(None)
        elif kind == b"u":
            vals.append(UNCHANGED_TOAST)
        elif kind == b"t":
            (ln,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("text value length past the end of the message")
            vals.append(buf[pos:pos + ln].decode())
            pos += ln
        else:
            raise ValueError(f"unknown tuple column kind {kind!r}")
    return vals, pos


def decode_relation_message(buf: bytes) -> tuple[int, list[str]]:
    """(relid, column names) from one 'R' payload."""
    if buf[:1] != b"R":
        raise ValueError("not a relation message")
    (relid,) = struct.unpack_from(">i", buf, 1)
    pos = 5
    for _ in range(2):  # namespace, relname (both C-strings)
        pos = buf.index(b"\x00", pos) + 1
    pos += 1  # replident
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    names = []
    for _ in range(ncols):
        pos += 1  # flags
        end = buf.index(b"\x00", pos)
        names.append(buf[pos:end].decode())
        pos = end + 1 + 8  # typoid + typmod
    return relid, names


def _collect_relation_payloads(
    messages: DataFrame, payload_col: str, lsn_col: str,
) -> list[tuple[int | None, bytes]]:
    """Shared 'R'-payload collector for EVERY discovery pass (v1
    discover_relations / discover_relation_schemas AND the v2 decoder's
    auto-discovery — one home for the invariant, r11 review).

    pgoutput re-sends Relation messages after relcache invalidations, so
    a long capture window carries the same 'R' image many times. Dedupe
    identical payloads EXECUTOR-side (groupBy payload, keep the latest
    lsn) so each distinct image ships to the driver once, not once per
    re-send, and return (lsn, payload) lsn-ascending so the LAST image
    per relid wins (a schema change mid-window re-sends 'R' with new
    column names). Frames without an lsn column fall back to a plain
    distinct (dedup without the ordering guarantee; lsn is None)."""
    r_msgs = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'52'"))
    if lsn_col in messages.columns:
        rows = (
            r_msgs.groupBy(payload_col)
            .agg(F.max(lsn_col).alias(lsn_col))
            .collect()
        )
        rows.sort(key=lambda r: r[lsn_col])
        return [(int(r[lsn_col]), bytes(r[payload_col])) for r in rows]
    rows = r_msgs.select(payload_col).distinct().collect()
    return [(None, bytes(r[payload_col])) for r in rows]


def discover_relations(messages: DataFrame,
                       payload_col: str = "payload",
                       lsn_col: str = "lsn") -> dict[int, list[str]]:
    """Phase 1: the bounded metadata pass. Filters to 'R' payloads by
    first byte (binary substring compare — evaluated in the scan),
    dedupes re-sent images executor-side, and decodes the O(#tables)
    distinct survivors on the driver (lsn-ascending, last image wins)."""
    out: dict[int, list[str]] = {}
    for _, buf in _collect_relation_payloads(messages, payload_col, lsn_col):
        relid, names = decode_relation_message(buf)
        out[relid] = names
    return out


def _parse_change(buf: bytes, image, known_relids=None) -> tuple:
    """Parse ONE payload into (tag, new, old, unchanged) — the
    per-message core of _decode_kernel. ``image(relid, vals)``
    returns (row dict | None, unchanged column names). Any malformed
    message becomes ('_corrupt', None, None, None): dead-letter, never a
    failed batch."""
    try:
        kind = buf[:1]
        if kind == b"B":
            return ("begin", None, None, None)
        if kind == b"C":
            return ("commit", None, None, None)
        if kind == b"R":
            return ("relation", None, None, None)
        if kind == b"I":
            (relid,) = struct.unpack_from(">i", buf, 1)
            if buf[5:6] != b"N":
                raise ValueError("insert without new tuple")
            vals, _ = _read_tuple(buf, 6)
            img, unch = image(relid, vals)
            return ("insert", img, None, unch)
        if kind == b"U":
            (relid,) = struct.unpack_from(">i", buf, 1)
            pos, old = 5, None
            if buf[pos:pos + 1] in (b"K", b"O"):
                ovals, pos = _read_tuple(buf, pos + 1)
                old = image(relid, ovals)[0]
            if buf[pos:pos + 1] != b"N":
                raise ValueError("update without new tuple")
            vals, _ = _read_tuple(buf, pos + 1)
            img, unch = image(relid, vals)
            return ("update", img, old, unch)
        if kind == b"D":
            (relid,) = struct.unpack_from(">i", buf, 1)
            if buf[5:6] not in (b"K", b"O"):
                raise ValueError("delete without old tuple")
            ovals, _ = _read_tuple(buf, 6)
            return ("delete", None, image(relid, ovals)[0], None)
        if kind == b"M":
            # The Int8 flags byte (1 = transactional) is load-bearing:
            # lsns are WAL positions, so a NON-transactional message
            # emitted while a prepared transaction is in flight can
            # carry an lsn numerically inside that [begin_prepare,
            # prepare) span even though PostgreSQL delivers it
            # immediately and unconditionally. Splitting the tag lets
            # overlay_prepared_spans stamp only the transactional kind.
            flags = buf[1] if len(buf) > 1 else 0
            return ("message" if flags == 1 else "message_nontxn",
                    None, None, None)
        if kind == b"O":
            return ("origin", None, None, None)    # replication origin
        if kind == b"Y":
            return ("type", None, None, None)      # custom type metadata
        if kind == b"b":
            return ("begin_prepare", None, None, None)      # 2PC block open
        if kind == b"P":
            return ("prepare", None, None, None)            # 2PC block close
        if kind == b"K":
            return ("commit_prepared", None, None, None)    # 2PC verdict
        if kind == b"r":
            return ("rollback_prepared", None, None, None)  # 2PC verdict
        if kind == b"p":
            return ("stream_prepare", None, None, None)     # streamed 2PC
        if kind == b"T":
            (nrels,) = struct.unpack_from(">i", buf, 1)
            if not 0 <= nrels <= 10_000:
                raise ValueError("implausible truncate relation count")
            relids = [struct.unpack_from(">i", buf, 6 + 4 * i)[0]
                      for i in range(nrels)]
            # a TRUNCATE names every affected relation; only one that hits
            # THIS decoder's table wipes this stream — truncates of other
            # tables pass through as inert control rows
            if known_relids is not None and not any(
                r in known_relids for r in relids
            ):
                return ("truncate_other", None, None, None)
            return ("truncate", None, None, None)
        return ("_corrupt", None, None, None)
    except (ValueError, struct.error, IndexError):
        return ("_corrupt", None, None, None)


#: the wire frame _decode_kernel appends to the columns it carries
_WIRE_FIELDS = [
    StructField("relid", LongType()),
    StructField("tag", StringType()),
    StructField("vals", ArrayType(StringType())),
    StructField("kinds", ArrayType(StringType())),
    StructField("old_vals", ArrayType(StringType())),
    StructField("old_kinds", ArrayType(StringType())),
]


def _split_kinds(vals: list[object] | None) -> tuple[list | None, list | None]:
    """Wire tuple -> (text values, 't'/'n'/'u' kinds); 'n' and 'u' both
    carry a NULL value, so only the kind tells SQL NULL from TOAST."""
    if vals is None:
        return None, None
    out_v, out_k = [], []
    for v in vals:
        if isinstance(v, _UnchangedToast):
            out_v.append(None)
            out_k.append("u")
        elif v is None:
            out_v.append(None)
            out_k.append("n")
        else:
            out_v.append(v)
            out_k.append("t")
    return out_v, out_k


def _decode_kernel(frame: DataFrame, relations: dict[int, list[str]],
                   payload_col: str) -> DataFrame:
    """The module's one Python row-decode loop. Every column of ``frame``
    except ``payload_col`` rides through unchanged; each payload adds
    (relid, tag, vals, kinds, old_vals, old_kinds) — values as wire
    text in wire order, NULL images for unknown relids, '_corrupt' for
    anything malformed. Typing happens JVM-side (``_typed_envelope``)."""
    carried = [f for f in frame.schema.fields if f.name != payload_col]
    out_schema = StructType(carried + _WIRE_FIELDS)
    known = frozenset(relations)

    def raw_image(rid, vals):
        return (vals if rid in known else None), []

    def decode(batches) -> Iterator:
        import pandas as pd

        names = [f.name for f in carried]
        wire = [f.name for f in _WIRE_FIELDS]
        for pdf in batches:
            rows: list[tuple] = []
            for payload in pdf[payload_col]:
                buf = b"" if payload is None else bytes(payload)
                relid = None
                if buf[:1] in (b"I", b"U", b"D") and len(buf) >= 5:
                    (relid,) = struct.unpack_from(">i", buf, 1)
                tag, new, old, _ = _parse_change(buf, raw_image, known)
                rows.append((relid, tag, *_split_kinds(new), *_split_kinds(old)))
            yield pd.concat(
                [pdf[names].reset_index(drop=True),
                 pd.DataFrame(rows, columns=wire)], axis=1)

    return frame.mapInPandas(decode, schema=out_schema)


def _wire_frame(messages: DataFrame, relations: dict[int, list[str]] | None,
                lsn_col: str, payload_col: str,
                ) -> tuple[DataFrame, dict[int, list[str]]]:
    """(lsn long + the kernel's wire frame, relations) for a plain v1
    capture, discovering ``relations`` when the caller passes none."""
    if relations is None:
        relations = discover_relations(messages, payload_col, lsn_col)
    frame = messages.select(F.col(lsn_col).cast("long").alias("lsn"),
                            F.col(payload_col))
    return _decode_kernel(frame, relations, payload_col), relations


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _text_as(text: str, dt) -> str:
    """Checked text -> ``dt`` cast, as SQL over the text expression
    ``text``. bytea's text form is '\\x' + hex (odd-length or non-hex
    digits read NULL); everything else is try_cast, the engine-wide
    rule."""
    if isinstance(dt, BinaryType):
        return (f"CASE WHEN startswith({text}, '\\\\x') THEN"
                f" IF(length({text}) % 2 = 0,"
                f" try_to_binary(substr({text}, 3), 'hex'), NULL)"
                f" ELSE CAST({text} AS BINARY) END")
    return f"try_cast({text} AS {dt.simpleString()})"


def _typed_image(vals: str, kinds: str, relid: str,
                 relations: dict[int, list[str]],
                 row_schema: StructType) -> tuple[F.Column, F.Column]:
    """The one typing rule of every pgoutput decoder: (typed image,
    unchanged-TOAST names) for the wire tuple in columns ``vals`` /
    ``kinds``. Each schema field reads
    ``try_element_at(vals, CASE relid WHEN r THEN i ... END)`` — NULL
    when the row's relation lacks the column (additive evolution) — then
    ``_text_as``. Both are NULL where ``kinds`` is (unknown relid, no
    tuple on the wire). The kernel leaves ``vals`` NULL for relids
    outside ``relations`` (route_table filters to its one relid), so a
    field every relation places at the same position needs no CASE.
    Built as SQL text: one parse instead of hundreds of py4j calls per
    image."""
    fields, unchanged = [], []
    for f in row_schema.fields:
        pos = {r: names.index(f.name) + 1  # element_at is 1-based
               for r, names in relations.items() if f.name in names}
        if not pos:
            fields += [_sql_str(f.name),
                       f"CAST(NULL AS {f.dataType.simpleString()})"]
            continue
        if len(pos) == len(relations) and len(set(pos.values())) == 1:
            at = str(next(iter(pos.values())))
        else:
            at = (f"CASE {relid} "
                  + " ".join(f"WHEN {r} THEN {i}" for r, i in pos.items())
                  + " END")
        fields += [_sql_str(f.name),
                   _text_as(f"try_element_at({vals}, {at})", f.dataType)]
        unchanged.append(f"IF(try_element_at({kinds}, {at}) = 'u',"
                         f" {_sql_str(f.name)}, NULL)")
    names = (f"filter(array({', '.join(unchanged)}), n -> n IS NOT NULL)"
             if unchanged else "CAST(array() AS ARRAY<STRING>)")
    has = f"{kinds} IS NOT NULL"
    return (F.expr(f"IF({has}, named_struct({', '.join(fields)}), NULL)"),
            F.expr(f"IF({has}, {names}, NULL)"))


def _typed_envelope(wire: DataFrame, relations: dict[int, list[str]],
                    row_schema: StructType, track_unchanged: bool,
                    *lead) -> DataFrame:
    """``lead`` columns + (new, old [, unchanged]) typed from the
    kernel's wire frame — the JVM half shared by every row decoder."""
    new, unchanged = _typed_image("vals", "kinds", "relid", relations,
                                  row_schema)
    old, _ = _typed_image("old_vals", "old_kinds", "relid", relations,
                          row_schema)
    cols = [*lead, new.alias("new"), old.alias("old")]
    if track_unchanged:
        cols.append(unchanged.alias("unchanged"))
    return wire.select(*cols)


def _hex_lsn() -> F.Column:
    # zero-padded so STRING order == WAL order (the envelope convention
    # cdc_evolving_state also relies on)
    return F.format_string("0/%016X", F.col("lsn")).alias("lsn")


def decode_pgoutput(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    track_unchanged: bool = False,
) -> DataFrame:
    """Phase 2: decode every message into the standard envelope frame
    (lsn string, tag, new, old) + control/_corrupt rows. ``relations``
    maps relid -> wire column order (from ``discover_relations``);
    columns absent from ``row_schema`` are dropped, schema columns
    absent from the wire read NULL (additive-evolution friendly).

    ``track_unchanged=True`` adds an ``unchanged array<string>`` column
    naming the new-image schema columns the wire marked as
    unchanged-TOAST (TupleData kind 'u' — Postgres does NOT re-send a
    TOASTed value an UPDATE didn't touch). Their ``new.<col>`` reads
    NULL (the wire carries no value), so a consumer that upserts the
    raw image would overwrite stored values with NULL — the classic
    TOAST data-loss bug. upsert.toast_state consumes this column to
    carry the stored value forward instead. Off by default: the extra
    column changes the envelope schema, and non-TOAST pipelines keep
    the historical frame."""
    wire, relations = _wire_frame(messages, relations, lsn_col, payload_col)
    return _typed_envelope(wire, relations, row_schema, track_unchanged,
                           _hex_lsn(), "tag")


# --- protocol v2: streamed in-progress transactions ---------------------------
# PostgreSQL 14+ ("streaming" on the replication slot) ships LARGE
# transactions before commit, framed as interleavable segments:
#
#   'S' StreamStart   Int32 xid, Int8 first_segment
#   'E' StreamStop    (empty)
#   'c' StreamCommit  Int32 xid, Int8 flags, Int64 lsn, Int64 end_lsn,
#                     Int64 commit_ts
#   'A' StreamAbort   Int32 xid, Int32 sub_xid
#
# and every row message INSIDE a segment carries an Int32 xid right
# after its type byte. Semantics the consumer must implement: buffer
# streamed changes per xid, APPLY them only at StreamCommit (in commit
# order, which can differ from wire order), DISCARD them on StreamAbort.
#
# Spark-shaped decomposition (no per-row driver state, no sequential
# consumer):
#   1. stream_segments  — the S/E control rows are O(#segments), filtered
#      by first byte in the scan; pairing is ONE window over that tiny
#      relation (the protocol guarantees segments never nest on the wire,
#      so S/E strictly alternate in lsn order).
#   2. membership        — "is this lsn inside a segment?" is an interval
#      join: the engine's own binned_range_join (equi-join on lsn bins,
#      never a nested loop), left-outer so non-streamed traffic passes
#      through.
#   3. decode            — the same decode kernel as v1 between two JVM
#      projections: before it, the 4 xid bytes are stripped when (and
#      only when) the row is inside a segment; after it, S/E/c/A rows get
#      their control tags and images are typed by the shared rule.
#   4. stream_verdicts + apply_stream_transactions — 'c'/'A' rows are
#      O(#transactions); a broadcast join stamps each streamed row with
#      its commit lsn (the APPLY position) or drops it (abort/in-flight).
#      Non-streamed rows apply at their own lsn. The emitted envelope lsn
#      is "APPLY/ORIGINAL" zero-padded hex, so plain string order ==
#      commit-then-within-transaction order and every downstream operator
#      (filter -> extract -> latest_state) runs UNCHANGED.


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">ib", xid, 1 if first_segment else 0)


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(xid: int, lsn: int, end_lsn: int,
                         commit_ts: int) -> bytes:
    return b"c" + struct.pack(">ibqqq", xid, 0, lsn, end_lsn, commit_ts)


def encode_stream_abort(xid: int, sub_xid: int | None = None) -> bytes:
    return b"A" + struct.pack(">ii", xid, sub_xid if sub_xid is not None else xid)


def stream_wrap(xid: int, msg: bytes) -> bytes:
    """Prefix a row message with the Int32 xid, as v2 does for every
    message inside a streamed segment."""
    return msg[:1] + struct.pack(">i", xid) + msg[1:]


def _be_int(payload_col: str, pos: int, nbytes: int):
    """Big-endian unsigned int at a byte offset, decoded JVM-side
    (hex -> base-10 conv) — keeps the control passes in codegen."""
    return F.conv(
        F.hex(F.expr(f"substring({payload_col}, {pos}, {nbytes})")), 16, 10
    ).cast("long")


def stream_segments(messages: DataFrame, lsn_col: str = "lsn",
                    payload_col: str = "payload") -> DataFrame:
    """(seg_start, seg_stop, seg_xid) — one row per S..E segment.

    The filter on the first payload byte runs in the scan; what survives
    is O(#segments). Pairing uses one global window over that tiny
    relation — legitimate because segments never nest on the wire, so in
    lsn order the kinds strictly alternate S,E,S,E. A trailing S with no
    E yet (capture window cut mid-segment) stays open-ended: its rows
    are streamed and will simply have no verdict yet (dropped as
    in-flight by apply_stream_transactions, picked up complete in the
    next capture window)."""
    from pyspark.sql import Window

    ctrl = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'53', X'45')")
    ).select(
        F.col(lsn_col).alias("__ctrl_lsn"),
        (F.expr(f"substring({payload_col}, 1, 1)") == F.lit(b"S")).alias("__is_start"),
        _be_int(payload_col, 2, 4).alias("seg_xid"),
    )
    w = Window.orderBy("__ctrl_lsn")
    paired = ctrl.withColumn("__nxt", F.lead("__ctrl_lsn").over(w))
    # an open trailing segment stops at the capture window's last lsn
    # (NOT at "infinity": the binned join replicates each interval into
    # every bin it overlaps, so an unbounded stop would explode)
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    return (
        paired.filter(F.col("__is_start"))
        # bounded: window_end is a 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__ctrl_lsn").alias("seg_start"),
            F.coalesce(F.col("__nxt"), F.col("__window_end")).alias("seg_stop"),
            "seg_xid",
        )
    )


def stream_verdicts(messages: DataFrame, lsn_col: str = "lsn",
                    payload_col: str = "payload") -> DataFrame:
    """(v_xid, verdict, commit_lsn, sub_xid) from the 'c'/'A' control
    rows — O(#transactions), decoded entirely JVM-side.

    StreamAbort carries (xid, sub_xid): sub_xid == xid aborts the WHOLE
    transaction, sub_xid != xid aborts only that SUBTRANSACTION's
    changes (protocol v2; every in-segment row message is prefixed with
    the xid of its immediate (sub)transaction, which is what the
    sub-abort must match against)."""
    is_commit = F.expr(f"substring({payload_col}, 1, 1) = X'63'")
    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'63', X'41')")
    ).select(
        _be_int(payload_col, 2, 4).alias("v_xid"),
        F.when(is_commit, "commit").otherwise("abort").alias("verdict"),
        F.when(is_commit, _be_int(payload_col, 7, 8)).alias("commit_lsn"),
        F.when(~is_commit, _be_int(payload_col, 6, 4)).alias("sub_xid"),
    )


def decode_pgoutput_v2(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    segments: DataFrame | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
    broadcast_segments: bool = True,
    track_unchanged: bool = False,
) -> DataFrame:
    """Decode a protocol-v2 capture (streamed transactions present) into
    (lsn long, xid, top_xid, tag, new, old [, unchanged]). ``xid`` is
    the Int32 prefixed on the row message — the xid of the IMMEDIATE
    (sub)transaction that produced the change; ``top_xid`` is the
    enclosing segment's StreamStart xid — the TOP-LEVEL transaction,
    which is what StreamCommit names. They differ exactly when the
    change belongs to a subtransaction (and StreamAbort's sub_xid form
    must then be matched against ``xid``, not ``top_xid``). Streamed
    transactions TOAST like any other: an in-segment UPDATE can carry
    'u' datums, so track_unchanged matters here exactly as in v1 —
    without it a committed streamed update would NULL-overwrite stored
    values. Stream membership comes from the
    binned interval join against ``stream_segments`` (equi-join on lsn
    bins — operators/rangejoin.py — never a nested loop); inside a
    segment the Int32 xid is stripped JVM-side before the shared
    decode kernel.
    Auto-discovery of ``relations`` handles streamed 'R' messages too:
    an 'R' whose lsn falls inside a segment has its 4 xid bytes
    stripped before the driver-side decode (segments are collected
    first — O(#segments) bounded metadata), so a table whose Relation
    message arrives only inside a streamed segment still maps
    correctly instead of polluting the relations dict with
    xid-shifted garbage.

    Compose with apply_stream_transactions to get the standard ordered
    envelope. Segments default to broadcast (they are O(#segments) per
    capture window); pass broadcast_segments=False to hash-join when a
    window legitimately contains millions of segments."""
    from ..operators.rangejoin import binned_range_join

    if segments is None:
        segments = stream_segments(messages, lsn_col, payload_col)
    if relations is None:
        import bisect

        # Segments sorted by start → O(log #segments) membership via
        # bisect (segments never overlap in LSN: each is the contiguous
        # span between one StreamStart and its StreamStop).
        seg_rows = sorted(
            (int(r["seg_start"]), int(r["seg_stop"]))
            for r in segments.collect())  # O(#segments) metadata
        seg_starts = [s for s, _ in seg_rows]

        def _in_segment(lsn: int) -> bool:
            i = bisect.bisect_right(seg_starts, lsn) - 1
            return i >= 0 and lsn <= seg_rows[i][1]

        # one home for the re-send dedupe + last-image-wins rule
        # (_collect_relation_payloads); this path only adds the
        # in-segment xid strip for streamed 'R' frames.
        relations = {}
        for r_lsn, buf in _collect_relation_payloads(
                messages, payload_col, lsn_col):
            if r_lsn is not None and _in_segment(r_lsn):
                buf = buf[:1] + buf[5:]  # strip the streamed Int32 xid
            try:
                relid, names = decode_relation_message(buf)
            except (ValueError, struct.error, IndexError):
                continue  # dead-letter: a corrupt 'R' never poisons the map
            relations[relid] = names
    if broadcast_segments:
        # bounded: O(#stream segments) control rows
        segments = F.broadcast(segments)
    tagged = binned_range_join(
        messages.select(F.col(lsn_col).alias("__lsn"),
                        F.col(payload_col).alias("__payload")),
        segments,
        "__lsn", "seg_start", "seg_stop", bin_width, how="left_outer",
    ).select("__lsn", "__payload", F.col("seg_xid").alias("__seg_xid"))

    # JVM-side framing around the shared kernel: strip the Int32 xid
    # from in-segment frames before it, map S/E/c/A to control tags
    # after it (the kernel itself dead-letters those kinds, as v1 does).
    # Protocol v2 xid-prefixes EVERY in-segment frame, not just DML:
    # logical-decoding Message ('M') and Type ('Y') frames inside S..E
    # segments carry the Int32 xid too (this module's own
    # encode_logical_message emits it for 'M', and
    # decode_logical_messages(streamed=True) strips it). Without 'M' the
    # flags byte _parse_change reads at buf[1] is the xid's high byte,
    # mis-tagging in-segment TRANSACTIONAL messages as message_nontxn
    # for almost every xid; without 'Y' a streamed type row decodes with
    # xid=None, so a subtransaction abort cannot match and discard it.
    kind = F.expr("substring(__payload, 1, 1)")
    ctrl = (F.when(kind == F.lit(b"S"), "stream_start")
            .when(kind == F.lit(b"E"), "stream_stop")
            .when(kind == F.lit(b"c"), "stream_commit")
            .when(kind == F.lit(b"A"), "stream_abort"))
    strip = F.col("__seg_xid").isNotNull() & kind.isin(
        *[F.lit(k) for k in (b"I", b"U", b"D", b"R", b"T", b"M", b"Y")])
    short = strip & (F.length("__payload") < 5)  # no room for the xid
    framed = tagged.select(
        F.col("__lsn").cast("long").alias("lsn"),
        F.when(strip & ~short, _be_int("__payload", 2, 4)).alias("xid"),
        F.when(ctrl.isNull() & ~short, F.col("__seg_xid")).alias("top_xid"),
        ctrl.alias("__ctrl"),
        F.when(short, F.lit(b""))
        .when(strip, F.expr("concat(substring(__payload, 1, 1),"
                            " substring(__payload, 6))"))
        .otherwise(F.col("__payload")).alias("__payload"),
    )
    wire = _decode_kernel(framed, relations, "__payload")
    return _typed_envelope(
        wire, relations, row_schema, track_unchanged,
        "lsn", "xid", "top_xid",
        F.coalesce(F.col("__ctrl"), F.col("tag")).alias("tag"))


def apply_stream_transactions(decoded: DataFrame,
                              verdicts: DataFrame) -> DataFrame:
    """Turn the v2 decode into the standard ordered envelope: aborted
    and still-in-flight streamed rows are DROPPED, committed streamed
    rows apply at their transaction's commit lsn, non-streamed rows at
    their own lsn; within a transaction the original wire order is the
    tiebreak. Envelope lsn = 'APPLY/ORIGINAL' zero-padded hex, so plain
    string order is apply order and the v1 pipeline runs unchanged.
    Verdicts are O(#transactions) -> broadcast joins.

    Verdict matching is two-tier, per protocol v2:
      - StreamCommit names the TOP-LEVEL xid -> matched against
        ``top_xid`` (the enclosing segment's StreamStart xid); a whole-
        transaction StreamAbort (sub_xid == xid) simply never commits,
        so its rows drop as in-flight.
      - StreamAbort with sub_xid != xid aborts ONE SUBTRANSACTION: only
        rows whose per-message ``xid`` equals that sub_xid (within the
        named top-level transaction) are discarded — the rest of the
        transaction still applies at its commit lsn. Matching the
        top-level xid alone would wrongly apply the aborted
        subtransaction's changes at commit.

    Backward-compat: a decoded frame without ``top_xid`` (pre-v2-subtxn
    callers) falls back to matching commits on ``xid``."""
    top = "top_xid" if "top_xid" in decoded.columns else "xid"
    commits = verdicts.filter(F.col("verdict") == "commit").select(
        "v_xid", "commit_lsn")
    sub_aborts = verdicts.filter(
        (F.col("verdict") == "abort") & (F.col("sub_xid") != F.col("v_xid"))
    ).select(F.col("v_xid").alias("__a_top"),
             F.col("sub_xid").alias("__a_sub"))
    pruned = decoded.join(
        # bounded: verdict frame, O(#transactions in the capture)
        F.broadcast(sub_aborts),
        (decoded[top] == F.col("__a_top"))
        & (decoded["xid"] == F.col("__a_sub")),
        "left_anti",
    )
    joined = pruned.join(
        F.broadcast(commits), pruned[top] == commits["v_xid"], "left"
    )
    keep = F.col(top).isNull() | F.col("commit_lsn").isNotNull()
    apply_lsn = F.coalesce(F.col("commit_lsn"), F.col("lsn"))
    cols = [
        F.format_string("%016X/%016X", apply_lsn, F.col("lsn")).alias("lsn"),
        "tag", "new", "old",
    ]
    if "unchanged" in decoded.columns:
        cols.append("unchanged")  # TOAST markers ride through to toast_state
    return joined.filter(keep).select(*cols)


# --- multi-table capture: generic (bronze) decode + JVM-typed routing ---------
# A replication slot carries EVERY published table; decoding straight to
# one typed schema (decode_pgoutput) forces one scan per table. The
# scalable layering is the lakehouse bronze/silver split:
#
#   bronze  decode_pgoutput_generic — the decode kernel's wire frame
#           itself, lsn rendered as the envelope's hex string: every
#           message becomes a schema-agnostic envelope (lsn, relid, tag,
#           per-column text values + wire kinds). Python touches the
#           bytes exactly once for the whole slot; persist/land this
#           frame and every table routes from it.
#   silver  route_table — pure JVM: the same _typed_image rule every
#           typed decoder uses (try_element_at + try_cast inside
#           whole-stage codegen; malformed text -> NULL), wire kind 'u'
#           surfaces as the unchanged-TOAST name list, 'n' stays SQL
#           NULL. N tables = N filters over the SAME bronze scan, zero
#           additional decode work.


def decode_pgoutput_generic(
    messages: DataFrame,
    relations: dict[int, list[str]] | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
) -> DataFrame:
    """Bronze envelope: (lsn, relid, tag, vals, kinds, old_vals,
    old_kinds) — values as wire text, kinds as 't'/'n'/'u' per column.
    Unknown relids keep their rows (relid is there, vals NULL) so a
    late-registered table is a re-route, not a re-capture."""
    wire, _ = _wire_frame(messages, relations, lsn_col, payload_col)
    return wire.withColumn("lsn", _hex_lsn())


def route_table(
    generic: DataFrame,
    relid: int,
    col_names: list[str],
    row_schema: StructType,
    track_unchanged: bool = False,
) -> DataFrame:
    """Silver routing: the typed envelope for ONE table, built entirely
    JVM-side from the bronze frame by the shared _typed_image rule — no
    Python. Output matches decode_pgoutput's frame (lsn, tag, new, old
    [, unchanged]), so the standard pipeline and toast_state run
    unchanged."""
    return _typed_envelope(
        generic.filter(F.col("relid") == relid), {relid: col_names},
        row_schema, track_unchanged, "lsn", "tag")


# --- protocol v3: two-phase commit (PREPARE TRANSACTION) -----------------------
# PostgreSQL 15+ ("two_phase" on the replication slot) decodes prepared
# transactions at PREPARE time, framed as:
#
#   'b' BeginPrepare     Int64 prepare_lsn, Int64 end_lsn, Int64 ts,
#                        Int32 xid, Cstr gid
#   'P' Prepare          Int8 flags, Int64 prepare_lsn, Int64 end_lsn,
#                        Int64 ts, Int32 xid, Cstr gid
#   'K' CommitPrepared   Int8 flags, Int64 commit_lsn, Int64 end_lsn,
#                        Int64 ts, Int32 xid, Cstr gid
#   'r' RollbackPrepared Int8 flags, Int64 prepare_end_lsn,
#                        Int64 rollback_end_lsn, Int64 prepare_ts,
#                        Int64 rollback_ts, Int32 xid, Cstr gid
#   'p' StreamPrepare    Int8 flags, Int64 lsn, Int64 end_lsn, Int64 ts,
#                        Int32 xid, Cstr gid   (streamed txn ends prepared)
#
# Consumer semantics: changes between 'b'..'P' (plain v1 row messages, no
# xid prefix) are PREPARED — held, applied only at CommitPrepared (at its
# commit lsn, which can cross later wire traffic) and discarded at
# RollbackPrepared. This is exactly the v2 shape — intervals + verdicts —
# so the Spark decomposition REUSES that machinery: prepared_spans pairs
# 'b'..'P' (one window over the O(#prepared) control rows; prepared txns
# never interleave on the wire in non-streamed mode, same alternation
# guarantee as S/E), membership is the same binned_range_join, verdicts
# ('K'/'r') broadcast-join by xid, and apply_stream_transactions emits
# the standard APPLY/ORIGINAL envelope unchanged. A streamed-prepared
# transaction (S..E segments ending with 'p') needs NO new apply logic:
# decode_pgoutput_v2 already stamps its rows with the segment xid, and
# prepared_verdicts supplies the commit/rollback verdict — union it with
# stream_verdicts.


def encode_begin_prepare(prepare_lsn: int, end_lsn: int, ts: int, xid: int,
                         gid: str) -> bytes:
    return b"b" + struct.pack(">qqqi", prepare_lsn, end_lsn, ts, xid) + _cstr(gid)


def encode_prepare(prepare_lsn: int, end_lsn: int, ts: int, xid: int,
                   gid: str) -> bytes:
    return (b"P" + struct.pack(">bqqqi", 0, prepare_lsn, end_lsn, ts, xid)
            + _cstr(gid))


def encode_commit_prepared(commit_lsn: int, end_lsn: int, ts: int, xid: int,
                           gid: str) -> bytes:
    return (b"K" + struct.pack(">bqqqi", 0, commit_lsn, end_lsn, ts, xid)
            + _cstr(gid))


def encode_rollback_prepared(prepare_end_lsn: int, rollback_end_lsn: int,
                             prepare_ts: int, rollback_ts: int, xid: int,
                             gid: str) -> bytes:
    return (b"r" + struct.pack(">bqqqqi", 0, prepare_end_lsn,
                               rollback_end_lsn, prepare_ts, rollback_ts, xid)
            + _cstr(gid))


def encode_stream_prepare(lsn: int, end_lsn: int, ts: int, xid: int,
                          gid: str) -> bytes:
    return (b"p" + struct.pack(">bqqqi", 0, lsn, end_lsn, ts, xid)
            + _cstr(gid))


def prepared_spans(messages: DataFrame, lsn_col: str = "lsn",
                   payload_col: str = "payload") -> DataFrame:
    """(p_start, p_stop, p_xid) — one row per 'b'..'P' prepared block.
    Same pairing argument as stream_segments: the filter runs in the
    scan, survivors are O(#prepared transactions), and 'b'/'P' strictly
    alternate in lsn order (non-streamed prepared content is contiguous
    on the wire). A trailing 'b' with no 'P' yet stays open to the
    capture window's end — its rows get no verdict and hold back."""
    from pyspark.sql import Window

    ctrl = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'62', X'50')")
    ).select(
        F.col(lsn_col).alias("__ctrl_lsn"),
        (F.expr(f"substring({payload_col}, 1, 1)") == F.lit(b"b"))
        .alias("__is_begin"),
        # 'b': type(1) + 3x Int64(24) -> xid at byte 26 (1-based)
        _be_int(payload_col, 26, 4).alias("p_xid"),
    )
    w = Window.orderBy("__ctrl_lsn")
    paired = ctrl.withColumn("__nxt", F.lead("__ctrl_lsn").over(w))
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    return (
        paired.filter(F.col("__is_begin"))
        # bounded: 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__ctrl_lsn").alias("p_start"),
            F.coalesce(F.col("__nxt"), F.col("__window_end")).alias("p_stop"),
            "p_xid",
        )
    )


def prepared_verdicts(messages: DataFrame, lsn_col: str = "lsn",
                      payload_col: str = "payload") -> DataFrame:
    """(v_xid, verdict, commit_lsn, sub_xid) from 'K'/'r' control rows —
    schema-compatible with stream_verdicts so the two can union (a
    capture with both streamed and prepared transactions). A rollback's
    sub_xid is set to its own xid: RollbackPrepared always voids the
    WHOLE transaction (2PC has no sub-transaction rollback on the wire),
    so it must not match apply_stream_transactions' sub-abort path."""
    is_commit = F.expr(f"substring({payload_col}, 1, 1) = X'4B'")
    xid = F.when(
        is_commit,
        # 'K': type(1) + flags(1) + 3x Int64(24) -> xid at byte 27
        _be_int(payload_col, 27, 4),
    ).otherwise(
        # 'r': type(1) + flags(1) + 4x Int64(32) -> xid at byte 35
        _be_int(payload_col, 35, 4)
    )
    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'4B', X'72')")
    ).select(
        xid.alias("v_xid"),
        F.when(is_commit, "commit").otherwise("abort").alias("verdict"),
        # 'K': commit_lsn right after flags -> byte 3
        F.when(is_commit, _be_int(payload_col, 3, 8)).alias("commit_lsn"),
        F.when(~is_commit, xid).alias("sub_xid"),
    )


# Transaction-owned tags — the rows a prepared span's xid stamp (and
# therefore the commit/rollback verdict) applies to. Shared by
# decode_pgoutput_2pc and overlay_prepared_spans so the rule cannot
# drift: framing/control rows and NON-transactional messages are never
# stamped (see overlay_prepared_spans' docstring for why the wire flag,
# not interval membership, decides for 'M').
# DELIBERATE asymmetry vs the v2 STREAMED path (ADVICE r12): v2
# in-segment 'Y' (type) and 'M' rows carry a WIRE xid prefix and are
# stamped from it, so a (sub)abort discards them with the segment; here
# type/relation metadata rows have NO wire xid (the 2PC block is plain
# v1 framing inside 'b'..'P'), so a 'type' row inside a rolled-back
# prepared block survives at its own lsn — harmless (metadata carries
# no row images) and truthful to what the wire actually attributes to
# the transaction.
_PREPARED_STAMP_TAGS = ("insert", "update", "delete", "truncate",
                        "truncate_other", "message")


def decode_pgoutput_2pc(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    spans: DataFrame | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
    track_unchanged: bool = False,
) -> DataFrame:
    """Decode a two-phase capture into the v2-compatible frame
    (lsn long, xid, top_xid, tag, new, old [, unchanged]): rows are the
    plain v1 decode (no xid prefix inside 'b'..'P'); membership in a
    prepared block stamps xid/top_xid from the span. Compose with
    apply_stream_transactions(decoded, prepared_verdicts(messages)) —
    prepared rows apply at their CommitPrepared lsn, rolled-back and
    still-prepared (no verdict yet) rows drop.

    Only TRANSACTION-OWNED rows are stamped with the span's xid — the
    same ``_PREPARED_STAMP_TAGS`` rule as ``overlay_prepared_spans``
    (see its docstring for the full argument): the block's own framing
    rows and any NON-transactional 'M' whose WAL lsn happens to fall
    numerically inside the span keep null xids, so the downstream
    apply_stream_transactions repositions/drops only transaction
    content — a rolled-back block must not swallow a concurrent
    flags=0 message PostgreSQL delivered immediately (r12)."""
    from ..operators.rangejoin import binned_range_join

    if spans is None:
        spans = prepared_spans(messages, lsn_col, payload_col)
    wire, relations = _wire_frame(messages, relations, lsn_col, payload_col)
    env = _typed_envelope(wire, relations, row_schema, track_unchanged,
                          "lsn", "tag")
    tagged = binned_range_join(
        env,
        # bounded: O(#prepared transactions) control spans
        F.broadcast(spans),
        "lsn", "p_start", "p_stop", bin_width, how="left_outer",
    )
    stamp = F.when(F.col("tag").isin(*_PREPARED_STAMP_TAGS),
                   F.col("p_xid"))
    cols = [
        "lsn",
        stamp.alias("xid"),
        stamp.alias("top_xid"),
        "tag", "new", "old",
    ]
    if track_unchanged:
        cols.append(F.col("unchanged"))
    return tagged.select(*cols)


# --- logical decoding messages ('M'): application-emitted WAL markers ----------
# pg_logical_emit_message() lets applications write arbitrary
# (prefix, content) markers into the WAL stream — audit trails, deploy
# fences, cache-invalidation signals. The row decoders surface 'M' only
# as an inert control tag; this pass decodes the CONTENT:
#
#   'M' [Int32 xid]  Int8 flags (1 = transactional), Int64 lsn,
#                    Cstr prefix, Int32 length, content bytes
#
# Spark shape: the first-byte filter runs in the scan (only 'M' payloads
# reach Python), then one Arrow mapInPandas decodes (flags, msg_lsn,
# prefix, content) per marker — corrupt payloads dead-letter as
# prefix='_corrupt' rows instead of failing the batch.


def encode_logical_message(prefix: str, content: bytes, lsn: int = 0,
                           transactional: bool = True,
                           xid: int | None = None) -> bytes:
    body = (struct.pack(">bq", 1 if transactional else 0, lsn)
            + _cstr(prefix) + struct.pack(">i", len(content)) + content)
    if xid is not None:  # streamed form
        return b"M" + struct.pack(">i", xid) + body
    return b"M" + body


def decode_logical_messages(messages: DataFrame, lsn_col: str = "lsn",
                            payload_col: str = "payload",
                            streamed: bool = False) -> DataFrame:
    """(lsn, transactional, msg_lsn, prefix, content) from the 'M'
    payloads in a capture. ``streamed=True`` strips the Int32 xid that
    protocol v2 prefixes inside stream segments (pass the pre-filtered
    in-segment subset there; mixed captures route each subset through
    its own call)."""
    from pyspark.sql.types import BooleanType

    out_schema = StructType([
        StructField("lsn", LongType()),
        StructField("transactional", BooleanType()),
        StructField("msg_lsn", LongType()),
        StructField("prefix", StringType()),
        StructField("content", BinaryType()),
    ])

    def decode(batches) -> Iterator:
        import pandas as pd

        cols = ["lsn", "transactional", "msg_lsn", "prefix", "content"]
        for pdf in batches:
            rows: list[tuple] = []
            for lsn, payload in zip(pdf[lsn_col], pdf[payload_col]):
                buf = bytes(payload)
                try:
                    pos = 5 if streamed else 1  # skip type (+xid)
                    flags, msg_lsn = struct.unpack_from(">bq", buf, pos)
                    pos += 9
                    end = buf.index(b"\x00", pos)
                    prefix = buf[pos:end].decode()
                    pos = end + 1
                    (ln,) = struct.unpack_from(">i", buf, pos)
                    pos += 4
                    if ln < 0 or pos + ln > len(buf):
                        raise ValueError("bad content length")
                    content = buf[pos:pos + ln]
                    rows.append((int(lsn), flags == 1, msg_lsn,
                                 prefix, content))
                except (ValueError, struct.error, IndexError,
                        UnicodeDecodeError):
                    rows.append((int(lsn), None, None, "_corrupt", None))
            yield pd.DataFrame(rows, columns=cols)

    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'4D'")
    ).mapInPandas(decode, schema=out_schema)


# --- replication origins ('O'): bidirectional-replication loop filter ----------
# A subscriber that also publishes must NOT re-forward transactions it
# received from elsewhere (the A->B->A echo). pgoutput tags such
# transactions with an Origin message right after Begin:
#
#   'O' Int64 commit_lsn, Cstr origin_name
#
# Spark shape: transaction spans are [B_lsn, next_B_lsn) intervals built
# from the 'B' control rows (byte-filtered in the scan; ONE global
# window over that control subset — O(#transactions-in-capture-window),
# a spillable sort bounded by the micro-batch/capture size, the same
# cost class real CDC batchers accept per batch); the O(#tagged) origin
# rows broadcast-join into their spans, and the DATA path — the big
# side — is a binned interval ANTI join that stays hash-partitioned.
# Origin-name decode is pure JVM (fixed 9-byte header + trailing NUL).


def encode_origin(commit_lsn: int, name: str) -> bytes:
    return b"O" + struct.pack(">q", commit_lsn) + _cstr(name)


def origin_spans(messages: DataFrame, lsn_col: str = "lsn",
                 payload_col: str = "payload",
                 bin_width: int = 1024) -> DataFrame:
    """(o_start, o_stop, origin) — one row per transaction span that
    carries an Origin tag. Untagged transactions produce no span (they
    are locally originated and always pass the filter)."""
    from pyspark.sql import Window

    from ..operators.rangejoin import binned_range_join

    begins = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'42'")
    ).select(F.col(lsn_col).alias("__b_lsn"))
    w = Window.orderBy("__b_lsn")
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    spans = (
        begins.withColumn("__nxt", F.lead("__b_lsn").over(w))
        # bounded: 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__b_lsn").alias("o_start"),
            (F.coalesce(F.col("__nxt"), F.col("__window_end")) - 1)
            .alias("o_stop"),
        )
    )
    origins = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'4F'")
    ).select(
        F.col(lsn_col).alias("__o_lsn"),
        # 'O'(1) + Int64(8) -> name from byte 10, trailing NUL stripped
        F.expr(
            f"cast(substring({payload_col}, 10,"
            f" length({payload_col}) - 10) as string)"
        ).alias("origin"),
    )
    return binned_range_join(
        origins, spans, "__o_lsn", "o_start", "o_stop", bin_width,
    ).select("o_start", "o_stop", "origin")


def filter_foreign_origins(
    messages: DataFrame,
    keep_origins: tuple[str, ...] = (),
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
) -> DataFrame:
    """Drop every transaction tagged with a replication origin NOT in
    ``keep_origins`` (untagged = locally-originated transactions always
    pass). The reference forwards everything it decodes
    (src/mapping/customMapper.ts:19-23) — in a bidirectional topology
    that echoes foreign changes straight back; this filter is the
    standard subscriber-side defense. Foreign spans are O(#tagged
    transactions) -> broadcast; each message matches at most one span
    (spans are disjoint), so the left-outer + null-filter is an exact
    anti join with no dedup needed."""
    from ..operators.rangejoin import binned_range_join

    spans = origin_spans(messages, lsn_col, payload_col, bin_width)
    foreign = spans.filter(~F.col("origin").isin(*keep_origins)) \
        if keep_origins else spans
    out_cols = messages.columns
    tagged = binned_range_join(
        messages,
        # bounded: O(#origin spans) control rows
        F.broadcast(foreign),
        lsn_col, "o_start", "o_stop", bin_width, how="left_outer",
    )
    return tagged.filter(F.col("origin").isNull()).select(*out_cols)


# --- XLogData transport framing ('w'/'k'): the COPY-stream wrapper -------------
# On a live replication socket, pgoutput messages arrive wrapped in the
# streaming-replication COPY protocol:
#
#   'w' XLogData          Int64 wal_start, Int64 wal_end, Int64 clock,
#                         bytes payload (ONE pgoutput message)
#   'k' PrimaryKeepalive  Int64 wal_end, Int64 clock, Int8 reply_requested
#
# A capture that lands raw socket frames therefore needs one unwrap
# before any decoder — and the frame ITSELF carries the authoritative
# WAL position, so downstream needs no side lsn column. The unwrap is
# pure JVM (fixed offsets: substring + hex->long), whole-stage codegen,
# zero Python: keepalives and corrupt stubs are filtered in the scan
# pass, wal_start becomes the envelope lsn, and the inner payload feeds
# decode_pgoutput/decode_pgoutput_v2/... unchanged.


def encode_xlogdata(wal_start: int, payload: bytes, wal_end: int | None = None,
                    clock: int = 0) -> bytes:
    return b"w" + struct.pack(
        ">qqq", wal_start,
        wal_end if wal_end is not None else wal_start + len(payload), clock,
    ) + payload


def encode_keepalive(wal_end: int, clock: int = 0,
                     reply_requested: bool = False) -> bytes:
    return b"k" + struct.pack(">qqb", wal_end, clock,
                              1 if reply_requested else 0)


def unwrap_xlogdata(frames: DataFrame,
                    frame_col: str = "frame") -> DataFrame:
    """(lsn, clock_us, payload) from raw COPY-stream frames: XLogData
    frames unwrapped, keepalives and anything too short to carry a
    header dropped. All JVM built-ins — the big pass stays in codegen;
    lsn = the frame's own wal_start (the authoritative WAL position,
    replacing any side column)."""
    is_data = F.expr(f"substring({frame_col}, 1, 1) = X'77'")
    long_enough = F.length(F.col(frame_col)) > 25
    return frames.filter(is_data & long_enough).select(
        _be_int(frame_col, 2, 8).alias("lsn"),
        _be_int(frame_col, 18, 8).alias("clock_us"),
        F.expr(
            f"substring({frame_col}, 26, length({frame_col}) - 25)"
        ).alias("payload"),
    )


# --- schema inference from Relation metadata -----------------------------------
# The 'R' message carries per-column type OIDs and key flags — enough to
# derive the Spark row schema WITHOUT a hand-written StructType, the way
# real consumers bootstrap (the reference gets this for free from its
# decode library's JS objects; here it is explicit). Inference is part
# of the same bounded O(#tables) metadata pass as name discovery.

#: pg_type OID -> Spark type for the text-mode renderings _typed_image
#: understands. NUMERIC maps to DecimalType(38,18) — exact, and wide
#: enough for any fixture; unknown OIDs fall back to StringType (the
#: wire value is text already, so nothing is lost — a consumer can
#: try_cast later).
_PG_TYPE_OIDS = {
    16: "boolean",     # bool
    20: "long",        # int8
    21: "integer",     # int2
    23: "integer",     # int4
    25: "string",      # text
    17: "binary",      # bytea
    700: "float",      # float4
    701: "double",     # float8
    1042: "string",    # bpchar
    1043: "string",    # varchar
    1082: "date",      # date
    1114: "timestamp",  # timestamp
    1184: "timestamp",  # timestamptz
    1700: "decimal(38,18)",  # numeric
}


def decode_relation_schema(buf: bytes):
    """(relid, names, typoids, key_flags) from one 'R' payload — the
    full column metadata (decode_relation_message keeps returning just
    (relid, names) for existing callers)."""
    if buf[:1] != b"R":
        raise ValueError("not a relation message")
    (relid,) = struct.unpack_from(">i", buf, 1)
    pos = 5
    for _ in range(2):  # namespace, relname
        pos = buf.index(b"\x00", pos) + 1
    pos += 1  # replident
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    names, typoids, keys = [], [], []
    for _ in range(ncols):
        (flags,) = struct.unpack_from(">b", buf, pos)
        pos += 1
        end = buf.index(b"\x00", pos)
        names.append(buf[pos:end].decode())
        pos = end + 1
        (typoid,) = struct.unpack_from(">i", buf, pos)
        pos += 8  # typoid + typmod
        typoids.append(typoid)
        keys.append(bool(flags & 1))
    return relid, names, typoids, keys


def infer_row_schema(typoids: list[int], names: list[str]) -> StructType:
    """Spark schema from pg_type OIDs (unknown OIDs -> string: the wire
    carries text, nothing is lost)."""
    from pyspark.sql.types import _parse_datatype_string

    return StructType([
        StructField(n, _parse_datatype_string(
            _PG_TYPE_OIDS.get(t, "string")))
        for n, t in zip(names, typoids)
    ])


def discover_relation_schemas(messages: DataFrame,
                              payload_col: str = "payload"):
    """relid -> (names, inferred StructType, key column names) — the
    schema-inference twin of discover_relations, same bounded O(#tables)
    driver pass (re-sent 'R' images deduped executor-side, latest image
    per relid wins). Feed the names into decode_pgoutput's ``relations``
    and the StructType as its ``row_schema`` for a fully self-describing
    decode (no hand-written schema anywhere)."""
    out = {}
    for _, buf in _collect_relation_payloads(messages, payload_col, "lsn"):
        try:
            relid, names, typoids, keys = decode_relation_schema(buf)
        except (ValueError, struct.error, IndexError):
            continue  # dead-letter: a corrupt 'R' never poisons the map
        out[relid] = (
            names,
            infer_row_schema(typoids, names),
            [n for n, k in zip(names, keys) if k],
        )
    return out


def overlay_prepared_spans(decoded: DataFrame, spans: DataFrame,
                           bin_width: int = 1024) -> DataFrame:
    """Fill xid/top_xid for rows inside 'b'..'P' prepared blocks on an
    ALREADY-DECODED v2 frame — the mixed-capture composition: a slot can
    interleave STREAMED transactions (v2 segments, xid-stamped by
    decode_pgoutput_v2) with NON-streamed prepared blocks (plain rows,
    which v2 decode leaves with null top_xid — they would wrongly apply
    at their own lsn instead of holding for CommitPrepared). Compose:

        decoded = decode_pgoutput_v2(msgs, schema)
        decoded = overlay_prepared_spans(decoded, prepared_spans(msgs))
        env = apply_stream_transactions(
            decoded, stream_verdicts(msgs).unionByName(
                prepared_verdicts(msgs)))

    Rows already stamped (streamed) keep their xids; spans are
    O(#prepared) -> broadcast; same binned interval join as everywhere.

    Only TRANSACTION-OWNED rows (insert/update/delete/truncate +
    'message') are stamped: the span's own framing rows ('b'/'P' →
    begin_prepare/prepare) and other control rows inside the span keep
    null xids, so a downstream apply_stream_transactions
    repositions/drops only transaction content — direct envelope
    consumers see framing rows at their wire lsn, not teleported to the
    commit lsn (or silently dropped on rollback).

    'message' (the TRANSACTIONAL kind — the decoder splits on the wire
    flag byte, tagging flags=0 frames 'message_nontxn') is transaction
    content here: PostgreSQL decodes transactional messages at commit
    time and discards them on rollback, which is exactly what stamping
    + apply_stream_transactions produces. The non-transactional kind is
    deliberately NOT in _DATA_TAGS: lsns are WAL positions, so a
    concurrent flags=0 message can carry an lsn numerically inside a
    prepared span even though the server delivers it immediately and
    unconditionally — interval membership alone cannot distinguish the
    two, only the wire flag can.
    """
    from ..operators.rangejoin import binned_range_join

    _DATA_TAGS = _PREPARED_STAMP_TAGS
    cols = decoded.columns
    tagged = binned_range_join(
        # bounded: O(#prepared transactions) control spans
        decoded, F.broadcast(spans),
        "lsn", "p_start", "p_stop", bin_width, how="left_outer",
    )
    stamp = F.col("tag").isin(*_DATA_TAGS)
    return tagged.select(
        *[
            F.coalesce(
                F.col(c), F.when(stamp, F.col("p_xid"))).alias(c)
            if c in ("xid", "top_xid") else F.col(c)
            for c in cols
        ]
    )
