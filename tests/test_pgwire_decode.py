"""Binary COPY decoding of the wire-protocol source (sources/pgwire.py),
against in-process fake servers — no PostgreSQL needed.

The column-wise decoder must agree value for value with the literal
per-value decoder it replaced (``_literal_decoder`` below, one struct
unpack per field), over random rows of every supported type OID, and it
must refuse malformed streams with ``PgError``."""

from __future__ import annotations

import datetime as dt
import socket
import struct
import threading
import uuid
from decimal import Decimal
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lakehouse_loader_spark.sources import pgwire as W

HEADER = b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8
TRAILER = b"\xff\xff"
PG_EPOCH_US = 946_684_800_000_000
PG_EPOCH_DAYS = 10957


# -- the literal per-value form ----------------------------------------------


def _literal_decoder(oid: int):
    """One field's bytes → python value, one struct unpack per field:
    the per-value decoder the column-wise path replaced.  Timestamps are
    unix µs and dates unix days."""
    if oid in W._ARRAY_ELEM_OID:
        elem = _literal_decoder(W._ARRAY_ELEM_OID[oid])

        def arr(b):
            ndim, _flags, _eoid = struct.unpack_from(">iii", b, 0)
            if ndim == 0:
                return []
            (n, _lb) = struct.unpack_from(">ii", b, 12)
            p, out = 20, []
            for _ in range(n):
                (ln,) = struct.unpack_from(">i", b, p)
                p += 4
                out.append(None if ln == -1 else elem(b[p : p + ln]))
                p += max(ln, 0)
            return out

        return arr
    fmt = {21: ">h", 23: ">i", 20: ">q", 700: ">f", 701: ">d"}
    if oid in fmt:
        return lambda b: struct.unpack(fmt[oid], b)[0]
    if oid == 16:
        return lambda b: b[0] == 1
    if oid == 18:
        return lambda b: b[0] - 256 if b[0] > 127 else b[0]
    if oid in (1114, 1184):
        return lambda b: struct.unpack(">q", b)[0] + PG_EPOCH_US
    if oid == 1082:
        return lambda b: struct.unpack(">i", b)[0] + PG_EPOCH_DAYS
    if oid == 1700:
        return W._decode_numeric
    if oid == 17:
        return bytes
    if oid == 2950:
        return lambda b: str(uuid.UUID(bytes=bytes(b)))
    if oid == 3802:
        return lambda b: b[1:].decode()
    return lambda b: b.decode()


def _arrow_values(col) -> list:
    """An Arrow column as python values in the literal decoder's terms."""
    import pyarrow as pa

    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    elif pa.types.is_date32(col.type):
        col = col.cast(pa.int32())
    return col.to_pylist()


# -- value strategies: each draws the binary encoding of one field ----------

_US_MIN = -62_135_596_800_000_000 - PG_EPOCH_US  # 0001-01-01
_US_MAX = 253_402_300_799_999_999 - PG_EPOCH_US  # 9999-12-31T23:59:59.999999
_DAY_MIN, _DAY_MAX = -719_162 - PG_EPOCH_DAYS, 2_932_896 - PG_EPOCH_DAYS
_NUMERIC_10_3 = ((10 << 16) | 3) + 4  # typmod of numeric(10,3)


def _packed(fmt, strategy):
    return strategy.map(lambda v: struct.pack(fmt, v))


def _numerics(places: int, limit: str):
    return st.decimals(
        min_value=Decimal(f"-{limit}"), max_value=Decimal(limit),
        places=places, allow_nan=False, allow_infinity=False,
    ).map(W._encode_numeric)


_text = st.text(max_size=12).map(str.encode)
_ELEMENTS = {
    16: st.booleans().map(lambda v: b"\x01" if v else b"\x00"),
    21: _packed(">h", st.integers(-(2**15), 2**15 - 1)),
    23: _packed(">i", st.integers(-(2**31), 2**31 - 1)),
    20: _packed(">q", st.integers(-(2**63), 2**63 - 1)),
    700: _packed(">f", st.floats(width=32, allow_nan=False)),
    701: _packed(">d", st.floats(allow_nan=False)),
    25: _text,
    1043: _text,
    1700: _numerics(6, "1e12"),
}


def _array_of(elem_oid: int):
    def enc(items):
        if not items:
            return struct.pack(">iii", 0, 0, elem_oid)
        out = struct.pack(">iiiii", 1, 0, elem_oid, len(items), 1)
        for it in items:
            out += struct.pack(">i", -1) if it is None else struct.pack(">i", len(it)) + it
        return out

    return st.lists(st.none() | _ELEMENTS[elem_oid], max_size=4).map(enc)


# (oid, typmod) → strategy for the field's bytes
FIELD_TYPES = {
    **{(oid, -1): s for oid, s in _ELEMENTS.items()},
    (18, -1): _packed(">b", st.integers(-128, 127)),
    (1114, -1): _packed(">q", st.integers(_US_MIN, _US_MAX)),
    (1184, -1): _packed(">q", st.integers(_US_MIN, _US_MAX)),
    (1082, -1): _packed(">i", st.integers(_DAY_MIN, _DAY_MAX)),
    (1700, _NUMERIC_10_3): _numerics(3, "9999999.999"),
    (17, -1): st.binary(max_size=12),
    (2950, -1): st.binary(min_size=16, max_size=16),
    (3802, -1): _text.map(lambda b: b"\x01" + b),
    (1042, -1): _text,
    (19, -1): _text,
    (114, -1): _text,
    **{(arr, -1): _array_of(elem) for arr, elem in W._ARRAY_ELEM_OID.items()},
}


@st.composite
def copy_results(draw):
    """(fields, rows): a random column list over the supported type OIDs
    and rows of encoded fields, None for NULL."""
    types = draw(st.lists(st.sampled_from(sorted(FIELD_TYPES)), min_size=1, max_size=6))
    fields = [(f"c{i}", oid, tm) for i, (oid, tm) in enumerate(types)]
    row = st.tuples(*(st.none() | FIELD_TYPES[t] for t in types))
    return fields, draw(st.lists(row, max_size=25))


# -- a fake backend ----------------------------------------------------------


def _row(fields) -> bytes:
    out = struct.pack(">h", len(fields))
    for f in fields:
        out += struct.pack(">i", -1) if f is None else struct.pack(">i", len(f)) + f
    return out


def _frame(payloads, header_alone=False) -> bytes:
    """CopyData messages as a backend sends them: the file header in front
    of the first row (or alone), one row per message, the trailer alone."""
    msgs = [HEADER] + list(payloads) if header_alone or not payloads else [
        HEADER + payloads[0], *payloads[1:]
    ]
    return (
        W._msg(b"H", b"\x01\x00\x00")
        + b"".join(W._msg(b"d", m) for m in msgs + [TRAILER])
        + W._msg(b"c", b"")
        + W._msg(b"C", b"COPY\x00")
        + W._msg(b"Z", b"I")
    )


def _serve(stream: bytes, fields, batch_size: int, chunk: int = 1 << 16) -> list:
    """Decode ``stream`` through ``iter_copy_batches``, served over a
    socketpair in ``chunk``-byte writes, so messages straddle reads."""
    client, server = socket.socketpair()

    def backend():
        try:
            for i in range(0, len(stream), chunk):
                server.sendall(stream[i : i + chunk])
            server.shutdown(socket.SHUT_WR)
        except OSError:
            pass  # the client stopped reading after an error

    t = threading.Thread(target=backend, daemon=True)
    t.start()
    try:
        with mock.patch.object(W, "connect", lambda params: client):
            return list(W.iter_copy_batches(None, "q", fields, batch_size))
    finally:
        t.join(10)
        server.close()


# -- exactness ---------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    copy_results(),
    st.sampled_from([1, 2, 3, 7, 1000]),
    st.booleans(),
    st.sampled_from([1, 5, 64, 1 << 16]),
)
def test_column_decode_matches_literal_per_value(result, batch_size, header_alone, chunk):
    fields, rows = result
    batches = _serve(_frame([_row(r) for r in rows], header_alone), fields, batch_size, chunk)
    assert all(0 < b.num_rows <= batch_size for b in batches)
    assert sum(b.num_rows for b in batches) == len(rows)
    expected_schema = W.schema_of(fields)
    for i, (_name, oid, _tm) in enumerate(fields):
        dec = _literal_decoder(oid)
        want = [None if r[i] is None else dec(r[i]) for r in rows]
        got = [v for b in batches for v in _arrow_values(b.column(i))]
        assert got == want, (oid, expected_schema[i])


def test_batches_carry_spark_arrow_types():
    from pyspark.sql.pandas.types import to_arrow_type

    fields = [(f"c{i}", oid, tm) for i, (oid, tm) in enumerate(sorted(FIELD_TYPES))]
    (batch,) = _serve(_frame([_row([None] * len(fields))]), fields, 10)
    assert batch.schema.types == [f.type for f in to_arrow_type(W.schema_of(fields))]
    assert batch.to_pylist() == [{f[0]: None for f in fields}]


def test_empty_result_yields_no_batch():
    assert _serve(_frame([]), [("x", 20, -1)], 10) == []


def test_timestamps_dates_and_text_values():
    fields = [("ts", 1114, -1), ("tz", 1184, -1), ("d", 1082, -1), ("t", 25, -1)]
    us = 1_234_567
    row = [struct.pack(">q", us), struct.pack(">q", -us), struct.pack(">i", -1),
           "naïve ✓".encode()]
    (batch,) = _serve(_frame([_row(row), _row([None] * 4)]), fields, 10)
    r = batch.to_pylist()[0]
    assert r["ts"] == dt.datetime(2000, 1, 1, 0, 0, 1, 234_567)
    assert r["tz"] == dt.datetime(1999, 12, 31, 23, 59, 58, 765_433, tzinfo=dt.timezone.utc)
    assert r["d"] == dt.date(1999, 12, 31) and r["t"] == "naïve ✓"


# -- refusals ----------------------------------------------------------------

INT8 = [("x", 20, -1)]
ONE = _row([struct.pack(">q", 1)])


@pytest.mark.parametrize(
    "fields, stream, match",
    [
        ([("t", 25, -1)], _frame([_row([b"ok"]), _row([b"\xff\xfe"])]), "UTF8"),
        ([("t", 3802, -1)], _frame([_row([b"\x01\xc3"])]), "malformed"),
        (INT8, _frame([ONE, _row([struct.pack(">q", 2), None])]), "2 fields, expected 1"),
        (INT8, _frame([ONE + ONE]), "more than one row"),
        (INT8, _frame([ONE, ONE[:7]]), "ends inside a row"),
        (INT8, _frame([ONE, ONE[:4]]), "ends inside a row"),
        (INT8, _frame([_row([b"\x00" * 4])]), "wrong width"),
        (INT8, _frame([ONE, b"\x00"]), "shorter than a row header"),
        (INT8, _frame([ONE, ONE]).split(W._msg(b"d", ONE))[0] + W._msg(b"d", ONE)[:9],
         "mid-message"),
        (INT8, _frame([ONE])[: -len(W._msg(b"Z", b"I"))], "mid-message"),
        (INT8, _frame([ONE]).replace(W._msg(b"d", TRAILER), b""), "without its trailer"),
        (
            INT8,
            _frame([ONE]).replace(
                W._msg(b"d", TRAILER),
                W._msg(b"E", b"SERROR\x00Mdivision by zero\x00C22012\x00\x00"),
            ),
            "division by zero",
        ),
        (INT8, _frame([ONE]).replace(b"PGCOPY", b"PGCOPZ"), "signature"),
        ([("d", 1082, -1)], _frame([_row([struct.pack(">i", 2**31 - 1)])]), "infinity date"),
        ([("d", 1082, -1)], _frame([_row([struct.pack(">i", -(2**31))])]), "infinity date"),
        ([("t", 1114, -1)], _frame([_row([struct.pack(">q", 2**63 - 1)])]), "infinity timestamp"),
        ([("t", 1184, -1)], _frame([_row([struct.pack(">q", -(2**63))])]), "infinity timestamp"),
    ],
    ids=[
        "invalid-utf8-text", "invalid-utf8-jsonb", "field-count", "two-rows-one-message",
        "half-row-cut-in-value", "half-row-cut-in-length", "fixed-width-mismatch", "one-byte-message",
        "truncated-mid-message", "truncated-before-ready", "no-trailer",
        "error-mid-copy", "bad-signature", "infinity-date", "minus-infinity-date",
        "infinity-timestamp", "minus-infinity-timestamptz",
    ],
)
def test_malformed_streams_raise_pg_error(fields, stream, match):
    with pytest.raises(W.PgError, match=match):
        _serve(stream, fields, 1000)


# -- connection timeout ------------------------------------------------------


def test_connect_timeout_covers_only_connect_and_auth():
    """``connect``'s timeout must not stay on the socket: a pushed-down
    query may take longer than it to send its first row."""
    listener = socket.create_server(("127.0.0.1", 0))
    port = listener.getsockname()[1]

    def trust_auth_backend():
        conn, _ = listener.accept()
        with conn:
            (n,) = struct.unpack(">i", conn.recv(4))
            while n > 4:  # the rest of the StartupMessage
                n -= len(conn.recv(n - 4))
            conn.sendall(W._msg(b"R", struct.pack(">i", 0)) + W._msg(b"Z", b"I"))
            conn.recv(1)  # hold the session until the client closes

    t = threading.Thread(target=trust_auth_backend, daemon=True)
    t.start()
    try:
        params = W.parse_libpq_url(f"postgresql://u@127.0.0.1:{port}/db?sslmode=disable")
        sock = W.connect(params, timeout=5.0)
        assert sock.gettimeout() is None
        sock.close()
        t.join(10)
    finally:
        listener.close()
