"""Pure-stdlib PostgreSQL wire-protocol source (frontend/backend protocol
v3 + binary COPY), so the Postgres scan (SURVEY §2 R1, the reference's
primary source — src/pg_arrow_source.rs) EXECUTES without a JDBC driver
jar or any third-party Python driver.

Everything here derives from the public PostgreSQL documentation:

- message flow and framing: "Frontend/Backend Protocol" chapter
  (postgresql.org/docs/current/protocol.html) — StartupMessage,
  Parse/Describe/Sync for result-schema discovery (the same prepare step
  the reference performs, pg_arrow_source.rs:220-236), simple Query for
  the COPY subprotocol
- auth: AuthenticationMD5Password and SASL SCRAM-SHA-256 (RFC 5802/7677;
  hashlib.pbkdf2_hmac + hmac are stdlib)
- COPY BINARY tuple format and per-type binary encodings: "COPY" SQL
  reference, "Binary Format" — int/float big-endian, timestamps as
  microseconds since 2000-01-01, NUMERIC as base-10000 digit groups

Scale design: the driver connects ONCE to discover the result schema
(Parse/Describe — zero data rows); data flows on EXECUTORS, each
partition opening its own connection and streaming
``COPY (…) TO STDOUT (FORMAT binary)`` in bounded-size Arrow record
batches through mapInArrow — the same partition-predicate shape as Spark's
JDBC source, so a 1000-executor cluster fans N server cursors out in
parallel and no row ever transits the driver.  Rows decode column-wise
(numpy gathers over each batch's raw bytes), never field by field.
"""

from __future__ import annotations

import hashlib
import hmac
import os
import socket
import struct
from base64 import b64decode, b64encode
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
from urllib.parse import parse_qsl, unquote, urlparse

# -- libpq URL parsing -------------------------------------------------------


@dataclass
class ConnParams:
    host: str
    port: int
    user: str
    password: str | None
    database: str
    sslmode: str = "prefer"


def parse_libpq_url(
    conn_url: str, user: str | None = None, password: str | None = None
) -> ConnParams:
    """postgresql://user:pw@host:port/db[?user=…&password=…] → ConnParams.
    Credential precedence mirrors the JDBC path (sources/readers.py):
    explicit argument > PGPASSWORD > URL."""
    body = conn_url[len("jdbc:"):] if conn_url.startswith("jdbc:") else conn_url
    parsed = urlparse(body)
    if parsed.scheme not in ("postgresql", "postgres"):
        raise ValueError(f"not a postgres connection url: {conn_url!r}")
    q = dict(parse_qsl(parsed.query, keep_blank_values=True))
    u = user or parsed.username or q.get("user") or os.environ.get("PGUSER") or "postgres"
    pw = (
        password
        or os.environ.get("PGPASSWORD")
        or (unquote(parsed.password) if parsed.password else None)
        or q.get("password")
    )
    db = (parsed.path or "/").lstrip("/") or u
    sslmode = q.get("sslmode", "prefer")
    if sslmode not in ("disable", "allow", "prefer", "require", "verify-ca", "verify-full"):
        raise ValueError(f"unknown sslmode {sslmode!r}")
    return ConnParams(
        parsed.hostname or "localhost", parsed.port or 5432, u, pw, db, sslmode
    )


# -- protocol plumbing -------------------------------------------------------


class PgError(RuntimeError):
    pass


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise PgError("server closed connection mid-message")
        buf += chunk
    return bytes(buf)


def _read_msg(sock: socket.socket) -> tuple[bytes, bytes]:
    head = _recv_exact(sock, 5)
    typ, ln = head[:1], struct.unpack(">i", head[1:])[0]
    return typ, _recv_exact(sock, ln - 4)


def _msg(typ: bytes, payload: bytes) -> bytes:
    return typ + struct.pack(">i", len(payload) + 4) + payload


def _error_text(payload: bytes) -> str:
    fields = {}
    for part in payload.split(b"\x00"):
        if part:
            fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
    return f"{fields.get('S', 'ERROR')}: {fields.get('M', '?')} ({fields.get('C', '')})"


def _scram_sha256(sock: socket.socket, user: str, password: str) -> None:
    """SASL SCRAM-SHA-256 exchange (RFC 5802/7677) — the modern default
    (password_encryption = scram-sha-256 since PostgreSQL 14)."""
    nonce = b64encode(os.urandom(18)).decode()
    first_bare = f"n=,r={nonce}"
    init = b"SCRAM-SHA-256\x00" + struct.pack(">i", len(first_bare) + 3) + b"n,," + first_bare.encode()
    sock.sendall(_msg(b"p", init))
    typ, payload = _read_msg(sock)
    if typ == b"E":
        raise PgError(_error_text(payload))
    assert typ == b"R" and struct.unpack(">i", payload[:4])[0] == 11, "expected SASLContinue"
    server_first = payload[4:].decode()
    attrs = dict(p.split("=", 1) for p in server_first.split(","))
    combined, salt, iters = attrs["r"], b64decode(attrs["s"]), int(attrs["i"])
    if not combined.startswith(nonce):
        raise PgError("SCRAM server nonce does not extend client nonce")
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
    client_key = hmac.digest(salted, b"Client Key", "sha256")
    stored_key = hashlib.sha256(client_key).digest()
    final_wo_proof = f"c=biws,r={combined}"
    auth_msg = f"{first_bare},{server_first},{final_wo_proof}".encode()
    client_sig = hmac.digest(stored_key, auth_msg, "sha256")
    proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
    final = f"{final_wo_proof},p={b64encode(proof).decode()}"
    sock.sendall(_msg(b"p", final.encode()))
    typ, payload = _read_msg(sock)
    if typ == b"E":
        raise PgError(_error_text(payload))
    assert typ == b"R" and struct.unpack(">i", payload[:4])[0] == 12, "expected SASLFinal"
    server_key = hmac.digest(salted, b"Server Key", "sha256")
    expect = b64encode(hmac.digest(server_key, auth_msg, "sha256")).decode()
    got = dict(p.split("=", 1) for p in payload[4:].decode().split(","))["v"]
    if not hmac.compare_digest(expect, got):
        raise PgError("SCRAM server signature mismatch (server does not know the password)")


def _maybe_tls(sock: socket.socket, params: ConnParams) -> socket.socket:
    """libpq sslmode semantics over the SSLRequest handshake (protocol
    docs "SSL Session Encryption"): 8-byte request, server answers 'S'
    (proceed with TLS) or 'N'.  ``require``/``verify-*`` fail closed when
    the server refuses; ``prefer`` falls back to cleartext; ``disable``
    never asks.  verify-ca/full check the chain (stdlib ssl default
    context); require encrypts without verification, matching libpq."""
    import ssl

    if params.sslmode == "disable":
        return sock
    sock.sendall(struct.pack(">ii", 8, 80877103))
    answer = _recv_exact(sock, 1)
    if answer == b"N":
        if params.sslmode in ("require", "verify-ca", "verify-full"):
            sock.close()
            raise PgError(
                f"server refused TLS but sslmode={params.sslmode} demands it"
            )
        return sock  # prefer/allow: continue in cleartext
    if answer != b"S":
        sock.close()
        raise PgError(f"unexpected SSLRequest response {answer!r}")
    if params.sslmode in ("verify-ca", "verify-full"):
        ctx = ssl.create_default_context()
        ctx.check_hostname = params.sslmode == "verify-full"
    else:
        ctx = ssl._create_unverified_context()  # encrypt-only, like libpq
    return ctx.wrap_socket(
        sock,
        server_hostname=params.host if params.sslmode == "verify-full" else None,
    )


def connect(params: ConnParams, timeout: float = 30.0) -> socket.socket:
    """Open + authenticate a session (trust, cleartext, md5, or
    SCRAM-SHA-256; TLS per sslmode), then drain parameter status through
    ReadyForQuery.  ``timeout`` bounds connect and auth only: the returned
    socket blocks without one, since a pushed-down sort or aggregate may
    take longer than that to send its first row."""
    sock = socket.create_connection((params.host, params.port), timeout=timeout)
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    sock = _maybe_tls(sock, params)
    kv = (
        f"user\x00{params.user}\x00database\x00{params.database}\x00"
        "client_encoding\x00UTF8\x00".encode()
    )
    startup = struct.pack(">ii", len(kv) + 9, 196608) + kv + b"\x00"  # proto 3.0
    sock.sendall(startup)
    while True:
        typ, payload = _read_msg(sock)
        if typ == b"E":
            sock.close()
            raise PgError(_error_text(payload))
        if typ == b"R":
            (code,) = struct.unpack(">i", payload[:4])
            if code == 0:
                continue  # AuthenticationOk
            if code == 3:  # cleartext
                if params.password is None:
                    raise PgError("server demands a password; none provided")
                sock.sendall(_msg(b"p", params.password.encode() + b"\x00"))
            elif code == 5:  # md5
                if params.password is None:
                    raise PgError("server demands a password; none provided")
                salt = payload[4:8]
                inner = hashlib.md5(
                    params.password.encode() + params.user.encode()
                ).hexdigest()
                outer = hashlib.md5(inner.encode() + salt).hexdigest()
                sock.sendall(_msg(b"p", b"md5" + outer.encode() + b"\x00"))
            elif code == 10:  # SASL
                mechs = payload[4:].split(b"\x00")
                if b"SCRAM-SHA-256" not in mechs:
                    raise PgError(f"no supported SASL mechanism in {mechs}")
                if params.password is None:
                    raise PgError("server demands a password; none provided")
                _scram_sha256(sock, params.user, params.password)
            else:
                raise PgError(f"unsupported authentication request {code}")
        elif typ == b"Z":  # ReadyForQuery
            sock.settimeout(None)
            return sock
        # S (ParameterStatus), K (BackendKeyData), N (Notice) — ignore


def describe_query(params: ConnParams, query: str) -> list[tuple[str, int, int]]:
    """Result columns of ``query`` as (name, type_oid, typmod) WITHOUT
    executing it: Parse the unnamed statement, Describe, Sync — the
    reference's server-side prepare (pg_arrow_source.rs:220-236)."""
    sock = connect(params)
    try:
        sock.sendall(
            _msg(b"P", b"\x00" + query.encode() + b"\x00" + struct.pack(">h", 0))
            + _msg(b"D", b"S\x00")
            + _msg(b"S", b"")
        )
        fields: list[tuple[str, int, int]] | None = None
        err = None
        while True:
            typ, payload = _read_msg(sock)
            if typ == b"E":
                err = _error_text(payload)
            elif typ == b"T":  # RowDescription
                (n,) = struct.unpack_from(">h", payload, 0)
                p, out = 2, []
                for _ in range(n):
                    z = payload.index(b"\x00", p)
                    name = payload[p:z].decode()
                    # layout: tableOID i32, attnum i16, typeOID i32,
                    # typlen i16, typmod i32, format i16 = 18 bytes
                    _tab, _col, oid, _sz, typmod, _fmt = struct.unpack_from(
                        ">ihihih", payload, z + 1
                    )
                    out.append((name, oid, typmod))
                    p = z + 1 + 18
                fields = out
            elif typ == b"n":  # NoData — statement returns no rows
                fields = []
            elif typ == b"Z":
                break
        if err:
            raise PgError(err)
        if fields is None:
            raise PgError("server sent no RowDescription")
        return fields
    finally:
        sock.close()


# -- binary COPY decoding ----------------------------------------------------

_PG_EPOCH_DAYS = 10957  # 2000-01-01 relative to unix epoch
_PG_EPOCH_US = 946_684_800_000_000


def _decode_numeric(b: bytes) -> Decimal:
    nd, weight, sign, dscale = struct.unpack_from(">hhHH", b, 0)
    if sign == 0xC000:
        return Decimal("NaN")
    if sign in (0xD000, 0xF000):
        # PostgreSQL 14+ numeric ±Infinity (ndigits=0, special sign word):
        # no Spark DecimalType representation — raise like the infinity
        # timestamp/date decoders rather than silently decoding as 0
        raise PgError(
            "numeric Infinity/-Infinity has no Spark DecimalType "
            "representation; cast or filter it server-side"
        )
    digits = struct.unpack_from(f">{nd}H", b, 8)
    unscaled = 0
    for d in digits:
        unscaled = unscaled * 10000 + d
    # integer value at exactly dscale fractional digits: the stored
    # base-10000 digits never carry precision past dscale, so the shift
    # is exact — one scaleb, no quantize (hot path: per numeric value)
    shift = 4 * (weight + 1 - nd) + dscale
    if shift >= 0:
        val10 = unscaled * 10 ** shift
    else:
        val10 = unscaled // 10 ** (-shift)
    # exact tuple construction: arithmetic like scaleb() ROUNDS at the
    # context precision (28 digits by default), silently corrupting wide
    # NUMERICs — construction never does
    digits = tuple(int(c) for c in str(val10)) if val10 else (0,)
    return Decimal((1 if sign == 0x4000 else 0, digits, -dscale))


# 1-D array OIDs → element OID (the common training-data shapes: an
# embedding column is float4[]/float8[])
_ARRAY_ELEM_OID = {
    1000: 16,    # bool[]
    1005: 21,    # int2[]
    1007: 23,    # int4[]
    1016: 20,    # int8[]
    1021: 700,   # float4[]
    1022: 701,   # float8[]
    1009: 25,    # text[]
    1015: 1043,  # varchar[]
    1231: 1700,  # numeric[]
}
_ELEM_TO_ARRAY_OID = {v: k for k, v in _ARRAY_ELEM_OID.items()}


def _array_decoder(elem_oid: int):
    """Binary array format: ndim, has-null flag, element oid, per-dim
    (length, lower bound), then length-prefixed elements like top-level
    fields.  Multi-dimensional arrays refuse (no Spark analog chosen)."""
    elem_dec = _field_decoder(elem_oid)

    def dec(b: bytes):
        ndim, _flags, _eoid = struct.unpack_from(">iii", b, 0)
        if ndim == 0:
            return []
        if ndim != 1:
            raise PgError(f"{ndim}-dimensional arrays are not supported")
        (n, _lb) = struct.unpack_from(">ii", b, 12)
        p = 20
        out = []
        for _ in range(n):
            (ln,) = struct.unpack_from(">i", b, p)
            p += 4
            if ln == -1:
                out.append(None)
            else:
                out.append(elem_dec(b[p : p + ln]))
                p += ln
        return out

    return dec


def _field_decoder(oid: int):
    """Per-value binary decoder for one type OID → python value: numeric,
    uuid, jsonb, arrays and the array element types (every other column
    decodes column-wise in ``_column``)."""
    if oid in _ARRAY_ELEM_OID:
        return _array_decoder(_ARRAY_ELEM_OID[oid])
    if oid == 16:  # bool
        return lambda b: b[0] == 1
    if oid == 21:
        return lambda b: struct.unpack(">h", b)[0]
    if oid == 23:
        return lambda b: struct.unpack(">i", b)[0]
    if oid == 20:
        return lambda b: struct.unpack(">q", b)[0]
    if oid == 700:
        return lambda b: struct.unpack(">f", b)[0]
    if oid == 701:
        return lambda b: struct.unpack(">d", b)[0]
    if oid == 1700:
        return _decode_numeric
    if oid == 2950:  # uuid → canonical text
        import uuid as _uuid

        return lambda b: str(_uuid.UUID(bytes=bytes(b)))
    if oid == 3802:  # jsonb: version byte + utf8
        return lambda b: b[1:].decode()
    # text, varchar (array elements)
    return lambda b: b.decode()


def _spark_type(oid: int, typmod: int):
    from pyspark.sql import types as T

    if oid in _ARRAY_ELEM_OID:
        return T.ArrayType(_spark_type(_ARRAY_ELEM_OID[oid], -1))
    if oid == 16:
        return T.BooleanType()
    if oid == 18:
        return T.ByteType()
    if oid == 21:
        return T.ShortType()
    if oid == 23:
        return T.IntegerType()
    if oid == 20:
        return T.LongType()
    if oid == 700:
        return T.FloatType()
    if oid == 701:
        return T.DoubleType()
    if oid == 1114:
        return T.TimestampNTZType()
    if oid == 1184:
        return T.TimestampType()
    if oid == 1082:
        return T.DateType()
    if oid == 1700:
        if typmod >= 4:
            m = typmod - 4
            return T.DecimalType((m >> 16) & 0xFFFF, m & 0xFFFF)
        return T.DecimalType(38, 18)  # unconstrained NUMERIC
    if oid == 17:
        return T.BinaryType()
    return T.StringType()


def schema_of(fields: list[tuple[str, int, int]]):
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(n, _spark_type(oid, tm), True) for n, oid, tm in fields]
    )


def _copy_out_rows(sock: socket.socket, query: str, batch_size: int):
    """Send ``COPY (query) TO STDOUT (FORMAT binary)`` and yield
    ``(mem, starts, ends)`` per run of at most ``batch_size`` rows: one
    bytes block and the payload bounds of its row messages.

    The backend sends exactly one row per CopyData message (protocol docs,
    "COPY Operations"); the file header rides in front of the first row
    and the trailer comes last.  So the socket is read in large blocks and
    this loop records only where each message starts and ends — the field
    walk happens column-wise in ``_decode_rows``."""
    sql = f"COPY ({query}) TO STDOUT (FORMAT binary)"
    sock.sendall(_msg(b"Q", sql.encode() + b"\x00"))
    head = struct.Struct(">Bi").unpack_from
    buf = bytearray()
    pos = 0
    starts: list[int] = []
    ends: list[int] = []
    header = trailer = done = False
    while not done:
        chunk = sock.recv(1 << 20)
        if not chunk:
            raise PgError("server closed connection mid-message")
        buf += chunk
        avail = len(buf)
        while avail - pos >= 5:
            typ, ln = head(buf, pos)
            end = pos + 1 + ln
            if end > avail:
                break
            if typ == 0x64 and ln != 6 and header and not trailer:  # one row
                starts.append(pos + 5)
                ends.append(end)
            elif typ == 0x64:  # header and/or trailer, or a 2-byte row
                start = pos + 5
                if trailer:
                    raise PgError("CopyData after the binary COPY trailer")
                first = not header
                if first:
                    if bytes(buf[start : start + 11]) != b"PGCOPY\n\xff\r\n\x00":
                        raise PgError("bad binary COPY signature")
                    (ext,) = struct.unpack_from(">i", buf, start + 15)
                    start += 19 + ext  # signature, flags, header extension
                    header = True
                    if start > end:
                        raise PgError("truncated binary COPY header")
                if buf[start:end] == b"\xff\xff":
                    trailer = True
                elif start < end or not first:  # skip a header-only message
                    starts.append(start)
                    ends.append(end)
            elif typ == 0x45:  # ErrorResponse
                raise PgError(_error_text(bytes(buf[pos + 5 : end])))
            elif typ == 0x5A:  # ReadyForQuery
                done = True
                break
            # H (CopyOutResponse), c (CopyDone), C (CommandComplete), N
            pos = end
            if len(starts) >= batch_size:
                yield bytes(memoryview(buf)[:pos]), starts, ends
                del buf[:pos]
                avail -= pos
                pos, starts, ends = 0, [], []
    if not trailer:
        raise PgError("binary COPY stream ended without its trailer")
    if starts:
        yield bytes(memoryview(buf)[:pos]), starts, ends


# fixed-width OIDs → numpy big-endian dtype, decoded by one gather each
_FIXED_DTYPE = {
    16: "u1", 18: "i1", 21: ">i2", 23: ">i4", 20: ">i8", 700: ">f4",
    701: ">f8", 1114: ">i8", 1184: ">i8", 1082: ">i4",
}
# var-width OIDs decoded per value (plus the array OIDs); every other
# OID is text-like (or bytea) and decodes as one offsets + data gather
_PER_VALUE_OIDS = {1700, 2950, 3802, *_ARRAY_ELEM_OID}


def _gather(b: np.ndarray, pos: np.ndarray, dtype: str) -> np.ndarray:
    """The ``dtype`` value at each byte position of ``b``, native order."""
    dt = np.dtype(dtype)
    raw = np.empty((len(pos), dt.itemsize), np.uint8)
    for k in range(dt.itemsize):  # byte-at-a-time beats one 2-D index
        raw[:, k] = b[pos + k]
    return raw.view(dt).ravel().astype(dt.newbyteorder("="))


def _column(b: np.ndarray, mem: bytes, oid: int, typ, off: np.ndarray, ln: np.ndarray):
    """One column of a batch → Arrow array, from its field offsets and
    lengths (-1 = NULL)."""
    import pyarrow as pa

    n = len(off)
    valid = ln >= 0
    mask = None if valid.all() else ~valid
    if oid in _FIXED_DTYPE:
        dtype = _FIXED_DTYPE[oid]
        if (ln[valid] != np.dtype(dtype).itemsize).any():
            raise PgError(f"type {oid} field of the wrong width")
        vals = np.zeros(n, np.dtype(dtype).newbyteorder("="))
        vals[valid] = _gather(b, off[valid], dtype)
        if oid in (1114, 1184, 1082):
            lim = np.iinfo(vals.dtype)
            kind, epoch = ("date", _PG_EPOCH_DAYS) if oid == 1082 else ("timestamp", _PG_EPOCH_US)
            if np.isin(vals, (lim.min, lim.max)).any():
                raise PgError(f"infinity {kind} has no Spark representation")
            if (vals > lim.max - epoch).any():  # the shift to unix epoch would wrap
                raise PgError(f"{kind} out of range")
            vals += epoch
        elif oid == 16:
            vals = vals == 1
        return pa.array(vals, type=typ, mask=mask)
    if oid in _PER_VALUE_OIDS:
        dec = _field_decoder(oid)
        out = [None] * n
        offs, lens = off.tolist(), ln.tolist()
        try:
            for j in np.flatnonzero(valid).tolist():
                out[j] = dec(mem[offs[j] : offs[j] + lens[j]])
        except (UnicodeDecodeError, struct.error) as exc:
            raise PgError(f"malformed type {oid} field: {exc}") from exc
        return pa.array(out, type=typ)
    lens = np.where(valid, ln, 0)
    bounds = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=bounds[1:])
    if bounds[-1] > np.iinfo(np.int32).max:
        raise PgError("var-width column over 2 GiB in one batch; lower batch_size")
    data = b[np.repeat(off - bounds[:-1], lens) + np.arange(bounds[-1])]
    validity = None if mask is None else pa.py_buffer(np.packbits(valid, bitorder="little"))
    arr = pa.Array.from_buffers(
        typ, n, [validity, pa.py_buffer(bounds.astype(np.int32)), pa.py_buffer(data)],
        null_count=int(n - valid.sum()),
    )
    try:
        arr.validate(full=True)  # full UTF-8 check for string columns
    except pa.ArrowInvalid as exc:
        raise PgError(f"malformed type {oid} field: {exc}") from exc
    return arr


def _decode_rows(mem: bytes, starts: list, ends: list, fields, schema):
    """Row messages → one RecordBatch, walking fields COLUMN-wise: since
    every message is one row, field ``i`` of all rows is located by one
    vectorized step over the row cursors.  Each row must carry exactly
    ``len(fields)`` fields and end exactly at its message end."""
    import pyarrow as pa

    b = np.frombuffer(mem, dtype=np.uint8)
    p = np.array(starts, dtype=np.int64)
    end = np.array(ends, dtype=np.int64)
    if (end - p < 2).any():
        raise PgError("COPY message shorter than a row header")
    nf = _gather(b, p, ">i2")
    if (nf != len(fields)).any():
        got = int(nf[nf != len(fields)][0])
        raise PgError(f"COPY row has {got} fields, expected {len(fields)}")
    p += 2
    cols = []
    for (_name, oid, _tm), typ in zip(fields, schema.types):
        if (p + 4 > end).any():
            raise PgError("COPY message ends inside a row")
        ln = _gather(b, p, ">i4").astype(np.int64)
        p += 4
        nxt = p + np.maximum(ln, 0)
        if (ln < -1).any() or (nxt > end).any():
            raise PgError("COPY message ends inside a row")
        cols.append(_column(b, mem, oid, typ, p, ln))
        p = nxt
    if (p != end).any():
        raise PgError("COPY message holds more than one row")
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def iter_copy_batches(
    params: ConnParams,
    query: str,
    fields: list[tuple[str, int, int]],
    batch_size: int,
):
    """Stream ``query`` via binary COPY, yielding ``pyarrow.RecordBatch``es
    of at most ``batch_size`` rows — the executor-side row pump.  Memory is
    bounded by one batch regardless of result size.  Column types are
    ``to_arrow_type(schema_of(fields))``, so batches feed mapInArrow as-is.

    Decoding is column-wise with no per-row Python past message framing:
    fixed-width and text-like columns are numpy gathers, only numeric,
    uuid, jsonb and arrays decode per value (PERF_NOTES: "column-wise
    binary COPY decode into Arrow")."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    schema = pa.schema(list(to_arrow_type(schema_of(fields))))
    sock = connect(params)
    try:
        for mem, starts, ends in _copy_out_rows(sock, query, batch_size):
            yield _decode_rows(mem, starts, ends, fields, schema)
    finally:
        sock.close()


def query_row(params: ConnParams, sql: str, fields) -> dict | None:
    """First row of ``sql`` as {column: python value}, None when empty —
    for one-row metadata probes (counts, bounds, ledger checks)."""
    for batch in iter_copy_batches(params, sql, fields, 1):
        return batch.to_pylist()[0]
    return None


def _txn_published(params: ConnParams, app_id: str, version: int, table: str) -> bool:
    """Whether the exactly-once ledger already holds (app_id, version)."""
    row = query_row(
        params,
        f"SELECT count(*)::int8 AS n FROM __lhl_txn WHERE app_id = '{app_id}' "
        f"AND version = {version} AND tbl = '{table}'",
        [("n", 20, -1)],
    )
    return row["n"] > 0


# -- the Spark reader --------------------------------------------------------


def partition_predicates(
    params: ConnParams,
    query: str,
    partition_column: str,
    num_partitions: int,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> list[str]:
    """Range-stride predicates over an integral partition column (Spark's
    JDBC partitioning shape): one server round-trip for min/max (skipped
    when explicit bounds are given), then N half-open strides; NULLs ride
    with the first.  The min/max query is index-only on a keyed column —
    metadata-cost planning."""
    if lower_bound is not None and upper_bound is not None:
        lo, hi = int(lower_bound), int(upper_bound)
    else:
        agg = (
            f"SELECT min({partition_column})::int8, max({partition_column})::int8 "
            f"FROM ({query}) __lhl_b"
        )
        row = query_row(params, agg, [("lo", 20, -1), ("hi", 20, -1)])
        if row is None or row["lo"] is None:
            return ["TRUE"]  # empty result — one partition scans nothing
        lo, hi = row["lo"], row["hi"]
    n = max(1, min(num_partitions, hi - lo + 1))
    stride = (hi - lo + 1 + n - 1) // n
    preds = []
    for i in range(n):
        a, b = lo + i * stride, lo + (i + 1) * stride
        # Spark JDBC partitioning contract: bounds choose the STRIDE only,
        # they never filter rows — the first partition is unbounded below
        # (and carries NULLs), the last unbounded above, so explicit bounds
        # narrower than the data's actual range still return every row
        if n == 1:
            p = "TRUE"
        elif i == 0:
            p = f"({partition_column} < {b}) OR {partition_column} IS NULL"
        elif i == n - 1:
            p = f"{partition_column} >= {a}"
        else:
            p = f"{partition_column} >= {a} AND {partition_column} < {b}"
        preds.append(p)
    return preds


def read_postgres_wire(
    spark,
    conn_url: str,
    query: str,
    batch_size: int = 10_000,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
):
    """Postgres query → DataFrame over the wire protocol, no JDBC jar.

    Driver work is metadata-only (Parse/Describe for the schema, plus one
    min/max round-trip when partitioned); every data row is fetched
    executor-side through mapInArrow in ``batch_size``-bounded Arrow
    record batches (``iter_copy_batches``), with the session's full
    ``ConnParams`` — sslmode included — on every executor connection.

    With ``partition_column``/``num_partitions`` the read fans out as N
    concurrent server cursors with range predicates — the same contract
    as Spark's JDBC partitioning options.  The fan-out is seeded by
    ``spark.range(0, N, 1, N)``: exactly one predicate index per Spark
    partition, so each task runs exactly one cursor and no shuffle runs
    before the first row."""
    params = parse_libpq_url(conn_url, user=user, password=password)
    fields = describe_query(params, query)
    if not fields:
        raise ValueError(f"query returns no columns: {query!r}")
    schema = schema_of(fields)
    if partition_column:
        preds = partition_predicates(
            params,
            query,
            partition_column,
            num_partitions or spark.sparkContext.defaultParallelism,
            lower_bound,
            upper_bound,
        )
    else:
        preds = ["TRUE"]

    def fetch(batches):
        for batch in batches:
            for i in batch.column("id").to_pylist():
                sub = f"SELECT * FROM ({query}) __lhl_q WHERE {preds[i]}"
                yield from iter_copy_batches(params, sub, fields, batch_size)

    return spark.range(0, len(preds), 1, len(preds)).mapInArrow(fetch, schema)


# -- the Postgres SINK (COPY FROM STDIN, binary) -----------------------------


def simple_command(params: ConnParams, sql: str) -> None:
    """Run one or more SQL commands over a fresh session; raises PgError
    on any server error (used for DDL / transactional swaps)."""
    sock = connect(params)
    try:
        sock.sendall(_msg(b"Q", sql.encode() + b"\x00"))
        err = None
        while True:
            typ, payload = _read_msg(sock)
            if typ == b"E":
                err = _error_text(payload)
            elif typ == b"Z":
                break
        if err:
            raise PgError(err)
    finally:
        sock.close()


def _pg_type_of(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "text"
    if isinstance(dt, T.BinaryType):
        return "bytea"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.ArrayType):
        return f"{_pg_type_of(dt.elementType)}[]"
    raise ValueError(f"no PostgreSQL mapping for Spark type {dt.simpleString()}")


def _encode_numeric(d: Decimal) -> bytes:
    """Decimal → the NUMERIC binary format (base-10000 digit groups) —
    the exact inverse of _decode_numeric."""
    if d.is_nan():
        return struct.pack(">hhHH", 0, 0, 0xC000, 0)
    # as_tuple only — abs()/comparison are context ops that ROUND wide
    # decimals at the default 28-digit precision
    t = d.as_tuple()
    sign = 0x4000 if t.sign else 0x0000
    dscale = max(0, -t.exponent)
    unscaled = 0
    for dig in t.digits:
        unscaled = unscaled * 10 + dig
    e = t.exponent
    pad = e % 4  # align the exponent to a base-10000 boundary
    unscaled *= 10 ** pad
    e -= pad
    groups: list[int] = []
    while unscaled:
        groups.append(unscaled % 10000)
        unscaled //= 10000
    groups.reverse()
    if not groups:
        return struct.pack(">hhHH", 0, 0, sign, dscale)
    weight = len(groups) - 1 + e // 4
    # the spec omits trailing zero groups
    while groups and groups[-1] == 0:
        groups.pop()
    return struct.pack(f">hhHH{len(groups)}H", len(groups), weight, sign, dscale, *groups)


def _oid_of(dt) -> int:
    from pyspark.sql import types as T

    m = {
        T.BooleanType: 16,
        T.ShortType: 21,
        T.IntegerType: 23,
        T.LongType: 20,
        T.FloatType: 700,
        T.DoubleType: 701,
        T.StringType: 25,
        T.DecimalType: 1700,
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    raise ValueError(f"no array element OID for {dt.simpleString()}")


def _field_encoder(dt):
    """Spark type → (python value → COPY-binary payload bytes)."""
    import datetime as _dt

    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return lambda v: b"\x01" if v else b"\x00"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return lambda v: struct.pack(">h", int(v))
    if isinstance(dt, T.IntegerType):
        return lambda v: struct.pack(">i", int(v))
    if isinstance(dt, T.LongType):
        return lambda v: struct.pack(">q", int(v))
    if isinstance(dt, T.FloatType):
        return lambda v: struct.pack(">f", float(v))
    if isinstance(dt, T.DoubleType):
        return lambda v: struct.pack(">d", float(v))
    if isinstance(dt, T.DecimalType):
        return lambda v: _encode_numeric(v if isinstance(v, Decimal) else Decimal(str(v)))
    if isinstance(dt, T.StringType):
        return lambda v: str(v).encode()
    if isinstance(dt, T.BinaryType):
        return bytes
    if isinstance(dt, T.DateType):
        return lambda v: struct.pack(
            ">i", (v.date() if isinstance(v, _dt.datetime) else v).toordinal()
            - _dt.date(2000, 1, 1).toordinal()
        )
    if isinstance(dt, T.ArrayType):
        elem_enc = _field_encoder(dt.elementType)
        elem_oid = _oid_of(dt.elementType)

        def arr(v):
            items = list(v)
            out = bytearray(struct.pack(">iii", 1, 0, elem_oid))
            out += struct.pack(">ii", len(items), 1)
            for it in items:
                if it is None:
                    out += struct.pack(">i", -1)
                else:
                    payload = elem_enc(it)
                    out += struct.pack(">i", len(payload)) + payload
            return bytes(out)

        return arr
    if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):

        def ts(v):
            # pandas Timestamp / datetime, tz-aware or naive → µs since
            # 2000-01-01 (UTC when aware)
            if getattr(v, "tzinfo", None) is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            epoch = _dt.datetime(1970, 1, 1)
            # exact integer µs from components (float seconds lose µs)
            delta = v - epoch
            us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            return struct.pack(">q", us - _PG_EPOCH_US)

        return ts
    raise ValueError(f"no COPY encoder for Spark type {dt.simpleString()}")


def copy_into(params_or_sock, table: str, pdf, encoders) -> int:
    """COPY one pandas batch into ``table`` (FORMAT binary), one
    transaction per call; returns rows written.  Accepts an open socket
    (reused across a partition's batches — no per-batch reconnect) or
    ConnParams (one-shot)."""
    own = isinstance(params_or_sock, ConnParams)
    sock = connect(params_or_sock) if own else params_or_sock
    try:
        sql = f'COPY {table} FROM STDIN (FORMAT binary)'
        sock.sendall(_msg(b"Q", sql.encode() + b"\x00"))
        # expect CopyInResponse (G); errors surface as E
        while True:
            typ, payload = _read_msg(sock)
            if typ == b"E":
                raise PgError(_error_text(payload))
            if typ == b"G":
                break
        import pandas as pd

        out = bytearray(b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8)
        ncols = len(pdf.columns)
        # isna() handles None / NaN / NaT / pd.NA uniformly (a bare
        # `v != v` would raise on pd.NA from masked extension arrays)
        cols = [pdf[c].tolist() for c in pdf.columns]
        nulls = [pd.isna(pdf[c]).tolist() for c in pdf.columns]
        for i in range(len(pdf)):
            out += struct.pack(">h", ncols)
            for col, isnull, enc in zip(cols, nulls, encoders):
                if isnull[i]:
                    out += struct.pack(">i", -1)
                else:
                    payload = enc(col[i])
                    out += struct.pack(">i", len(payload)) + payload
        out += struct.pack(">h", -1)  # trailer
        sock.sendall(_msg(b"d", bytes(out)) + _msg(b"c", b""))
        err = None
        while True:
            typ, payload = _read_msg(sock)
            if typ == b"E":
                err = _error_text(payload)
            elif typ == b"Z":
                break
        if err:
            raise PgError(err)
        return len(pdf)
    finally:
        if own:
            sock.close()


def write_postgres_wire(
    df,
    conn_url: str,
    table: str,
    mode: str = "error",
    user: str | None = None,
    password: str | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """DataFrame → PostgreSQL table over binary COPY, no JDBC jar — the
    WRITE half of the wire connector (the reference only loads FROM
    Postgres; a pipeline also needs the reverse for serving/export).

    Each partition COPYs into a job-scoped STAGING table from its own
    executor-side connection (parallel server ingest); the driver then
    publishes atomically in ONE transaction — create/rename for
    ``overwrite``/``error``, INSERT..SELECT for ``append`` — so readers
    never observe a partial job and a failed job leaves the target
    untouched (the staging table is dropped).  Returns rows written.

    ``mode``: ``error`` (create; fail if the table exists),
    ``overwrite`` (replace contents), ``append``.

    ``txn=(app_id, version)`` makes the publish EXACTLY-ONCE under
    retries — the pg twin of the Delta sink's ``txn`` action: the ledger
    row (``__lhl_txn``) inserts in the SAME transaction as the data
    publish, so a retried job whose predecessor already committed
    returns 0 without re-appending, and a crash before publish left
    nothing visible to re-deduplicate against."""
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    if not all(part.isidentifier() for part in table.split(".")):
        raise ValueError(f"unsafe table name {table!r}")
    if txn is not None:
        app_id, txn_version = str(txn[0]), int(txn[1])
        if not app_id.replace("-", "_").replace(".", "_").isidentifier():
            raise ValueError(f"unsafe txn app id {app_id!r}")
    params = parse_libpq_url(conn_url, user=user, password=password)
    schema = df.schema
    col_ddl = ", ".join(
        f'{f.name} {_pg_type_of(f.dataType)}' for f in schema.fields
    )
    if txn is not None:
        simple_command(
            params,
            "CREATE TABLE IF NOT EXISTS __lhl_txn "
            "(app_id text, version bigint, tbl text, committed_at timestamptz "
            "DEFAULT now(), PRIMARY KEY (app_id, version, tbl))",
        )
        if _txn_published(params, app_id, txn_version, table):
            return 0  # this (app_id, version) already published
    # stage INSIDE the target's schema: ALTER TABLE .. RENAME keeps a table
    # in its own schema, so an unqualified staging table would publish
    # 'analytics.foo' into public — and the error-mode rename collision
    # must be checked against the target schema, not the default one
    schema_prefix = table.rsplit(".", 1)[0] + "." if "." in table else ""
    staging = (
        f"{schema_prefix}{table.split('.')[-1]}"
        f"__lhl_stage_{os.urandom(4).hex()}"
    )
    simple_command(params, f"CREATE TABLE {staging} ({col_ddl})")
    dtypes = [f.dataType for f in schema.fields]

    def sink(batches):
        import pandas as pd

        encs = [_field_encoder(dt) for dt in dtypes]
        n = 0
        sock = None
        try:
            for pdf in batches:
                if len(pdf):
                    if sock is None:  # one connection per partition
                        sock = connect(params)
                    n += copy_into(sock, staging, pdf, encs)
        finally:
            if sock is not None:
                sock.close()
        yield pd.DataFrame({"n": [n]})

    try:
        written = int(
            df.mapInPandas(sink, "n long").agg({"n": "sum"}).collect()[0][0] or 0
        )
        ledger = (
            f" INSERT INTO __lhl_txn (app_id, version, tbl) VALUES "
            f"('{app_id}', {txn_version}, '{table}');"
            if txn is not None
            else ""
        )
        if mode == "append":
            simple_command(
                params,
                f"BEGIN; INSERT INTO {table} SELECT * FROM {staging}; "
                f"DROP TABLE {staging};{ledger} COMMIT;",
            )
        elif mode == "overwrite":
            simple_command(
                params,
                f"BEGIN; DROP TABLE IF EXISTS {table}; "
                f"ALTER TABLE {staging} RENAME TO {table.split('.')[-1]};"
                f"{ledger} COMMIT;",
            )
        else:  # error: publish only if the target does not exist
            simple_command(
                params,
                f"BEGIN; ALTER TABLE {staging} RENAME TO {table.split('.')[-1]};"
                f"{ledger} COMMIT;",
            )
        return written
    except Exception:
        try:
            simple_command(params, f"DROP TABLE IF EXISTS {staging}")
        except PgError:
            pass
        raise


def table_columns_postgres_wire(
    conn_url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
) -> list[str]:
    """Live column names of ``table`` in ordinal order (lowercase-folded,
    as the catalog stores unquoted identifiers), or [] when the table does
    not exist — the schema-drift probe CDC replication runs before every
    keyed window (streaming/tail.py)."""
    if not all(
        part.isidentifier() and part.isascii() for part in table.split(".")
    ):
        raise ValueError(f"unsafe table name {table!r} (ASCII identifiers only)")
    params = parse_libpq_url(conn_url, user=user, password=password)
    schema_pred = (
        f"table_schema = '{table.rsplit('.', 1)[0].lower()}'"
        if "." in table
        else "table_schema = current_schema()"
    )
    cols: list[str] = []
    for batch in iter_copy_batches(
        params,
        f"SELECT column_name::text AS c FROM information_schema.columns "
        f"WHERE {schema_pred} AND table_name = "
        f"'{table.split('.')[-1].lower()}' ORDER BY ordinal_position",
        [("c", 25, -1)],
        256,
    ):
        cols.extend(batch.column("c").to_pylist())
    return cols


def add_columns_postgres_wire(
    conn_url: str,
    table: str,
    columns: list[tuple[str, str]],
    user: str | None = None,
    password: str | None = None,
) -> None:
    """ALTER TABLE ... ADD COLUMN for each (name, pg_type) — nullable, so
    pre-evolution rows read as NULL (the only value they can honestly
    have).  One statement per transaction-free command; ADD COLUMN with
    no default is metadata-only in PostgreSQL, O(1) regardless of table
    size."""
    if not all(
        part.isidentifier() and part.isascii() for part in table.split(".")
    ):
        raise ValueError(f"unsafe table name {table!r} (ASCII identifiers only)")
    params = parse_libpq_url(conn_url, user=user, password=password)
    for name, pg_type in columns:
        # ASCII-only on top of isidentifier(), same rule as table names:
        # the CDC drift probe folds with str.lower() while the server
        # folds only ASCII letters of an unquoted identifier — a
        # non-ASCII mixed-case column would wedge every later window on a
        # false "no longer carries" refusal
        if not (name.isidentifier() and name.isascii()):
            raise ValueError(f"unsafe column name {name!r} (ASCII identifiers only)")
        simple_command(
            params, f"ALTER TABLE {table} ADD COLUMN {name} {pg_type}"
        )


def merge_postgres_wire(
    df,
    conn_url: str,
    table: str,
    key_cols: list[str],
    delete_col: str | None = None,
    user: str | None = None,
    password: str | None = None,
    txn: tuple[str, int] | None = None,
) -> tuple[int, int]:
    """Keyed MERGE into a PostgreSQL table over the wire sink: per key in
    ``df`` the target's row is REPLACED by the frame's row — or REMOVED
    where ``delete_col`` (an optional boolean column) is true.  The CDC
    apply primitive: a change-feed window reduced to final-state-per-key
    publishes through this in one server-side transaction
    (DELETE USING staging, then INSERT the non-tombstone rows), so readers
    never observe a half-applied window and a failed publish leaves the
    target untouched.  Returns (rows_upserted, keys_deleted).

    ``df`` must be UNIQUE per key (a window reduced per-key already is);
    the publish transaction verifies this against the staged rows and
    ROLLS BACK with an error otherwise — last-writer-wins on a duplicate
    key inside one batch would be arrival-order-dependent, exactly the
    nondeterminism merge_delta refuses too.  Missing target table:
    created from the frame's schema (minus ``delete_col``), tombstones
    simply no-op.  ``txn=(app_id, version)``: same exactly-once ledger
    handshake as ``write_postgres_wire`` — the ledger row commits IN the
    publish transaction."""
    from pyspark.sql import functions as F

    # ASCII-only on top of isidentifier(): the pg_tables existence check
    # below compares lowercase-FOLDED names, and PostgreSQL folds only
    # ASCII letters of an unquoted identifier while str.lower() folds
    # everything — a non-ASCII mixed-case name would wedge on the second
    # merge exactly like the unfolded compare this guards against
    if not all(
        part.isidentifier() and part.isascii() for part in table.split(".")
    ):
        raise ValueError(f"unsafe table name {table!r} (ASCII identifiers only)")
    if not key_cols:
        raise ValueError("key_cols must be non-empty for a keyed merge")
    data_fields = [
        f for f in df.schema.fields if delete_col is None or f.name != delete_col
    ]
    names = [f.name for f in data_fields]
    for k in key_cols:
        if k not in names:
            raise ValueError(f"key column {k!r} not in frame columns {names}")
    if not all(c.isidentifier() for c in names):
        raise ValueError(f"unsafe column names {names}")
    if delete_col is not None and not delete_col.isidentifier():
        raise ValueError(f"unsafe delete column name {delete_col!r}")
    if txn is not None:
        app_id, txn_version = str(txn[0]), int(txn[1])
        if not app_id.replace("-", "_").replace(".", "_").isidentifier():
            raise ValueError(f"unsafe txn app id {app_id!r}")
    params = parse_libpq_url(conn_url, user=user, password=password)
    if txn is not None:
        simple_command(
            params,
            "CREATE TABLE IF NOT EXISTS __lhl_txn "
            "(app_id text, version bigint, tbl text, committed_at timestamptz "
            "DEFAULT now(), PRIMARY KEY (app_id, version, tbl))",
        )
        if _txn_published(params, app_id, txn_version, table):
            return (0, 0)  # this (app_id, version) already published
    if delete_col is not None:
        # a NULL flag must mean "not a tombstone": raw NULLs would join
        # the keyed DELETE but fail the NOT-flag re-insert filter,
        # silently deleting the key while counting as neither op
        staged = df.withColumn(
            delete_col, F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        )
        del_name = delete_col
    else:
        staged = df.withColumn("__lhl_del", F.lit(False))
        del_name = "__lhl_del"
    # stage via the plain writer into a scratch table (no txn there — the
    # ledger belongs to the PUBLISH transaction below)
    schema_prefix = table.rsplit(".", 1)[0] + "." if "." in table else ""
    staging = (
        f"{schema_prefix}{table.split('.')[-1]}"
        f"__lhl_merge_{os.urandom(4).hex()}"
    )
    write_postgres_wire(
        staged, conn_url, staging, mode="error", user=user, password=password
    )
    key_eq = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    key_tuple = ", ".join(key_cols)
    cols = ", ".join(names)
    ledger = (
        f" INSERT INTO __lhl_txn (app_id, version, tbl) VALUES "
        f"('{app_id}', {txn_version}, '{table}');"
        if txn is not None
        else ""
    )
    try:
        any_null = " OR ".join(f"{k} IS NULL" for k in key_cols)
        dup = query_row(
            params,
            f"SELECT (count(*) - count(DISTINCT ({key_tuple})))::int8 AS d, "
            f"sum(({any_null})::int)::int8 AS nk "
            f"FROM {staging}",
            [("d", 20, -1), ("nk", 20, -1)],
        )
        if (dup["nk"] or 0) > 0:
            # DELETE USING t.k = s.k never matches a NULL key, so a NULL-keyed
            # row would pass count(DISTINCT) yet re-insert on every merge —
            # duplicating instead of replacing. Same contract as tail.py.
            raise ValueError(
                f"keyed feed cannot address NULL keys ({key_tuple}): "
                f"{dup['nk']} staged row(s) carry a NULL key column"
            )
        if dup["d"] > 0:
            raise ValueError(
                f"merge batch not unique per key ({key_tuple}): reduce the "
                "window per key first (last-writer-wins inside one batch "
                "would be arrival-order-dependent)"
            )
        counts = query_row(
            params,
            f"SELECT sum((NOT {del_name})::int)::int8 AS u, "
            f"sum(({del_name})::int)::int8 AS d FROM {staging}",
            [("u", 20, -1), ("d", 20, -1)],
        )
        n_upsert = counts["u"] or 0
        n_delete = counts["d"] or 0
        # unquoted identifiers fold to lowercase server-side, so the
        # catalog stores the folded name — compare folded on both sides
        schema_pred = (
            f"schemaname = '{table.rsplit('.', 1)[0].lower()}'"
            if "." in table
            else "schemaname = current_schema()"
        )
        exists = query_row(
            params,
            f"SELECT count(*)::int8 AS n FROM pg_tables WHERE "
            f"{schema_pred} AND tablename = '{table.split('.')[-1].lower()}'",
            [("n", 20, -1)],
        )
        if exists["n"] == 0:
            simple_command(
                params,
                f"BEGIN; CREATE TABLE {table} AS SELECT {cols} FROM {staging} "
                f"WHERE NOT {del_name}; DROP TABLE {staging};{ledger} COMMIT;",
            )
        else:
            simple_command(
                params,
                f"BEGIN; DELETE FROM {table} t USING {staging} s WHERE {key_eq}; "
                f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
                f"WHERE NOT {del_name}; DROP TABLE {staging};{ledger} COMMIT;",
            )
        return (n_upsert, n_delete)
    except Exception:
        try:
            simple_command(params, f"DROP TABLE IF EXISTS {staging}")
        except PgError:
            pass
        raise
