"""EXECUTED Postgres-source proof (SURVEY §2 R1) — no docker, no JDBC jar:
the suite provisions its own PostgreSQL server (initdb + pg_ctl, trust
auth on a loopback port) and reads the t1 fixture (tests/pg-init/init.sql,
mirroring the reference's tests/postgres-init-scripts/init-pg-data.sql and
the value assertions of basic_integration.rs:220-427) through the
pure-stdlib wire-protocol source (sources/pgwire.py).

Skips only when no PostgreSQL server binaries exist on the host or the
server cannot start (e.g. no non-root user available — postgres refuses
to run as root by design)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import socket
import subprocess
import tempfile
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from lakehouse_loader_spark.sources import pgwire as W

# slow: live pg loopback CLI replication (~2 min)
pytestmark = pytest.mark.slow

INIT_SQL = os.path.join(os.path.dirname(__file__), "pg-init", "init.sql")
PG_USER = "pguser"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _run_as(user: str, cmd: str) -> subprocess.CompletedProcess:
    if os.geteuid() == 0:
        return subprocess.run(
            ["su", user, "-s", "/bin/sh", "-c", cmd],
            capture_output=True,
            text=True,
            cwd="/tmp",
        )
    return subprocess.run(
        ["/bin/sh", "-c", cmd], capture_output=True, text=True, cwd="/tmp"
    )


@pytest.fixture(scope="module")
def pg_url():
    if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
        pytest.skip("no PostgreSQL server binaries on this host")
    run_user = PG_USER
    if os.geteuid() == 0:
        import pwd

        try:
            pwd.getpwnam(PG_USER)
        except KeyError:
            if subprocess.run(["useradd", "-m", PG_USER], capture_output=True).returncode:
                pytest.skip("cannot create a non-root user to run postgres")
    else:
        import getpass

        run_user = getpass.getuser()
    base = tempfile.mkdtemp(prefix="lhl_pgwire_")
    os.chmod(base, 0o777)
    data = os.path.join(base, "data")
    port = _free_port()
    r = _run_as(run_user, f"initdb -D {data} -A trust -U {run_user}")
    if r.returncode:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    # self-signed cert -> the server offers TLS and the 'S' handshake path
    # is exercised for real (sslmode=require then encrypts the session)
    tls = False
    if shutil.which("openssl"):
        crt, key = os.path.join(data, "server.crt"), os.path.join(data, "server.key")
        r = subprocess.run(
            [
                "openssl", "req", "-new", "-x509", "-days", "2", "-nodes",
                "-text", "-subj", "/CN=localhost",
                "-out", crt, "-keyout", key,
            ],
            capture_output=True,
        )
        if r.returncode == 0:
            os.chmod(key, 0o600)
            import pwd as _pwd

            try:
                u = _pwd.getpwnam(run_user)
                os.chown(key, u.pw_uid, u.pw_gid)
                os.chown(crt, u.pw_uid, u.pw_gid)
            except (KeyError, PermissionError):
                pass
            with open(os.path.join(data, "postgresql.conf"), "a") as fh:
                fh.write("\nssl = on\nssl_cert_file = 'server.crt'\nssl_key_file = 'server.key'\n")
            tls = True
    # demand SCRAM for one role so the auth exchange is actually exercised
    hba = os.path.join(data, "pg_hba.conf")
    with open(hba) as fh:
        rules = fh.read()
    with open(hba, "w") as fh:
        fh.write("host all scramuser 127.0.0.1/32 scram-sha-256\n" + rules)
    log = os.path.join(base, "pg.log")
    r = _run_as(
        run_user,
        f"pg_ctl -D {data} -l {log} -o '-p {port} -k {base} "
        f"-c listen_addresses=127.0.0.1' start",
    )
    if r.returncode:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    try:
        url = f"postgresql://{run_user}@127.0.0.1:{port}/postgres"
        params = W.parse_libpq_url(url)
        sock = W.connect(params)
        try:
            with open(INIT_SQL) as fh:
                sql = fh.read()
            sock.sendall(W._msg(b"Q", sql.encode() + b"\x00"))
            err = None
            while True:
                typ, payload = W._read_msg(sock)
                if typ == b"E":
                    err = W._error_text(payload)
                if typ == b"Z":
                    break
            assert err is None, err
            sock.sendall(
                W._msg(
                    b"Q",
                    b"CREATE ROLE scramuser LOGIN PASSWORD 'wire-secret';\x00",
                )
            )
            while W._read_msg(sock)[0] != b"Z":
                pass
        finally:
            sock.close()
        yield url
    finally:
        _run_as(run_user, f"pg_ctl -D {data} -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)


T1 = "select * from t1 order by id"


def test_t1_schema_matches_reference_mapping(pg_url):
    """The SURVEY §1 type contract, via a real server round-trip: the same
    14-column mapping the offline golden test pins
    (tests/test_types_roundtrip.py::T1_SCHEMA)."""
    params = W.parse_libpq_url(pg_url)
    schema = W.schema_of(W.describe_query(params, T1))
    assert schema.simpleString() == (
        "struct<id:bigint,cbool:boolean,cchar:tinyint,cint2:smallint,"
        "cint4:int,cint8:bigint,cfloat4:float,cfloat8:double,"
        "ctimestamp:timestamp_ntz,ctimestamptz:timestamp,cdate:date,"
        "cnumeric:decimal(8,3),ctext:string,cbytea:binary"
        ">"
    )


def test_t1_values_roundtrip_through_spark(spark, pg_url):
    """Full read: 25,001 rows (all-NULL seed + 25k generated), value-level
    checks of every type family against the generating formulas
    (pg-init/init.sql), incl. the NUMERIC(8,3) edge cycle."""
    df = W.read_postgres_wire(spark, pg_url, T1).cache()
    try:
        assert df.count() == 25_001
        nulls = df.filter("ctext IS NULL").collect()
        assert len(nulls) == 1 and nulls[0].id == 1
        assert all(v is None for k, v in nulls[0].asDict().items() if k != "id")
        r = df.filter("id = 2").collect()[0]  # g=1
        assert r.cbool is False and r.cchar == 66  # chr(65+1)='B'
        assert r.cint2 == -32767 and r.cint4 == 7919 - 100_000_000
        assert r.cint8 == 1_000_003 - 4_000_000_000
        assert abs(r.cfloat4 - (-1 / 3)) < 1e-6
        assert abs(r.cfloat8 - (-1 / 7)) < 1e-12
        assert r.ctimestamp == dt.datetime(2000, 1, 1, 0, 1)
        assert r.cdate == dt.date(2000, 1, 2)
        assert r.cnumeric == Decimal("0.001")
        assert r.ctext == "row-1" and r.cbytea == (1).to_bytes(4, "big")
        # numeric edge cycle: g%5 -> {0, .001, -.001, 99999.999, -99999.999}
        got = {
            x.id: x.cnumeric
            for x in df.filter("id between 2 and 6").collect()
        }
        assert got == {
            2: Decimal("0.001"),
            3: Decimal("-0.001"),
            4: Decimal("99999.999"),
            5: Decimal("-99999.999"),
            6: Decimal("0.000"),
        }
        # aggregate cross-check against the closed forms
        agg = df.agg(
            F.sum("cint8").alias("s8"),
            F.max("cdate").alias("maxd"),
            F.min("ctimestamp").alias("mints"),
        ).collect()[0]
        n = 25_000
        assert agg.s8 == 1_000_003 * n * (n + 1) // 2 - 4_000_000_000 * n
        assert agg.mints == dt.datetime(2000, 1, 1, 0, 1)
    finally:
        df.unpersist()


def test_partitioned_read_fans_out_and_loses_nothing(spark, pg_url):
    """Range-stride partitioning (the Spark-JDBC shape): N independent
    server cursors, union == the unpartitioned result, NULL keys kept."""
    df = W.read_postgres_wire(
        spark, pg_url, "select id, cint4 from t1", partition_column="id", num_partitions=8
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 25_001
    assert df.select("id").distinct().count() == 25_001
    # explicit bounds skip the min/max round-trip, rows still complete
    df2 = W.read_postgres_wire(
        spark,
        pg_url,
        "select id, cint4 from t1",
        partition_column="id",
        num_partitions=4,
        lower_bound=1,
        upper_bound=25_001,
    )
    assert df2.count() == 25_001


@pytest.mark.parametrize("n", [3, 4, 8])
def test_partitioned_read_runs_one_cursor_per_task(spark, pg_url, n):
    """Every Spark partition runs exactly one range cursor: none is left
    empty, none holds two strides (per-partition id ranges are disjoint),
    and together they still hold every row."""
    df = W.read_postgres_wire(
        spark, pg_url, "select id from t1", partition_column="id", num_partitions=n
    )
    parts = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"), F.count("*").alias("rows"))
        .orderBy("lo")
        .collect()
    )
    assert sorted(r.p for r in parts) == list(range(n))
    for left, right in zip(parts, parts[1:]):
        assert left.hi < right.lo, (left, right)
    assert sum(r.rows for r in parts) == 25_001
    assert df.select("id").distinct().count() == 25_001


def test_batch_size_bounds_executor_memory_not_results(spark, pg_url):
    got = (
        W.read_postgres_wire(spark, pg_url, "select id from t1", batch_size=997)
        .agg(F.sum("id"))
        .collect()[0][0]
    )
    assert got == 25_001 * 25_002 // 2


def test_scram_sha256_auth_and_rejection(pg_url):
    """The SASL SCRAM-SHA-256 exchange (RFC 5802/7677) against a role the
    server demands it for — and the wrong password fails loudly."""
    base = W.parse_libpq_url(pg_url)
    ok = W.ConnParams(base.host, base.port, "scramuser", "wire-secret", base.database)
    sock = W.connect(ok)
    sock.close()
    bad = W.ConnParams(base.host, base.port, "scramuser", "nope", base.database)
    with pytest.raises(W.PgError):
        W.connect(bad)


def test_server_errors_fail_loudly(spark, pg_url):
    params = W.parse_libpq_url(pg_url)
    with pytest.raises(W.PgError, match="does not exist"):
        W.describe_query(params, "select * from no_such_table")
    # error mid-COPY (after the plan, during execution) also surfaces
    with pytest.raises(Exception, match="division by zero"):
        W.read_postgres_wire(spark, pg_url, "select 1/0 as boom from t1").collect()


def test_read_postgres_query_auto_falls_back_to_wire(spark, pg_url):
    """driver="auto" with no pgJDBC jar on the classpath (this container)
    must transparently serve the query over the wire protocol — the
    reference CLI's `-q` delegation path, executed."""
    from lakehouse_loader_spark.sources.readers import read_postgres_query

    df = read_postgres_query(spark, pg_url, "select count(*) as n from t1")
    assert df.collect()[0].n == 25_001


def test_pg_to_delta_e2e_wire(spark, pg_url, tmpdir):
    """The reference's test_pg_to_delta_e2e (basic_integration.rs:19-61)
    without docker: pg -> delta, two-commit log layout, read-back count."""
    import glob
    import re

    from lakehouse_loader_spark.sinks.delta import read_delta, write_delta
    from lakehouse_loader_spark.sources.readers import read_postgres_query

    df = read_postgres_query(spark, pg_url, T1)
    target = os.path.join(tmpdir, "t1_delta")
    write_delta(df.coalesce(1), target)
    logs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(target, "_delta_log", "*.json"))
    )
    assert logs == [
        "00000000000000000000.json",
        "00000000000000000001.json",
    ]
    parts = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(target, "*.parquet"))
    ]
    assert len(parts) == 1 and re.match(r"^part-00000-.*\.snappy\.parquet$", parts[0])
    back = read_delta(spark, target)
    assert back.count() == 25_001
    assert back.schema == df.schema


def test_pg_to_iceberg_e2e_wire(spark, pg_url, tmpdir):
    """The reference's test_pg_to_iceberg (basic_integration.rs:67-121)
    without docker: single snapshot, sequence 1, read-back parity."""
    from lakehouse_loader_spark.sinks.iceberg import (
        read_iceberg,
        snapshot_sequence_numbers,
        write_iceberg,
    )
    from lakehouse_loader_spark.sources.readers import read_postgres_query

    df = read_postgres_query(
        spark, pg_url, "select cint4, cint8, ctext, cbool from t1 order by id"
    )
    target = os.path.join(tmpdir, "t1_ice")
    write_iceberg(df.coalesce(1), target)
    assert snapshot_sequence_numbers(target) == [1]
    back = read_iceberg(spark, target)
    assert back.count() == 25_001
    assert dict(back.dtypes) == {
        "cint4": "int",
        "cint8": "bigint",
        "ctext": "string",
        "cbool": "boolean",
    }


def test_sink_roundtrip_all_types_bit_exact(spark, pg_url):
    """t1 → write_postgres_wire → read back: every one of the 14 types
    (incl. the all-NULL row and the NUMERIC edge cycle) survives the
    binary COPY encode/decode round-trip bit-exactly."""
    t1 = W.read_postgres_wire(spark, pg_url, T1)
    n = W.write_postgres_wire(t1, pg_url, "t1_sinkrt", mode="overwrite")
    assert n == 25_001
    back = W.read_postgres_wire(spark, pg_url, "select * from t1_sinkrt")
    assert back.count() == 25_001
    # ByteType widens to smallint (PostgreSQL has no 1-byte int); every
    # other type maps onto itself
    want = t1.withColumn("cchar", F.col("cchar").cast("smallint"))
    assert back.schema == want.schema
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0


def test_sink_modes_and_atomic_staging(spark, pg_url):
    df = W.read_postgres_wire(spark, pg_url, "select id, cint4 from t1 where id <= 100")
    assert W.write_postgres_wire(df, pg_url, "t_modes", mode="error") == 100
    with pytest.raises(W.PgError, match="already exists"):
        W.write_postgres_wire(df, pg_url, "t_modes", mode="error")
    assert W.write_postgres_wire(df, pg_url, "t_modes", mode="append") == 100
    params = W.parse_libpq_url(pg_url)
    n = W.iter_copy_batches(
        params, "select count(*)::int8 as n from t_modes", [("n", 20, -1)], 2
    )
    assert next(n)["n"][0].as_py() == 200
    W.write_postgres_wire(df, pg_url, "t_modes", mode="overwrite")
    n = W.iter_copy_batches(
        params, "select count(*)::int8 as n from t_modes", [("n", 20, -1)], 2
    )
    assert next(n)["n"][0].as_py() == 100
    # a failed publish leaves no staging litter and the target untouched
    leftovers = W.iter_copy_batches(
        params,
        "select count(*)::int8 as n from information_schema.tables "
        "where table_name like '%lhl_stage%'",
        [("n", 20, -1)],
        2,
    )
    assert next(leftovers)["n"][0].as_py() == 0


def test_sink_rejects_unsafe_table_names(spark, pg_url):
    df = W.read_postgres_wire(spark, pg_url, "select id from t1 limit 1")
    with pytest.raises(ValueError, match="unsafe"):
        W.write_postgres_wire(df, pg_url, "t; DROP TABLE t1", mode="overwrite")


def test_cli_parquet_to_pg(spark, pg_url, tmpdir):
    import subprocess
    import sys as _sys

    src = os.path.join(tmpdir, "src")
    spark.range(0, 500).selectExpr("id", "id * 3 as v").write.parquet(src)
    r = subprocess.run(
        [
            _sys.executable, "-m", "lakehouse_loader_spark.cli",
            "parquet-to-pg", src, pg_url, "--table", "cli_rt", "--mode", "overwrite",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-400:]
    got = W.read_postgres_wire(spark, pg_url, "select * from cli_rt")
    assert got.count() == 500
    assert got.agg(F.sum("v")).first()[0] == 3 * 499 * 500 // 2


def test_sslmode_semantics(spark, pg_url):
    """With the self-signed server cert: require/prefer run the SSLRequest
    handshake and ENCRYPT (reads work over TLS); verify-ca fails against
    the untrusted chain (fail closed, like libpq); disable stays clear.
    Without openssl on the host the server refuses TLS and require must
    fail closed instead of silently downgrading."""
    import socket as _socket
    import ssl as _ssl
    import struct as _struct

    W.connect(W.parse_libpq_url(pg_url + "?sslmode=disable")).close()
    W.connect(W.parse_libpq_url(pg_url + "?sslmode=prefer")).close()
    # ground truth: ask the server itself whether it offers TLS
    p = W.parse_libpq_url(pg_url)
    probe = _socket.create_connection((p.host, p.port))
    probe.sendall(_struct.pack(">ii", 8, 80877103))
    offers_tls = probe.recv(1) == b"S"
    probe.close()
    if offers_tls:
        sock = W.connect(W.parse_libpq_url(pg_url + "?sslmode=require"))
        assert isinstance(sock, _ssl.SSLSocket)
        sock.close()
        # a full read over TLS
        df = W.read_postgres_wire(
            spark, pg_url + "?sslmode=require", "select count(*) as n from t1"
        )
        assert df.collect()[0].n == 25_001
        with pytest.raises((W.PgError, _ssl.SSLError, OSError)):
            W.connect(W.parse_libpq_url(pg_url + "?sslmode=verify-ca"))
    else:
        with pytest.raises(W.PgError, match="refused TLS"):
            W.connect(W.parse_libpq_url(pg_url + "?sslmode=require"))
    with pytest.raises(ValueError, match="sslmode"):
        W.parse_libpq_url(pg_url + "?sslmode=bogus")


def test_executors_keep_sslmode_on_read(spark, pg_url):
    """The executor-side COPY session honours the URL's sslmode: with
    ``disable`` it never encrypts, even when the server offers TLS."""
    df = W.read_postgres_wire(
        spark,
        pg_url + "?sslmode=disable",
        "select ssl from pg_stat_ssl where pid = pg_backend_pid()",
    )
    assert [r.ssl for r in df.collect()] == [False]


def test_executors_keep_sslmode_on_staged_write(spark, pg_url):
    """The sink's executor-side COPY into the staging table honours the
    URL's sslmode too.  A statement trigger, attached to the staging table
    as it is created, records pg_stat_ssl for the session running COPY."""
    params = W.parse_libpq_url(pg_url)
    W.simple_command(
        params,
        """
        CREATE TABLE ssl_seen (ssl boolean);
        CREATE FUNCTION note_ssl() RETURNS trigger LANGUAGE plpgsql AS $$
        BEGIN
          INSERT INTO ssl_seen
            SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid();
          RETURN NULL;
        END $$;
        CREATE FUNCTION hook_staging() RETURNS event_trigger
        LANGUAGE plpgsql AS $$
        DECLARE r record;
        BEGIN
          FOR r IN SELECT objid::regclass AS t
                   FROM pg_event_trigger_ddl_commands()
                   WHERE object_identity LIKE '%t_sslw__lhl_stage_%'
          LOOP
            EXECUTE format('CREATE TRIGGER note_ssl BEFORE INSERT ON %s '
                           'FOR EACH STATEMENT EXECUTE FUNCTION note_ssl()',
                           r.t);
          END LOOP;
        END $$;
        CREATE EVENT TRIGGER hook_staging ON ddl_command_end
          WHEN TAG IN ('CREATE TABLE') EXECUTE FUNCTION hook_staging();
        """,
    )
    try:
        df = spark.range(0, 10).repartition(2)
        n = W.write_postgres_wire(
            df, pg_url + "?sslmode=disable", "t_sslw", mode="overwrite"
        )
        assert n == 10
        seen = W.read_postgres_wire(spark, pg_url, "select ssl from ssl_seen")
        got = [r.ssl for r in seen.collect()]
        assert got and not any(got)  # one row per COPY, none encrypted
    finally:
        W.simple_command(
            params,
            "DROP EVENT TRIGGER hook_staging; DROP FUNCTION hook_staging(); "
            "DROP TABLE IF EXISTS t_sslw; DROP FUNCTION note_ssl() CASCADE; "
            "DROP TABLE ssl_seen",
        )


# -- codec properties (no server needed; run under the same live module) -----


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    st.decimals(
        allow_nan=False,
        allow_infinity=False,
        min_value=Decimal("-1e30"),
        max_value=Decimal("1e30"),
        places=8,
    )
)
def test_numeric_binary_roundtrip_property(d):
    """NUMERIC encode (sink) and decode (source) are exact inverses over
    the base-10000 wire format — value AND scale preserved."""
    got = W._decode_numeric(W._encode_numeric(d))
    assert got == d
    assert -got.as_tuple().exponent == max(0, -d.as_tuple().exponent)


def test_numeric_binary_edges():
    for text in ("0", "0.000", "99999.999", "-99999.999", "1E+10", "0.00001",
                 "10000", "-0.0001", "123456789.123456789", "9" * 30):
        d = Decimal(text)
        assert W._decode_numeric(W._encode_numeric(d)) == d
    assert W._decode_numeric(W._encode_numeric(Decimal("NaN"))).is_nan()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=50))
def test_copy_row_framing_roundtrip_property(vals):
    """A COPY-binary tuple stream built by the sink's framing parses back
    through the source's column-wise decode — for every row shape incl.
    NULLs.  Framed as a backend sends it: one CopyData message per row,
    the header in front of the first, the trailer alone."""
    import struct as _struct
    from unittest import mock

    header = b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8
    rows = [(v if i % 3 else None) for i, v in enumerate(vals)]
    msgs = []
    for v in rows:
        payload = _struct.pack(">h", 1)
        if v is None:
            payload += _struct.pack(">i", -1)
        else:
            payload += _struct.pack(">i", 8) + _struct.pack(">q", v)
        msgs.append(payload)
    msgs = [header + (msgs[0] if msgs else b"")] + msgs[1:] + [_struct.pack(">h", -1)]
    stream = b"".join(W._msg(b"d", m) for m in msgs) + W._msg(b"Z", b"I")
    client, server = socket.socketpair()
    server.sendall(stream)
    server.shutdown(socket.SHUT_WR)
    fields = [("x", 20, -1)]
    with mock.patch.object(W, "connect", lambda params: client):
        out = list(W.iter_copy_batches(None, "q", fields, 1000))
    server.close()
    got = [x for batch in out for x in batch.column("x").to_pylist()]
    assert len(got) == len(rows)
    assert got == rows


def test_sink_txn_makes_publish_exactly_once(spark, pg_url):
    """txn=(app_id, version): the ledger row commits IN the publish
    transaction, so a retried job with the same version appends nothing;
    a new version appends once — the pg twin of the Delta txn action."""
    df = W.read_postgres_wire(spark, pg_url, "select id from t1 where id <= 50")
    assert W.write_postgres_wire(df, pg_url, "t_txn", mode="overwrite") == 50
    assert (
        W.write_postgres_wire(df, pg_url, "t_txn", mode="append", txn=("job_a", 1))
        == 50
    )
    # retry of the SAME version: no-op
    assert (
        W.write_postgres_wire(df, pg_url, "t_txn", mode="append", txn=("job_a", 1))
        == 0
    )
    # next version: appends
    assert (
        W.write_postgres_wire(df, pg_url, "t_txn", mode="append", txn=("job_a", 2))
        == 50
    )
    params = W.parse_libpq_url(pg_url)
    n = next(
        W.iter_copy_batches(
            params, "select count(*)::int8 as n from t_txn", [("n", 20, -1)], 2
        )
    )
    assert n["n"][0].as_py() == 150
    with pytest.raises(ValueError, match="unsafe txn"):
        W.write_postgres_wire(df, pg_url, "t_txn", txn=("x'; DROP", 1))


def test_stream_to_postgres_exactly_once(spark, pg_url, tmpdir):
    """Structured Streaming -> PostgreSQL through the wire sink: each
    micro-batch publishes transactionally with txn=(app_id, batch_id);
    re-running the stream from the same checkpoint (or a crash-replayed
    batch) publishes nothing twice."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.streaming.events import stream_to_postgres

    src = os.path.join(tmpdir, "src")
    df = spark.range(0, 900).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 0.5).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.repartition(3).write.parquet(src)
    from lakehouse_loader_spark.streaming.events import read_event_stream

    ckpt = os.path.join(tmpdir, "ckpt")
    q = stream_to_postgres(
        read_event_stream(spark, src, max_files_per_trigger=1),
        pg_url,
        "t_stream",
        ckpt,
    )
    q.awaitTermination(300)
    got = W.read_postgres_wire(spark, pg_url, "select * from t_stream")
    assert got.count() == 900
    # a second availableNow run over the same checkpoint: nothing new to
    # process, nothing re-published
    q2 = stream_to_postgres(
        read_event_stream(spark, src, max_files_per_trigger=1),
        pg_url,
        "t_stream",
        ckpt,
    )
    q2.awaitTermination(300)
    assert (
        W.read_postgres_wire(spark, pg_url, "select count(*) as n from t_stream")
        .collect()[0]
        .n
        == 900
    )
    # crash-replay simulation: re-publishing an already-ledgered batch id
    # directly through the sink is a no-op
    from lakehouse_loader_spark.sources.pgwire import write_postgres_wire
    from lakehouse_loader_spark.streaming.events import resolve_stream_app_id

    app_id = resolve_stream_app_id(ckpt)
    assert (
        write_postgres_wire(
            df.limit(10), pg_url, "t_stream", mode="append", txn=(app_id, 0)
        )
        == 0
    )


def test_array_columns_roundtrip_and_feed_similarity(spark, pg_url):
    """1-D pg arrays decode to Spark arrays (incl. NULL elements and empty
    arrays) and round-trip through the sink — and a float4[] embedding
    column read from the server feeds the similarity operators directly,
    the pg-to-vector-pipeline hand-off a training stack wants."""
    from lakehouse_loader_spark.operators import similarity as S

    df = W.read_postgres_wire(
        spark,
        pg_url,
        "select g as vec_id, array[(g % 7 + 1)::float4, ((g * 3) % 5)::float4, "
        "(g % 2)::float4] as embedding, array['t', null] as tags, "
        "array[]::int8[] as empty from generate_series(0, 199) g",
    )
    assert dict(df.dtypes)["embedding"] == "array<float>"
    r = df.filter("vec_id = 10").first()
    assert r.embedding == [4.0, 0.0, 0.0] and r.tags == ["t", None] and r.empty == []
    # sink round-trip
    assert W.write_postgres_wire(df, pg_url, "t_arr_rt", mode="overwrite") == 200
    back = W.read_postgres_wire(spark, pg_url, "select * from t_arr_rt")
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    # straight into the vector pipeline: brute-force top-k over the pg rows
    emb = df.select("vec_id", "embedding")
    top = S.brute_force_topk(emb, emb.filter("vec_id < 2"), k=5)
    assert top.count() == 10  # 2 queries x top-5 neighbors
    # multi-dimensional arrays refuse loudly
    with pytest.raises(Exception, match="dimensional"):
        W.read_postgres_wire(
            spark, pg_url, "select array[[1,2],[3,4]] as m"
        ).collect()


def test_explicit_bounds_set_stride_never_filter(spark, pg_url):
    """Spark-JDBC partitioning contract: lower/upper bounds choose the
    STRIDE only — bounds narrower than the data's actual range must still
    return every row (first stride unbounded below, last unbounded
    above), and the NULL-keyed row rides with the first."""
    df = W.read_postgres_wire(
        spark,
        pg_url,
        "select id, cint4 from t1",
        partition_column="id",
        num_partitions=4,
        lower_bound=10_000,   # well above the data's min (1)
        upper_bound=12_000,   # well below the data's max (25001)
    )
    assert df.count() == 25_001
    assert df.select("id").distinct().count() == 25_001


def test_sink_schema_qualified_target(spark, pg_url):
    """A schema-qualified target must stage AND publish inside that
    schema — ALTER TABLE .. RENAME keeps a table in its own schema, so an
    unqualified staging table would land 'analytics.foo' in public."""
    params = W.parse_libpq_url(pg_url)
    W.simple_command(params, "CREATE SCHEMA IF NOT EXISTS analytics")
    df = W.read_postgres_wire(spark, pg_url, "select id, cint4 from t1 where id <= 50")
    assert W.write_postgres_wire(df, pg_url, "analytics.foo", mode="error") == 50
    # lands in analytics, NOT public
    n = W.iter_copy_batches(
        params,
        "select count(*)::int8 as n from information_schema.tables "
        "where table_schema = 'analytics' and table_name = 'foo'",
        [("n", 20, -1)],
        2,
    )
    assert next(n)["n"][0].as_py() == 1
    got = W.read_postgres_wire(spark, pg_url, "select * from analytics.foo")
    assert got.count() == 50
    # error-mode collision is detected in the TARGET schema
    with pytest.raises(W.PgError, match="already exists"):
        W.write_postgres_wire(df, pg_url, "analytics.foo", mode="error")
    # overwrite replaces analytics.foo in place (still one table, in schema)
    assert W.write_postgres_wire(df, pg_url, "analytics.foo", mode="overwrite") == 50
    got = W.read_postgres_wire(spark, pg_url, "select count(*)::int8 as n from analytics.foo")
    assert got.first()["n"] == 50
    # append targets the qualified table too
    assert W.write_postgres_wire(df, pg_url, "analytics.foo", mode="append") == 50
    got = W.read_postgres_wire(spark, pg_url, "select count(*)::int8 as n from analytics.foo")
    assert got.first()["n"] == 100


def test_numeric_infinity_raises_not_zero(pg_url):
    """PostgreSQL 14+ numeric ±Infinity has no DecimalType representation:
    the decoder must refuse loudly (like infinity timestamps), never
    silently decode to 0."""
    params = W.parse_libpq_url(pg_url)
    for lit in ("'Infinity'", "'-Infinity'"):
        with pytest.raises(W.PgError, match="Infinity"):
            next(
                W.iter_copy_batches(
                    params,
                    f"select {lit}::numeric as x",
                    [("x", 1700, -1)],
                    2,
                )
            )


def test_replicate_delta_appends_to_postgres_exactly_once(spark, pg_url, tmpdir):
    """Lakehouse → Postgres replication via the checkpointed tail driver:
    run 0 snapshots the Delta table into Postgres, later runs append only
    the fresh window, and a window replayed after a crash between the
    Postgres commit and the cursor advance publishes ZERO rows the second
    time (the txn ledger commits in the publish transaction)."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import write_delta
    from lakehouse_loader_spark.streaming import tail as TL

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    df = spark.range(0, 100).select("id", (F.col("id") * 3).alias("v"))
    write_delta(df, table)

    r0 = TL.replicate_appends_to_postgres(spark, table, pg_url, "t_repl", ckpt)
    assert r0["run"] == 0 and r0["rows"] == 100
    got = W.read_postgres_wire(spark, pg_url, "select id, v from t_repl")
    assert got.count() == 100

    write_delta(
        spark.range(100, 130).select("id", (F.col("id") * 3).alias("v")),
        table,
        append=True,
    )
    r1 = TL.replicate_appends_to_postgres(spark, table, pg_url, "t_repl", ckpt)
    assert r1["run"] == 1 and r1["rows"] == 30

    # crash simulation: drop the advanced cursor back to the pending
    # window (as if the process died between pg commit and marker write)
    marker = os.path.join(ckpt, TL._MARKER)
    import json as _json

    state = _json.load(open(marker))
    TL._write_marker(
        marker,
        {"cursor": 1, "runs": 1, "pending": state["cursor"]},
    )
    r1b = TL.replicate_appends_to_postgres(spark, table, pg_url, "t_repl", ckpt)
    assert r1b["run"] == 1 and r1b["rows"] == 0  # ledger suppressed the replay
    got = W.read_postgres_wire(spark, pg_url, "select count(*) n from t_repl")
    assert got.collect()[0]["n"] == 130  # no double-publish


def test_cli_replicate_to_pg_incremental(spark, pg_url, tmpdir):
    """CLI replicate-to-pg: run 0 snapshots, run 1 ships only the fresh
    window, a cursor-only rerun publishes nothing — each invocation its
    own process, so the cursor genuinely lives on disk."""
    import subprocess
    import sys as _sys

    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import write_delta

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_delta(spark.range(0, 40).select("id", (F.col("id") + 1).alias("v")), table)

    def run():
        return subprocess.run(
            [
                _sys.executable, "-m", "lakehouse_loader_spark.cli",
                "replicate-to-pg", table, pg_url,
                "--table", "cli_repl", "--checkpoint", ckpt,
            ],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )

    r0 = run()
    assert r0.returncode == 0, r0.stderr[-400:]
    assert "run 0: published 40 rows" in r0.stderr

    write_delta(
        spark.range(40, 55).select("id", (F.col("id") + 1).alias("v")),
        table,
        append=True,
    )
    r1 = run()
    assert r1.returncode == 0, r1.stderr[-400:]
    assert "run 1: published 15 rows" in r1.stderr

    r2 = run()
    assert r2.returncode == 0, r2.stderr[-400:]
    assert "no new commits" in r2.stderr

    got = W.read_postgres_wire(spark, pg_url, "select count(*) n from cli_repl")
    assert got.collect()[0]["n"] == 55


def test_merge_postgres_wire_keyed_upsert_and_delete(spark, pg_url):
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sources.pgwire import merge_postgres_wire

    base = spark.range(0, 10).select("id", (F.col("id") * 10).alias("v"))
    # missing target: created from the batch (tombstones no-op)
    up, dl = merge_postgres_wire(base, pg_url, "t_merge", key_cols=["id"])
    assert (up, dl) == (10, 0)

    batch = spark.createDataFrame(
        [(3, 999, False), (4, 444, False), (20, 200, False), (7, None, True)],
        "id long, v long, dead boolean",
    )
    up, dl = merge_postgres_wire(
        batch, pg_url, "t_merge", key_cols=["id"], delete_col="dead"
    )
    assert (up, dl) == (3, 1)
    got = {
        r["id"]: r["v"]
        for r in W.read_postgres_wire(spark, pg_url, "select * from t_merge").collect()
    }
    assert got[3] == 999 and got[4] == 444 and got[20] == 200
    assert 7 not in got and len(got) == 10  # 10 initial - 1 deleted + 1 new

    # duplicate key in one batch refuses (arrival-order nondeterminism)
    dup = spark.createDataFrame([(1, 1), (1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="not unique per key"):
        merge_postgres_wire(dup, pg_url, "t_merge", key_cols=["id"])

    # NULL key refuses for DIRECT callers too (tail guards upstream):
    # DELETE USING t.k = s.k never matches NULL, so a NULL-keyed row would
    # pass count(DISTINCT) yet re-insert on every merge — duplicating
    # instead of replacing (ADVICE r12)
    nullkey = spark.createDataFrame([(None, 1), (30, 2)], "id long, v long")
    with pytest.raises(ValueError, match="cannot address NULL keys"):
        merge_postgres_wire(nullkey, pg_url, "t_merge", key_cols=["id"])
    # ...and a NULL in ONE column of a composite key is equally rejected
    comp = spark.createDataFrame(
        [(1, None, 5)], "k1 long, k2 long, v long"
    )
    with pytest.raises(ValueError, match="cannot address NULL keys"):
        merge_postgres_wire(comp, pg_url, "t_merge_c", key_cols=["k1", "k2"])

    # exactly-once: same (app, version) publishes zero the second time
    b2 = spark.createDataFrame([(5, 555)], "id long, v long")
    assert merge_postgres_wire(
        b2, pg_url, "t_merge", key_cols=["id"], txn=("m_app", 1)
    ) == (1, 0)
    assert merge_postgres_wire(
        b2, pg_url, "t_merge", key_cols=["id"], txn=("m_app", 1)
    ) == (0, 0)


def test_replicate_changes_to_postgres_cdc(spark, pg_url, tmpdir):
    """Keyed CDC replication: source DML (append + delete + update +
    within-window insert-then-delete) replicates as upserts/deletes; the
    Postgres table converges to the source's current snapshot."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import (
        delete_from_delta,
        read_delta,
        update_delta,
        write_delta,
    )
    from lakehouse_loader_spark.streaming.tail import replicate_changes_to_postgres

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_delta(
        spark.range(0, 20).select("id", (F.col("id") * 10).alias("v")), table
    )
    r0 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_cdc", ckpt, key_cols=["id"]
    )
    assert r0["run"] == 0 and r0["rows"] == 20

    # window 1: append, delete, update, and an insert-then-delete key
    write_delta(
        spark.range(20, 25).select("id", (F.col("id") * 10).alias("v")),
        table,
        append=True,
    )
    delete_from_delta(spark, table, "id < 3")
    update_delta(spark, table, "id = 10", {"v": "v + 5"})
    delete_from_delta(spark, table, "id = 21")  # inserted THIS window
    r1 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_cdc", ckpt, key_cols=["id"]
    )
    assert r1["run"] == 1 and not r1["empty"]

    want = sorted(
        (r["id"], r["v"]) for r in read_delta(spark, table).collect()
    )
    got = sorted(
        (r["id"], r["v"])
        for r in W.read_postgres_wire(spark, pg_url, "select * from t_cdc").collect()
    )
    assert got == want
    assert (2, 20) not in dict(got).items() and 21 not in dict(got)

    # cursor-only rerun: nothing new
    assert replicate_changes_to_postgres(
        spark, table, pg_url, "t_cdc", ckpt, key_cols=["id"]
    )["empty"]


def test_replicate_cdc_schema_evolution_contract(spark, pg_url, tmpdir):
    """Schema drift through keyed CDC replication (VERDICT r12 item 5):
    the source gains a column mid-stream.  Default refuses with both
    remedies named; on_schema_change='evolve' ALTERs the target (new
    column nullable — pre-evolution rows read NULL) and the window then
    replicates; a column the source DROPPED refuses in both modes."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import write_delta
    from lakehouse_loader_spark.sources.pgwire import (
        simple_command,
        parse_libpq_url,
        table_columns_postgres_wire,
    )
    from lakehouse_loader_spark.streaming.tail import replicate_changes_to_postgres

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_delta(
        spark.range(0, 10).select("id", (F.col("id") * 10).alias("v")), table
    )
    r0 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_evo", ckpt, key_cols=["id"]
    )
    assert r0["rows"] == 10
    assert table_columns_postgres_wire(pg_url, "t_evo") == ["id", "v"]

    # source gains a column (by-name schema evolution on the Delta sink)
    write_delta(
        spark.range(10, 13).select(
            "id", (F.col("id") * 10).alias("v"), F.lit("fresh").alias("tag")
        ),
        table,
        append=True,
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="gained column.*tag.*evolve"):
        replicate_changes_to_postgres(
            spark, table, pg_url, "t_evo", ckpt, key_cols=["id"]
        )
    # the refusal happened BEFORE any target mutation: schema unchanged
    assert table_columns_postgres_wire(pg_url, "t_evo") == ["id", "v"]

    r1 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_evo", ckpt, key_cols=["id"],
        on_schema_change="evolve",
    )
    assert r1["rows"] == 3
    assert table_columns_postgres_wire(pg_url, "t_evo") == ["id", "v", "tag"]
    got = {
        r["id"]: (r["v"], r["tag"])
        for r in W.read_postgres_wire(
            spark, pg_url, "select * from t_evo"
        ).collect()
    }
    assert len(got) == 13
    assert got[12] == (120, "fresh")
    assert got[0] == (0, None), "pre-evolution rows read NULL for the new column"

    # a column the source no longer carries refuses in BOTH modes: the
    # keyed merge replaces whole rows, so continuing would NULL it out
    simple_command(parse_libpq_url(pg_url), "ALTER TABLE t_evo ADD COLUMN extra int8")
    write_delta(
        spark.range(13, 14).select(
            "id", (F.col("id") * 10).alias("v"), F.lit("x").alias("tag")
        ),
        table,
        append=True,
    )
    for mode in ("refuse", "evolve"):
        with pytest.raises(ValueError, match="no longer carries.*extra"):
            replicate_changes_to_postgres(
                spark, table, pg_url, "t_evo", ckpt, key_cols=["id"],
                on_schema_change=mode,
            )


def test_cli_replicate_to_pg_keyed_cdc(spark, pg_url, tmpdir):
    """CLI replicate-to-pg --key id follows the change feed: a delete on
    the source between runs replicates instead of refusing."""
    import subprocess
    import sys as _sys

    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import delete_from_delta, write_delta

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_delta(spark.range(0, 30).select("id", (F.col("id") + 7).alias("v")), table)

    def run():
        return subprocess.run(
            [
                _sys.executable, "-m", "lakehouse_loader_spark.cli",
                "replicate-to-pg", table, pg_url,
                "--table", "cli_cdc", "--checkpoint", ckpt, "--key", "id",
            ],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )

    r0 = run()
    assert r0.returncode == 0, r0.stderr[-400:]
    delete_from_delta(spark, table, "id >= 25")
    r1 = run()
    assert r1.returncode == 0, r1.stderr[-400:]
    got = W.read_postgres_wire(spark, pg_url, "select count(*) n from cli_cdc")
    assert got.collect()[0]["n"] == 25


def test_replicate_changes_iceberg_to_postgres(spark, pg_url, tmpdir):
    """Iceberg twin of the keyed CDC replication e2e: DML via equality
    deletes and appends replicates through the _snapshot_ordinal feed."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.iceberg import (
        delete_from_iceberg,
        read_iceberg,
        write_iceberg,
    )
    from lakehouse_loader_spark.streaming.tail import replicate_changes_to_postgres

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_iceberg(
        spark.range(0, 15).select("id", (F.col("id") * 2).alias("v")), table
    )
    r0 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_icdc", ckpt, key_cols=["id"]
    )
    assert r0["run"] == 0 and r0["rows"] == 15

    delete_from_iceberg(spark, table, "id < 4")
    write_iceberg(
        spark.range(15, 18).select("id", (F.col("id") * 2).alias("v")),
        table,
        append=True,
    )
    r1 = replicate_changes_to_postgres(
        spark, table, pg_url, "t_icdc", ckpt, key_cols=["id"]
    )
    assert not r1["empty"]
    want = sorted((r["id"], r["v"]) for r in read_iceberg(spark, table).collect())
    got = sorted(
        (r["id"], r["v"])
        for r in W.read_postgres_wire(spark, pg_url, "select * from t_icdc").collect()
    )
    assert got == want and len(got) == 14


def test_reset_cursor_resync_republishes_snapshot(spark, pg_url, tmpdir):
    """After non-append history breaks an appends-feed replication, a
    reset_cursor resync must actually republish: removing only the cursor
    marker would leave run 0's overwrite suppressed by the ORIGINAL run
    0's ledger entry (same app-id, same version 0), silently keeping the
    target stale."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.delta import (
        ConcurrentModificationError,
        delete_from_delta,
        read_delta,
        write_delta,
    )
    from lakehouse_loader_spark.streaming.tail import (
        replicate_appends_to_postgres,
        reset_cursor,
    )

    table = os.path.join(str(tmpdir), "t")
    ckpt = os.path.join(str(tmpdir), "ckpt")
    write_delta(spark.range(0, 50).select("id", (F.col("id") * 9).alias("v")), table)
    replicate_appends_to_postgres(spark, table, pg_url, "t_resync", ckpt)

    delete_from_delta(spark, table, "id >= 40")  # history no longer append-only
    with pytest.raises(ConcurrentModificationError):
        replicate_appends_to_postgres(spark, table, pg_url, "t_resync", ckpt)

    reset_cursor(ckpt)
    r = replicate_appends_to_postgres(spark, table, pg_url, "t_resync", ckpt)
    assert r["run"] == 0 and r["rows"] == 40, "resync must republish, not no-op"
    got = W.read_postgres_wire(spark, pg_url, "select count(*) n from t_resync")
    assert got.collect()[0]["n"] == 40
    want = sorted(r["id"] for r in read_delta(spark, table).collect())
    have = sorted(
        r["id"]
        for r in W.read_postgres_wire(spark, pg_url, "select id from t_resync").collect()
    )
    assert have == want


def test_pg_ledger_probe_and_stream_mode(spark, pg_url, tmpdir):
    """_pg_app_has_committed: keyed on (app_id, tbl) in the exactly-once
    ledger; missing ledger table reads as 'never committed'.  Drives the
    r14 stream_to_postgres mode rule (first PUBLISHED batch overwrites,
    later batches append) — previously keyed on batch_id, which wedged
    when batch 0 published nothing."""
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.streaming.events import _pg_app_has_committed

    app = "stream_to_delta-probe0001"
    assert not _pg_app_has_committed(pg_url, "t_probe", app)
    df = spark.range(0, 10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    W.write_postgres_wire(df, pg_url, "t_probe", mode="overwrite", txn=(app, 5))
    assert _pg_app_has_committed(pg_url, "t_probe", app)
    # per-table: the same app against another table has not committed
    assert not _pg_app_has_committed(pg_url, "t_probe_other", app)
    with pytest.raises(ValueError, match="unsafe"):
        _pg_app_has_committed(pg_url, "t; DROP", app)
    # ONLY undefined-table (42P01) reads as 'never committed'; any other
    # PgError — here a missing DATABASE (3D000), whose message also says
    # "does not exist" — must propagate, or a transient probe failure
    # would flip an attached stream to mode='overwrite' and replace the
    # target table with a single micro-batch (r15 ADVICE, data loss)
    from lakehouse_loader_spark.sources.pgwire import PgError

    bad_db = pg_url.rsplit("/", 1)[0] + "/no_such_database_xyz"
    with pytest.raises(PgError, match="does not exist"):
        _pg_app_has_committed(bad_db, "t_probe", app)
