"""CSV / JSON-lines source readers + their CLI subcommands: schema-DDL
freeze, FAILFAST on malformed input, end-to-end into the Delta sink."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest
from py4j.protocol import Py4JJavaError

from lakehouse_loader_spark.sources.readers import read_csv_source, read_jsonl_source


@pytest.fixture(scope="module")
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="src_test_") as d:
        yield d


def test_csv_reader_with_ddl_schema(spark, tmpdir):
    p = os.path.join(tmpdir, "t.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n1,alpha,1.5\n2,beta,2.25\n")
    df = read_csv_source(spark, p, schema="id BIGINT, name STRING, score DOUBLE")
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("alpha", 1.5), 2: ("beta", 2.25)}
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["bigint", "string", "double"]


def test_csv_reader_infers_without_schema(spark, tmpdir):
    p = os.path.join(tmpdir, "t2.csv")
    with open(p, "w") as f:
        f.write("id,label\n10,x\n20,y\n")
    df = read_csv_source(spark, p)
    assert df.count() == 2
    assert df.schema["id"].dataType.simpleString() in ("int", "bigint")


def test_csv_failfast_on_malformed(spark, tmpdir):
    p = os.path.join(tmpdir, "bad.csv")
    with open(p, "w") as f:
        f.write("id,score\n1,ok-not-a-double\n")
    df = read_csv_source(spark, p, schema="id BIGINT, score DOUBLE")
    with pytest.raises(Py4JJavaError):
        df.collect()


def test_jsonl_reader_nested(spark, tmpdir):
    p = os.path.join(tmpdir, "t.jsonl")
    with open(p, "w") as f:
        for i in range(3):
            f.write(json.dumps({"doc_id": i, "meta": {"lang": "en", "n": i * 2}, "tags": ["a", "b"]}) + "\n")
    df = read_jsonl_source(
        spark, p, schema="doc_id BIGINT, meta STRUCT<lang: STRING, n: BIGINT>, tags ARRAY<STRING>"
    )
    rows = df.orderBy("doc_id").collect()
    assert rows[1].meta.n == 2 and rows[2].tags == ["a", "b"]


def test_cli_csv_to_delta_roundtrip(spark, tmpdir):
    src = os.path.join(tmpdir, "cli.csv")
    with open(src, "w") as f:
        f.write("id,v\n1,a\n2,b\n3,c\n")
    target = os.path.join(tmpdir, "delta_out")
    res = subprocess.run(
        [sys.executable, "-m", "lakehouse_loader_spark.cli", "csv-to-delta", src, target,
         "--schema", "id BIGINT, v STRING"],
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    from lakehouse_loader_spark.sinks.delta import read_delta

    back = read_delta(spark, target)
    assert {(r.id, r.v) for r in back.collect()} == {(1, "a"), (2, "b"), (3, "c")}


# -- Postgres JDBC option-assembly contract (no connection needed) -----------


class TestPostgresJdbcContract:
    """The connection-free half of the Postgres source (R1): option
    assembly must mirror the reference's connection setup
    (pg_arrow_source.rs:201-248) — libpq URL parsing, PGPASSWORD override,
    fetchsize=batch_size, server-side query prepare."""

    def test_basic_url_and_query(self):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        opts = postgres_jdbc_options(
            "postgresql://db.example.com:5439/marts", "SELECT * FROM t", batch_size=500
        )
        assert opts == {
            "url": "jdbc:postgresql://db.example.com:5439/marts",
            "query": "SELECT * FROM t",
            "fetchsize": "500",
            "driver": "org.postgresql.Driver",
        }

    def test_default_batch_size_matches_reference(self):
        from lakehouse_loader_spark.sources.readers import (
            DEFAULT_BATCH_SIZE,
            postgres_jdbc_options,
        )

        # reference default --batch-size (src/lib.rs:47)
        assert DEFAULT_BATCH_SIZE == 10_000
        opts = postgres_jdbc_options("postgresql://h/db", "SELECT 1")
        assert opts["fetchsize"] == "10000"
        assert opts["url"] == "jdbc:postgresql://h:5432/db"  # default port

    def test_credentials_lifted_from_url(self, monkeypatch):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        monkeypatch.delenv("PGPASSWORD", raising=False)
        opts = postgres_jdbc_options(
            "postgresql://alice:s%40cret@h:5432/db", "SELECT 1"
        )
        # JDBC URLs carry no userinfo — credentials become options (unquoted)
        assert opts["url"] == "jdbc:postgresql://h:5432/db"
        assert opts["user"] == "alice"
        assert opts["password"] == "s@cret"

    def test_pgpassword_env_overrides_url(self, monkeypatch):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        # reference: env::var("PGPASSWORD") wins over the conn string
        # (pg_arrow_source.rs:206-209)
        monkeypatch.setenv("PGPASSWORD", "env-pw")
        opts = postgres_jdbc_options("postgresql://alice:url-pw@h/db", "SELECT 1")
        assert opts["password"] == "env-pw"

    def test_explicit_password_overrides_env(self, monkeypatch):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        monkeypatch.setenv("PGPASSWORD", "env-pw")
        opts = postgres_jdbc_options(
            "postgresql://alice@h/db", "SELECT 1", password="arg-pw"
        )
        assert opts["password"] == "arg-pw"

    def test_jdbc_prefixed_and_postgres_scheme_accepted(self):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        a = postgres_jdbc_options("jdbc:postgresql://h/db", "Q")
        b = postgres_jdbc_options("postgres://h/db", "Q")
        assert a["url"] == b["url"] == "jdbc:postgresql://h:5432/db"

    def test_sslmode_forwarded_to_jdbc_url(self):
        """TLS parity with the reference's connect (pg_arrow_source.rs:
        211-218): ?sslmode=require must survive the libpq→JDBC translation
        — dropping it would silently downgrade transport security."""
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        opts = postgres_jdbc_options("postgresql://h/db?sslmode=require", "Q")
        assert opts["url"] == "jdbc:postgresql://h:5432/db?sslmode=require"

    def test_ssl_cert_params_forwarded(self):
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        opts = postgres_jdbc_options(
            "postgresql://h/db?sslmode=verify-full"
            "&sslrootcert=/etc/ssl/root.crt&sslcert=/c.pem&sslkey=/k.pem",
            "Q",
        )
        assert opts["url"] == (
            "jdbc:postgresql://h:5432/db?sslmode=verify-full"
            "&sslrootcert=%2Fetc%2Fssl%2Froot.crt&sslcert=%2Fc.pem&sslkey=%2Fk.pem"
        )

    def test_libpq_spellings_renamed_for_jdbc(self):
        """connect_timeout/application_name exist in both stacks but under
        different names; the translation renames rather than forwards."""
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        opts = postgres_jdbc_options(
            "postgresql://h/db?connect_timeout=10&application_name=loader", "Q"
        )
        assert opts["url"] == (
            "jdbc:postgresql://h:5432/db?connectTimeout=10&ApplicationName=loader"
        )

    def test_user_password_query_params_become_options(self, monkeypatch):
        """libpq accepts credentials as query params too; they must land in
        JDBC options (lowest precedence), never in the URL."""
        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        monkeypatch.delenv("PGPASSWORD", raising=False)
        opts = postgres_jdbc_options(
            "postgresql://h/db?user=bob&password=qp-pw&sslmode=require", "Q"
        )
        assert opts["url"] == "jdbc:postgresql://h:5432/db?sslmode=require"
        assert opts["user"] == "bob"
        assert opts["password"] == "qp-pw"
        # userinfo in the URL authority wins over query params
        opts2 = postgres_jdbc_options(
            "postgresql://alice:a-pw@h/db?user=bob&password=qp-pw", "Q"
        )
        assert opts2["user"] == "alice"
        assert opts2["password"] == "a-pw"

    def test_non_postgres_scheme_rejected(self):
        import pytest

        from lakehouse_loader_spark.sources.readers import postgres_jdbc_options

        with pytest.raises(ValueError, match="postgres"):
            postgres_jdbc_options("mysql://h/db", "Q")


# -- Avro OCF source --------------------------------------------------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": ["null", "double"]},
        {"name": "d", "type": ["null", {"type": "int", "logicalType": "date"}]},
        {"name": "ts", "type": ["null", {"type": "long",
                                         "logicalType": "timestamp-micros"}]},
    ],
}


def _write_avro(path, rows):
    from lakehouse_loader_spark.sinks.avro_ocf import write_ocf

    write_ocf(path, _AVRO_SCHEMA, rows)


def test_avro_reader_types_and_nulls(spark, tmpdir):
    import datetime as dt

    from lakehouse_loader_spark.sources.readers import read_avro_source

    d = os.path.join(tmpdir, "av")
    os.makedirs(d, exist_ok=True)
    _write_avro(os.path.join(d, "a.avro"), [
        {"id": 1, "name": "x", "score": 1.5, "d": 19000, "ts": 1_700_000_000_000_000},
        {"id": 2, "name": None, "score": None, "d": None, "ts": None},
    ])
    _write_avro(os.path.join(d, "b.avro"), [
        {"id": 3, "name": "z", "score": -0.5, "d": 0, "ts": 0},
    ])
    df = read_avro_source(spark, d)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "double", "date", "timestamp_ntz"]
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1].name == "x" and rows[1].score == 1.5
    assert rows[1].d == dt.date(1970, 1, 1) + dt.timedelta(days=19000)
    assert rows[1].ts == dt.datetime(1970, 1, 1) + dt.timedelta(
        microseconds=1_700_000_000_000_000)
    assert rows[2].name is None and rows[2].d is None and rows[2].ts is None
    assert rows[3].d == dt.date(1970, 1, 1)


def test_avro_reader_decodes_each_file_in_its_own_task(spark, tmpdir):
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sources.readers import read_avro_source

    for n_files in (4, 8):
        d = os.path.join(tmpdir, f"av_fanout_{n_files}")
        os.makedirs(d, exist_ok=True)
        want = {}
        for k in range(n_files):
            ids = [k * 100 + j for j in range(k + 1)]
            _write_avro(os.path.join(d, f"f{k}.avro"), [
                {"id": i, "name": None, "score": None, "d": None, "ts": None}
                for i in ids
            ])
            want[k] = ids
        got = {
            r.p: sorted(r.ids)
            for r in read_avro_source(spark, d)
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.collect_list("id").alias("ids"))
            .collect()
        }
        assert got == want, n_files


def test_avro_reader_rejects_mixed_schemas(spark, tmpdir):
    from lakehouse_loader_spark.sinks.avro_ocf import write_ocf
    from lakehouse_loader_spark.sources.readers import read_avro_source

    d = os.path.join(tmpdir, "av_mixed")
    os.makedirs(d, exist_ok=True)
    _write_avro(os.path.join(d, "a.avro"), [{"id": 1, "name": "x", "score": 0.0,
                                             "d": None, "ts": None}])
    write_ocf(
        os.path.join(d, "z.avro"),
        {"type": "record", "name": "other",
         "fields": [{"name": "only", "type": "long"}]},
        [{"only": 9}],
    )
    with pytest.raises(Exception, match="writer schema differs"):
        read_avro_source(spark, d).collect()


def test_cli_avro_to_delta_roundtrip(spark, tmpdir):
    from lakehouse_loader_spark.cli import do_main
    from lakehouse_loader_spark.sinks.delta import read_delta

    d = os.path.join(tmpdir, "av_cli")
    os.makedirs(d, exist_ok=True)
    _write_avro(os.path.join(d, "a.avro"), [
        {"id": i, "name": f"n{i}", "score": i / 2, "d": i, "ts": i * 1000}
        for i in range(50)
    ])
    out = os.path.join(tmpdir, "av_delta")
    do_main(["avro-to-delta", d, out])
    back = read_delta(spark, out)
    assert back.count() == 50
    assert {r.id for r in back.collect()} == set(range(50))


class TestPostgresJdbcPartitionedContract:
    def test_partitioned_options_assembly(self):
        from lakehouse_loader_spark.sources.readers import (
            postgres_jdbc_partitioned_options,
        )

        opts = postgres_jdbc_partitioned_options(
            "postgresql://u:pw@db.example:5433/prod?sslmode=require",
            table="public.events",
            partition_column="event_id",
            lower_bound=0,
            upper_bound=1_000_000,
            num_partitions=64,
        )
        assert opts["url"] == "jdbc:postgresql://db.example:5433/prod?sslmode=require"
        assert opts["dbtable"] == "public.events"
        assert opts["partitionColumn"] == "event_id"
        assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000000")
        assert opts["numPartitions"] == "64"
        assert opts["user"] == "u" and opts["password"] == "pw"
        assert "query" not in opts  # mutually exclusive with partitioning

    def test_partitioned_options_validation(self):
        import pytest

        from lakehouse_loader_spark.sources.readers import (
            postgres_jdbc_partitioned_options,
        )

        with pytest.raises(ValueError, match="num_partitions"):
            postgres_jdbc_partitioned_options(
                "postgresql://h/db", "t", "id", 0, 10, 0
            )
        with pytest.raises(ValueError, match="upper_bound"):
            postgres_jdbc_partitioned_options(
                "postgresql://h/db", "t", "id", 10, 10, 4
            )

    def test_subquery_alias_form(self):
        from lakehouse_loader_spark.sources.readers import (
            postgres_jdbc_partitioned_options,
        )

        opts = postgres_jdbc_partitioned_options(
            "postgresql://h/db",
            table="(SELECT id, v FROM t WHERE v > 0) src",
            partition_column="id",
            lower_bound=1,
            upper_bound=100,
            num_partitions=8,
        )
        assert opts["dbtable"].startswith("(SELECT")


def test_cli_pg_partitioned_flags_validated():
    """--partition-column & friends must be given together (the CLI fails
    fast before touching Spark)."""
    import pytest

    from lakehouse_loader_spark.cli import build_parser, do_main

    args = build_parser().parse_args(
        ["pg-to-delta", "postgresql://h/db", "/tmp/x", "-q", "SELECT 1",
         "--partition-column", "id"]
    )
    assert args.partition_column == "id" and args.num_partitions is None
    with pytest.raises(SystemExit, match="must be given together"):
        do_main(
            ["pg-to-delta", "postgresql://h/db", "/tmp/x", "-q", "SELECT 1",
             "--partition-column", "id"]
        )
