"""Source readers.

Parquet (R6): the schema comes from the file footer, like the reference's
ParquetRecordBatchStreamBuilder (src/lib.rs:91-97); Spark's vectorized
reader replaces the async record-batch stream, and Catalyst pushes
predicates/projections into the scan.

Postgres (R1-R5): the reference prepares the user's SQL to learn the result
schema, then streams rows and pivots them into Arrow batches
(src/pg_arrow_source.rs:201-273).  Spark's JDBC source does all of that
natively: ``option("query", ...)`` prepares server-side for the schema,
``fetchsize`` bounds rows per round-trip (the analog of ``--batch-size``,
src/lib.rs:43-50), and the JDBC dialect performs the type mapping the
reference hand-rolls (NUMERIC→Decimal R4, epoch rebase R5 — both covered by
golden type tests in tests/test_types_roundtrip.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Reference default batch size (src/lib.rs:47)
DEFAULT_BATCH_SIZE = 10_000


def read_parquet_source(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV source (loader-surface extension beyond the reference's
    parquet/pg pair).  With no explicit ``schema`` the types are inferred
    from a sampling pass — fine interactively; production loads at scale
    should pass the DDL string so the scan is single-pass and the schema is
    frozen up front, the same inferred-then-frozen contract as the
    reference's prepare step (src/pg_arrow_source.rs:220-236).
    mode=FAILFAST surfaces malformed rows as load errors instead of
    silently nulling them (the reference panics on unsupported input,
    src/pg_arrow_source.rs:97)."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "FAILFAST")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl_source(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines source — the lingua franca of document/training-data
    interchange.  One JSON object per line splits cleanly on newlines, so
    the scan parallelizes like any text file; nested objects surface as
    structs/arrays.  Same schema contract as CSV: pass DDL to freeze the
    schema and skip the inference pass; FAILFAST rejects malformed lines."""
    reader = spark.read.option("mode", "FAILFAST")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc_source(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar interchange format (Hive-ecosystem
    twin of parquet; Spark's native vectorized ORC reader).  Schema comes
    from the file footers like parquet, so there is no inference pass to
    freeze; predicate pushdown and column pruning apply the same way
    (orc.filterPushdown is on by default in Spark 3.3+)."""
    return spark.read.orc(path)


def postgres_jdbc_options(
    conn_url: str,
    query: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    user: str | None = None,
    password: str | None = None,
) -> dict[str, str]:
    """Assemble the Spark JDBC reader options for a Postgres query — the
    pure, connection-free half of the source, unit-testable without a
    driver jar.  Mirrors the reference's connection setup
    (src/pg_arrow_source.rs:201-248):

    - accepts libpq-style ``postgresql://user:pw@host:port/db`` URLs (and
      already-prefixed ``jdbc:`` forms); credentials embedded in the URL
      are lifted into JDBC options, since JDBC URLs carry no userinfo
    - ``PGPASSWORD`` overrides the connection string's password
      (pg_arrow_source.rs:206-209); an explicit ``password`` argument
      overrides both
    - ``fetchsize`` = ``batch_size``: rows per server round-trip, the
      analog of the reference's ``--batch-size`` (src/lib.rs:43-50) —
      Spark pivots each fetch into columnar batches (R2)
    - ``query`` is prepared server-side by the JDBC source to learn the
      result schema, exactly the reference's prepare step
      (pg_arrow_source.rs:220-236)
    - libpq query parameters (``?sslmode=require&connect_timeout=10``) are
      FORWARDED, not dropped: the reference connects with TLS support
      (pg_arrow_source.rs:211-218), so ``sslmode``/``sslrootcert``/
      ``sslcert``/``sslkey`` must survive the libpq→JDBC translation.
      pgJDBC natively understands the ssl* names; the few libpq spellings
      it doesn't (``connect_timeout``, ``application_name``) are renamed,
      and any remaining parameter rides the JDBC URL query string
      verbatim (pgJDBC ignores unknown keys rather than failing closed —
      dropping them silently would be worse: a lost ``sslmode=require``
      silently downgrades transport security)
    """
    import os
    from urllib.parse import parse_qsl, unquote, urlencode, urlparse

    body = conn_url[len("jdbc:") :] if conn_url.startswith("jdbc:") else conn_url
    parsed = urlparse(body)
    if parsed.scheme not in ("postgresql", "postgres"):
        raise ValueError(f"not a postgres connection url: {conn_url!r}")
    host = parsed.hostname or "localhost"
    port = parsed.port or 5432
    db = parsed.path or ""

    # libpq spelling → pgJDBC connection-property spelling, where they differ
    _LIBPQ_TO_JDBC = {
        "connect_timeout": "connectTimeout",  # both in seconds
        "application_name": "ApplicationName",
    }
    url_params: list[tuple[str, str]] = []
    param_user: str | None = None
    param_pw: str | None = None
    for key, val in parse_qsl(parsed.query, keep_blank_values=True):
        if key == "user":
            param_user = val
        elif key == "password":
            param_pw = val
        else:
            url_params.append((_LIBPQ_TO_JDBC.get(key, key), val))
    jdbc_url = f"jdbc:postgresql://{host}:{port}{db}"
    if url_params:
        jdbc_url += "?" + urlencode(url_params)

    opts = {
        "url": jdbc_url,
        "query": query,
        "fetchsize": str(batch_size),
        "driver": "org.postgresql.Driver",
    }
    resolved_user = (
        user or (unquote(parsed.username) if parsed.username else None) or param_user
    )
    resolved_pw = (
        password
        or os.environ.get("PGPASSWORD")
        or (unquote(parsed.password) if parsed.password else None)
        or param_pw
    )
    if resolved_user:
        opts["user"] = resolved_user
    if resolved_pw:
        opts["password"] = resolved_pw
    return opts


def _pg_jdbc_available(spark: SparkSession) -> bool:
    """True iff org.postgresql.Driver is loadable on the session's JVM
    classpath — the dispatch test for driver="auto"."""
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
        return True
    except Exception:
        return False


def read_postgres_query(
    spark: SparkSession,
    conn_url: str,
    query: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    password: str | None = None,
    user: str | None = None,
    driver: str = "auto",
) -> DataFrame:
    """Run ``query`` on the Postgres server and stream the result — the
    reference's entire relational surface delegation (src/lib.rs:39-40),
    preserved for interop.

    ``driver`` picks the transport: ``"jdbc"`` uses Spark's JDBC source
    (option assembly ``postgres_jdbc_options``, contract-tested offline;
    needs the pgJDBC jar, e.g.
    ``spark.jars.packages=org.postgresql:postgresql:42.7.3``);
    ``"wire"`` speaks the PostgreSQL v3 wire protocol directly in pure
    Python (sources/pgwire.py — binary COPY decoded executor-side, no jar
    or driver package needed); ``"auto"`` (default) uses JDBC when the
    driver class is on the classpath and falls back to the wire protocol
    otherwise."""
    if driver == "auto":
        driver = "jdbc" if _pg_jdbc_available(spark) else "wire"
    if driver == "wire":
        from lakehouse_loader_spark.sources.pgwire import read_postgres_wire

        return read_postgres_wire(
            spark, conn_url, query, batch_size=batch_size, user=user, password=password
        )
    if driver != "jdbc":
        raise ValueError(f"unknown postgres driver {driver!r} (auto|jdbc|wire)")
    reader = spark.read.format("jdbc")
    for k, v in postgres_jdbc_options(
        conn_url, query, batch_size, user=user, password=password
    ).items():
        reader = reader.option(k, v)
    return reader.load()


# -- Avro OCF source --------------------------------------------------------

_AVRO_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}
_AVRO_LOGICAL_TO_SPARK = {
    ("int", "date"): "date",
    ("long", "timestamp-micros"): "timestamp_ntz",
}


def avro_schema_to_spark(avro_schema: dict):
    """Map an Avro record schema to a Spark StructType.  Nullable fields
    arrive as ``["null", T]`` unions; logical date / timestamp-micros map
    to their Spark leaf types; anything else fails loudly (the reference's
    closed-type-set discipline, src/pg_arrow_source.rs:168-188)."""
    from pyspark.sql import types as T

    if avro_schema.get("type") != "record":
        raise ValueError(f"top-level avro schema must be a record, got {avro_schema}")

    def leaf(t) -> str:
        if isinstance(t, dict):
            key = (t.get("type"), t.get("logicalType"))
            if key in _AVRO_LOGICAL_TO_SPARK:
                return _AVRO_LOGICAL_TO_SPARK[key]
            raise ValueError(f"unsupported avro type {t!r} (cast your columns)")
        if t in _AVRO_TO_SPARK:
            return _AVRO_TO_SPARK[t]
        raise ValueError(f"unsupported avro type {t!r} (cast your columns)")

    fields = []
    for f in avro_schema["fields"]:
        t = f["type"]
        nullable = False
        if isinstance(t, list):  # union — only [null, T] supported
            non_null = [x for x in t if x != "null"]
            if len(non_null) != 1:
                raise ValueError(f"unsupported avro union {t!r}")
            nullable = len(non_null) != len(t)
            t = non_null[0]
        fields.append(T.StructField(f["name"], T._parse_datatype_string(leaf(t)), nullable))
    return T.StructType(fields)


def read_avro_source(spark: SparkSession, path: str) -> DataFrame:
    """Avro OCF source on the engine's own container-file codec
    (sinks/avro_ocf.py — no Python Avro library ships here).

    Same prepare-then-execute shape as the reference's Postgres source:
    the schema comes from ONE file's header (no data read at plan time),
    then each file decodes in its own task via mapInPandas — parallelism
    is per-file, the right granularity for an OCF (blocks inside a file
    are sequential anyway).  Every file must carry the same writer schema
    (checked per-task; a drifted file fails the job loudly)."""
    import glob as _glob
    import os

    from lakehouse_loader_spark.sinks.avro_ocf import read_ocf, read_ocf_schema

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*.avro")))
    else:
        files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no avro files at {path}")
    avro_schema = read_ocf_schema(files[0])
    schema = avro_schema_to_spark(avro_schema)
    names = [f.name for f in schema.fields]

    # avro_ocf decodes logical types to their RAW representation (date →
    # int days, timestamp-micros → long µs); surface them as the typed
    # values the Spark schema declares
    def _logical(f) -> str | None:
        t = f["type"]
        if isinstance(t, list):
            t = next(x for x in t if x != "null")
        return t.get("logicalType") if isinstance(t, dict) else None

    logicals = {f["name"]: _logical(f) for f in avro_schema["fields"]}

    def decode(batches):
        import datetime as _dt

        import pandas as pd

        epoch_d = _dt.date(1970, 1, 1)
        epoch_us = _dt.datetime(1970, 1, 1)

        def conv(name, v):
            if v is None:
                return None
            if logicals[name] == "date":
                return epoch_d + _dt.timedelta(days=v)
            if logicals[name] == "timestamp-micros":
                return epoch_us + _dt.timedelta(microseconds=v)
            return v

        for pdf in batches:
            for i in pdf["id"]:
                file_path = files[i]
                file_schema, _, records = read_ocf(file_path)
                if file_schema.get("fields") != avro_schema.get("fields"):
                    raise ValueError(
                        f"{file_path}: writer schema differs from {files[0]} — "
                        "mixed-schema directories are not supported"
                    )
                yield pd.DataFrame(
                    {n: [conv(n, r.get(n)) for r in records] for n in names}
                )

    # one file index per partition: repartition(n) over a local relation
    # would place several files in one task and leave others empty
    return spark.range(0, len(files), 1, len(files)).mapInPandas(decode, schema=schema)


def postgres_jdbc_partitioned_options(
    conn_url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    batch_size: int = DEFAULT_BATCH_SIZE,
    user: str | None = None,
    password: str | None = None,
) -> dict[str, str]:
    """Options for a PARTITIONED parallel JDBC read — the Spark scale lever
    the reference's single-stream loader lacks (it reads one tokio stream,
    src/pg_arrow_source.rs:240-273; at 100 TB one connection is the
    bottleneck regardless of batch size).

    Spark splits ``[lower_bound, upper_bound)`` on ``partition_column``
    into ``num_partitions`` range predicates, one JDBC connection per
    task, so ingest bandwidth scales with executors until the server side
    saturates.  ``table`` is a table name or a ``(subquery) alias`` — a
    ``query`` option cannot be combined with partitioning, which is why
    this is a separate assembly from ``postgres_jdbc_options``.  Rows
    OUTSIDE the bounds are still read (they land in the first/last
    partition — Spark's documented contract), so the bounds tune
    parallelism, never correctness."""
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if upper_bound <= lower_bound:
        raise ValueError(
            f"upper_bound ({upper_bound}) must exceed lower_bound ({lower_bound})"
        )
    opts = postgres_jdbc_options(
        conn_url, query="", batch_size=batch_size, user=user, password=password
    )
    del opts["query"]  # mutually exclusive with dbtable+partitioning
    opts.update(
        {
            "dbtable": table,
            "partitionColumn": partition_column,
            "lowerBound": str(lower_bound),
            "upperBound": str(upper_bound),
            "numPartitions": str(num_partitions),
        }
    )
    return opts


def read_postgres_table_parallel(
    spark: SparkSession,
    conn_url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    batch_size: int = DEFAULT_BATCH_SIZE,
    user: str | None = None,
    password: str | None = None,
    driver: str = "auto",
) -> DataFrame:
    """Parallel partitioned read of a Postgres table (see
    ``postgres_jdbc_partitioned_options``).  Same ``driver`` dispatch as
    ``read_postgres_query`` — JDBC when the jar is present, else the
    pure-Python wire protocol with identical range-stride partitioning."""
    if driver == "auto":
        driver = "jdbc" if _pg_jdbc_available(spark) else "wire"
    if driver == "wire":
        from lakehouse_loader_spark.sources.pgwire import read_postgres_wire

        body = table.strip()
        query = body[1:-1].strip() if body.startswith("(") else f"SELECT * FROM {body}"
        # "(subquery) alias" form: strip the trailing alias with the parens
        if body.startswith("("):
            query = body[1 : body.rfind(")")].strip()
        return read_postgres_wire(
            spark,
            conn_url,
            query,
            batch_size=batch_size,
            user=user,
            password=password,
            partition_column=partition_column,
            num_partitions=num_partitions,
            lower_bound=lower_bound,
            upper_bound=upper_bound,
        )
    if driver != "jdbc":
        raise ValueError(f"unknown postgres driver {driver!r} (auto|jdbc|wire)")
    reader = spark.read.format("jdbc")
    for k, v in postgres_jdbc_partitioned_options(
        conn_url,
        table,
        partition_column,
        lower_bound,
        upper_bound,
        num_partitions,
        batch_size,
        user=user,
        password=password,
    ).items():
        reader = reader.option(k, v)
    return reader.load()
