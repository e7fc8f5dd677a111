"""``pg_load``: the reference's headline path, Postgres query -> lakehouse.

Each pass streams ``SELECT * FROM lineitem`` from a local Postgres through
``sources.pgwire.read_postgres_wire`` into a fresh Delta table over one
cursor (the CLI default) and into a fresh Iceberg table over four range
cursors on ``l_orderkey``.  Each load is checked against the same count and
sums run in Postgres.  Traced passes also scan the query with no sink
(Spark's ``noop`` writer), which isolates the source's own rate.

Postgres is filled once, before the set-up repetitions.  After them, an
untimed warm-up runs both loads on a 1k-row table: it starts the Python
workers and compiles the JVM's load path, so the timed passes measure
the load itself rather than the session's first use.
"""

from __future__ import annotations

import os

from harness import Context, check, dir_bytes, median
from pgfixture import PgServer, available, export_csv

QUERY = "SELECT * FROM lineitem"
WARM_UP_ROWS = 1000
CHECK_SQL = "SELECT count(*), sum(l_orderkey), sum(l_quantity) FROM lineitem"
N_CURSORS = 4


class PgLoad:
    name = "pg_load"
    sf = 0.05
    toy_sf = 0.001
    min_passes = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.pg: PgServer | None = None
        self.expected: tuple | None = None
        self.rows = 0
        self.stored: dict[str, int] = {}

    def prepare(self) -> None:
        ctx = self.ctx
        self.csv = os.path.join(ctx.work, "lineitem.csv")
        export_csv(os.path.join(ctx.corpus, "lineitem.parquet"), self.csv)
        if not available():
            return
        self.pg = PgServer(os.path.join(ctx.work, "pg")).__enter__()
        self.pg.fill_lineitem(self.csv)
        self.pg.psql("CREATE TABLE lineitem_warm_up AS "
                     f"SELECT * FROM lineitem LIMIT {WARM_UP_ROWS}")

    def setup(self) -> None:
        pass

    def warm_up(self) -> None:
        """Both loads of a pass, on the small table, into throwaway tables."""
        if self.pg is None:
            return
        from lakehouse_loader_spark.sinks.delta import write_delta
        from lakehouse_loader_spark.sinks.iceberg import write_iceberg
        from lakehouse_loader_spark.sources.pgwire import read_postgres_wire

        spark, url = self.ctx.spark, self.pg.url
        out = os.path.join(self.ctx.work, "tables", "warm_up")
        query = "SELECT * FROM lineitem_warm_up"
        write_delta(read_postgres_wire(spark, url, query), os.path.join(out, "delta"))
        write_iceberg(read_postgres_wire(spark, url, query, partition_column="l_orderkey",
                                         num_partitions=N_CURSORS),
                      os.path.join(out, "iceberg"))

    def _expected(self) -> tuple:
        if self.expected is None:
            n, s_key, s_qty = self.pg.psql(CHECK_SQL).split("|")
            self.expected = (int(n), int(s_key), float(s_qty))
            self.rows = self.expected[0]
        return self.expected

    def run_pass(self) -> None:
        ctx = self.ctx
        if self.pg is None:
            ctx.count_failed(2, "pg_load: no PostgreSQL server binaries on this host")
            return
        from lakehouse_loader_spark.sinks.delta import read_delta, write_delta
        from lakehouse_loader_spark.sinks.iceberg import read_iceberg, write_iceberg
        from lakehouse_loader_spark.sources.pgwire import read_postgres_wire

        spark, url = ctx.spark, self.pg.url
        out = os.path.join(ctx.work, "tables", f"pass{ctx.pass_no}")
        plans = [
            ("delta", write_delta, read_delta, {}),
            ("iceberg", write_iceberg, read_iceberg,
             {"partition_column": "l_orderkey", "num_partitions": N_CURSORS}),
        ]
        for fmt, write, read, read_opts in plans:
            path = os.path.join(out, fmt)
            with ctx.op(f"pg_load.{fmt}", fmt=fmt) as op:
                df = op.call("sources.pgwire.read_postgres_wire", read_postgres_wire,
                             spark, url, QUERY, **read_opts)
                op.call(f"sinks.{fmt}.write_{fmt}", write, df, path)
                self._check(read(spark, path), f"pg_load.{fmt}")
                self.stored[fmt] = dir_bytes(path)
        if ctx.pass_traced:
            with ctx.op("pg_load.scan", trace_only=True) as op:
                df = op.call("sources.pgwire.read_postgres_wire", read_postgres_wire,
                             spark, url, QUERY)
                op.call("sources.pgwire.scan", df.write.format("noop").mode("overwrite").save)

    def _check(self, df, what: str) -> None:
        from pyspark.sql import functions as F

        n, s_key, s_qty = self._expected()
        got = df.agg(F.count("*"), F.sum("l_orderkey"), F.sum("l_quantity")).first()
        check(
            (got[0], got[1], float(got[2] or 0)) == (n, s_key, s_qty),
            f"{what}: count/sums {tuple(got)} != postgres {(n, s_key, s_qty)}",
        )

    def close(self) -> None:
        if self.pg is not None:
            self.pg.close()

    # -- metrics -----------------------------------------------------------

    def detail(self) -> dict:
        """Workload metrics from the untraced warm passes: a traced pass
        after the first runs the profiler, which more than doubles a load."""
        ctx = self.ctx
        out = {}
        for fmt in ("delta", "iceberg"):
            calls = [c for c in ctx.calls if c["op"] == f"pg_load.{fmt}" and not c["traced"]]
            secs = [
                sum(c["s"] for c in calls if c["pass"] == p)
                for p in ctx.steady_passes() if any(c["pass"] == p for c in calls)
            ]
            med = median(secs)
            out[f"pg_load.{fmt}_load_rows_per_s"] = self.rows / med if med else 0.0
        total = sum(self.stored.values())
        out["pg_load.stored_bytes_per_row"] = total / (2 * self.rows) if self.rows else 0.0
        for fmt, b in self.stored.items():
            out[f"sinks.{fmt}.stored_bytes"] = b
        return out

    def layers(self) -> dict:
        """Per-layer metrics from the spans of traced passes.  Pass 0 runs
        after the warm-up and without the profiler, so it times the layers;
        the later, profiled traced passes give the Python-worker time."""
        ctx, tr = self.ctx, self.ctx.tracer
        timed = [s for s in tr.spans if s.get("pass") == 0]
        profiled = [s for s in tr.spans if s.get("pass", 0) > 0]
        out = {}
        reads = [s for s in timed if s["name"] == "sources.pgwire.read_postgres_wire"]
        out["sources.pgwire.describe_s"] = _med_dur(reads)
        scans = [s for s in timed if s["name"] == "sources.pgwire.scan"]
        out["sources.pgwire.scan_rows_per_s"] = self.rows / _med_dur(scans) if scans else 0.0
        load_names = ("sinks.delta.write_delta", "sinks.iceberg.write_iceberg")
        by_pass: dict[int, float] = {}
        for sp in profiled:
            if sp["name"] in load_names:
                by_pass[sp["pass"]] = by_pass.get(sp["pass"], 0.0) + sp["py_worker_s"]
        out["sources.pgwire.py_worker_s"] = median(by_pass.values())
        loads = [s for s in timed if s["name"] in load_names]
        for fmt in ("delta", "iceberg"):
            out[f"sinks.{fmt}.load_s"] = _med_dur(
                [s for s in loads if s["name"] == f"sinks.{fmt}.write_{fmt}"])
        busy = sum(tr.inclusive(s, "task_run_s") for s in loads)
        wall = sum(s["end"] - s["start"] for s in loads)
        out["pg_load.executor_busy_ratio"] = busy / (wall * ctx.cpus) if wall else 0.0
        return out


def _med_dur(spans) -> float:
    return median(s["end"] - s["start"] for s in spans)
