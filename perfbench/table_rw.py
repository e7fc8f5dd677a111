"""``table_rw``: the sinks' write, DML, commit and merged-read paths.

Each pass, per format (Delta, Iceberg), into fresh tables:

1. load the corpus ``lineitem`` parquet;
2. DML - Delta: deletion-vector delete, update, merge; Iceberg:
   deletion-vector delete, equality delete, merge;
3. small (1k-row) appends, alternating the two formats;
4. a full-column merged read, optimize, and the same read again.

The seed picks the DML predicate constants, the equality-delete keys and
the merge keys.  The sf0.1-style ``lineitem`` repeats
(``l_orderkey``, ``l_linenumber``), so the merge source is deduplicated on
that key.  The same steps applied by DuckDB to the source parquet give
the expected results: each load's row count, what each row-level step
must report (rows deleted or updated, keys updated or inserted), and the
count and per-column sums of each full read.
"""

from __future__ import annotations

import math
import os
import random

from harness import Context, check, dir_files, median, percentile

FORMATS = ("delta", "iceberg")
# row-level steps in pass order; Iceberg refuses MERGE over equality
# deletes until compacted, so its merge runs first
STEPS = {
    "delta": ("delete_dv", "update", "merge"),
    "iceberg": ("delete_dv", "merge", "equality_delete"),
}
DML = {fmt: (*steps, "optimize") for fmt, steps in STEPS.items()}
MERGE_KEY = ["l_orderkey", "l_linenumber"]
COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"]
UPDATE_SET = {"l_quantity": "l_quantity + 1"}
# the full read's aggregate: the row count and one sum per column, so every
# column is scanned and a step that writes wrong values fails the read.
# (DuckDB expression, PySpark expression) pairs
READ_AGG = [("count(*)", "count(1)")] + [
    (f"sum({c})", f"sum({c})") for c in COLS[:8]
] + [
    ("sum((l_returnflag = 'R')::BIGINT)", "sum(cast(l_returnflag = 'R' as bigint))"),
    ("sum((l_linestatus = 'F')::BIGINT)", "sum(cast(l_linestatus = 'F' as bigint))"),
    ("sum(year(l_shipdate))", "sum(year(l_shipdate))"),
]


class TableRW:
    name = "table_rw"
    sf = 0.005
    toy_sf = 0.001
    min_passes = 1
    appends = 8  # across both formats
    toy_appends = 4
    append_rows = 1000
    merge_keys = 200  # half matched, half new
    eq_keys = 50

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_appends = self.toy_appends if ctx.toy else self.appends
        self.step_rows: dict[tuple[str, str], int] = {}  # (fmt, step) -> expected count
        self.read_agg: dict[tuple[str, str], tuple] = {}  # (fmt, read step) -> READ_AGG row
        self.op_io: dict[tuple[str, str], dict] = {}  # (fmt, op) -> bytes/files of last pass
        self.meta: dict[str, dict] = {}
        self.changed_rows: dict[tuple[str, str], int] = {}
        self.reported: dict[tuple[str, str], dict] = {}  # (fmt, step) -> expected result
        self.read_files: dict[tuple[str, str], int] = {}  # (fmt, read step) -> files

    # -- inputs, expected counts ---------------------------------------------

    def prepare(self) -> None:
        import duckdb

        ctx = self.ctx
        self.src = os.path.join(ctx.corpus, "lineitem.parquet")
        rng = random.Random(ctx.seed)
        self.k_delete = rng.randrange(100)
        self.k_update = (self.k_delete + 1 + rng.randrange(99)) % 100
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{self.src}')")
            n_orders = con.execute("SELECT max(l_orderkey) + 1 FROM li").fetchone()[0]
            n = con.execute("SELECT count(*) FROM li").fetchone()[0]
            self.rows = n
            keys = con.execute(
                "SELECT DISTINCT l_orderkey, l_linenumber FROM li ORDER BY 1, 2"
            ).fetchall()
            half = self.merge_keys // 2
            matched = rng.sample(keys, min(half, len(keys)))
            new = [(n_orders + i, 1 + rng.randrange(7)) for i in range(half)]
            eq = rng.sample(range(n_orders), min(self.eq_keys, n_orders))
            self.eq_keys_list = eq
            con.execute("CREATE TABLE mkeys (k BIGINT, ln INTEGER)")
            con.executemany("INSERT INTO mkeys VALUES (?, ?)", matched + new)
            con.execute("CREATE TABLE eqk (k BIGINT)")
            con.executemany("INSERT INTO eqk VALUES (?)", [(k,) for k in eq])
            # merge source: one row per distinct key, new values
            self.merge_pdf = con.execute(
                """
                SELECT m.k AS l_orderkey, coalesce(s.l_partkey, 0) AS l_partkey,
                       coalesce(s.l_suppkey, 0) AS l_suppkey, m.ln AS l_linenumber,
                       99.0::DOUBLE AS l_quantity, coalesce(s.l_extendedprice, 1000.0::DOUBLE) AS l_extendedprice,
                       0.05::DOUBLE AS l_discount, 0.01::DOUBLE AS l_tax, 'R' AS l_returnflag,
                       'F' AS l_linestatus, TIMESTAMP '2001-01-01' AS l_shipdate
                FROM mkeys m LEFT JOIN (
                    SELECT l_orderkey, l_linenumber, any_value(l_partkey) AS l_partkey,
                           any_value(l_suppkey) AS l_suppkey,
                           any_value(l_extendedprice) AS l_extendedprice
                    FROM li GROUP BY 1, 2) s
                ON s.l_orderkey = m.k AND s.l_linenumber = m.ln
                """
            ).fetchdf()
            con.register("merge_src", self.merge_pdf)
            head = con.execute(
                f"SELECT * FROM li LIMIT {self.append_rows * self.n_appends}").fetchdf()
            self.append_pdfs = [
                head.iloc[i * self.append_rows:(i + 1) * self.append_rows].reset_index(drop=True)
                for i in range(self.n_appends)
            ]
            self.pred_delete = f"l_orderkey % 100 = {self.k_delete}"
            self.pred_update = f"l_orderkey % 100 = {self.k_update}"
            for fmt in FORMATS:
                self._simulate(con, fmt)
        finally:
            con.close()

    def _simulate(self, con, fmt: str) -> None:
        """Apply the pass's steps to a DuckDB copy of the source; record the
        row count after each step, what each DML step must report, the rows
        it changes, and the aggregate each full read must return.  MERGE is
        a keyed upsert: a key's target rows are replaced by its one source
        row."""

        def count(where: str = "TRUE") -> int:
            return con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]

        key_match = ("EXISTS (SELECT 1 FROM mkeys WHERE k = t.l_orderkey "
                     "AND ln = t.l_linenumber)")
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM li")
        self.step_rows[(fmt, "write")] = count()
        for step in STEPS[fmt]:
            if step == "delete_dv":
                changed = count(self.pred_delete)
                reported = {"deleted_rows": changed}
                con.execute(f"DELETE FROM t WHERE {self.pred_delete}")
            elif step == "update":
                changed = count(self.pred_update)
                reported = {"updated_rows": changed}
                sets = ", ".join(f"{c} = {e}" for c, e in UPDATE_SET.items())
                con.execute(f"UPDATE t SET {sets} WHERE {self.pred_update}")
            elif step == "merge":
                changed = count(key_match) + len(self.merge_pdf)
                updated = con.execute(
                    "SELECT count(*) FROM mkeys WHERE EXISTS (SELECT 1 FROM t "
                    "WHERE t.l_orderkey = k AND t.l_linenumber = ln)").fetchone()[0]
                reported = {"updated": updated, "inserted": len(self.merge_pdf) - updated}
                con.execute(f"DELETE FROM t WHERE {key_match}")
                con.execute(f"INSERT INTO t SELECT {', '.join(COLS)} FROM merge_src")
            elif step == "equality_delete":
                changed = count("l_orderkey IN (SELECT k FROM eqk)")
                reported = {"key_rows": len(self.eq_keys_list)}
                con.execute("DELETE FROM t WHERE l_orderkey IN (SELECT k FROM eqk)")
            self.changed_rows[(fmt, step)] = changed
            self.reported[(fmt, step)] = reported
            self.step_rows[(fmt, step)] = count()
        for pdf in self.append_pdfs[FORMATS.index(fmt)::2]:
            con.register("app", pdf)
            con.execute(f"INSERT INTO t SELECT {', '.join(COLS)} FROM app")
            con.unregister("app")
        agg = con.execute(f"SELECT {', '.join(d for d, _ in READ_AGG)} FROM t").fetchone()
        for step in ("read_before", "optimize", "read_after"):
            self.step_rows[(fmt, step)] = agg[0]
        for step in ("read_before", "read_after"):
            self.read_agg[(fmt, step)] = agg

    def setup(self) -> None:
        """The source DataFrames every pass reads (footer read, no data)."""
        ctx = self.ctx
        self.src_df = ctx.spark.read.parquet(self.src)
        self.merge_df = ctx.spark.createDataFrame(self.merge_pdf[COLS], schema=self.src_df.schema)

    # -- one pass ------------------------------------------------------------

    def _count(self, fmt: str, path: str) -> int:
        from lakehouse_loader_spark.sinks.delta import read_delta
        from lakehouse_loader_spark.sinks.iceberg import read_iceberg

        read = read_delta if fmt == "delta" else read_iceberg
        return read(self.ctx.spark, path).count()

    def _step(self, fmt: str, step: str, path: str, fn, *args, **kwargs):
        """One counted load or DML step, with its byte and file accounting
        (traced passes) and its result check."""
        ctx = self.ctx
        account = ctx.pass_traced  # byte and file counts: per-layer metrics
        if account:
            before = dir_files(path) if os.path.exists(path) else {}
            live0 = self._live_files(fmt, path) if before else set()
        with ctx.op(f"table_rw.{fmt}.{step}", fmt=fmt, step=step) as op:
            res = op.call(f"sinks.{fmt}.{step}", fn, *args, **kwargs)
            if account:
                after = dir_files(path)
                live1 = self._live_files(fmt, path)
                self.op_io[(fmt, step)] = {
                    "bytes_written": sum(sz for f, sz in after.items() if f not in before),
                    "files_added": len(live1 - live0),
                    "files_removed": len(live0 - live1),
                }
            self._check_step(fmt, step, path, res)

    def _check_step(self, fmt: str, step: str, path: str, res) -> None:
        """A load is checked by counting the table; a row-level step by what
        the engine reports it changed.  The full reads before and after
        optimize compare the count and every column's sum with DuckDB, so a
        step that reports right but writes wrong values fails the pass."""
        if step == "write":
            got, want = self._count(fmt, path), self.step_rows[(fmt, step)]
        elif step in STEPS[fmt]:
            want = self.reported[(fmt, step)]
            got = {k: res.get(k) for k in want}
        else:
            return
        check(got == want, f"table_rw.{fmt}.{step}: reported {got}, expected {want}")

    def _live_files(self, fmt: str, path: str) -> set[str]:
        if fmt == "delta":
            from lakehouse_loader_spark.sinks.delta import plan_delta_scan

            return set(plan_delta_scan(path, [])["files"])
        from lakehouse_loader_spark.sinks.iceberg import plan_iceberg_scan

        return {os.path.basename(f) for f in plan_iceberg_scan(path, [])["files"]}

    def _read(self, fmt: str, step: str, path: str) -> None:
        """Full-column merged read: every column feeds the aggregate, so the
        scan cannot prune any, and deletes/DVs are applied."""
        from lakehouse_loader_spark.sinks.delta import read_delta
        from lakehouse_loader_spark.sinks.iceberg import read_iceberg

        ctx = self.ctx
        read = read_delta if fmt == "delta" else read_iceberg
        with ctx.op(f"table_rw.{fmt}.{step}", fmt=fmt, step=step) as op:
            def full_read():
                return tuple(read(ctx.spark, path).selectExpr(*(e for _, e in READ_AGG)).first())

            got = op.call(f"sinks.{fmt}.read", full_read)
            want = self.read_agg[(fmt, step)]
            check(len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want)),
                  f"table_rw.{fmt}.{step}: read {got}, expected {want}")
            if ctx.pass_traced:
                self.read_files[(fmt, step)] = self._read_file_count(fmt, path)

    def _read_file_count(self, fmt: str, path: str) -> int:
        """Data files the merged read plans plus the delete/DV files it applies."""
        from pyspark.sql import functions as F

        from lakehouse_loader_spark.sinks.delta import plan_delta_scan, read_delta_meta
        from lakehouse_loader_spark.sinks.iceberg import plan_iceberg_scan, read_iceberg_meta

        spark = self.ctx.spark
        if fmt == "delta":
            data = len(plan_delta_scan(path, [])["files"])
            dvs = read_delta_meta(spark, path, "files").filter(F.col("dv_cardinality") > 0)
            return data + dvs.count()
        data = len(plan_iceberg_scan(path, [])["files"])
        dels = read_iceberg_meta(spark, path, "files").filter(F.col("content") != "data")
        return data + dels.count()

    def run_pass(self) -> None:
        from lakehouse_loader_spark.sinks import delta as D
        from lakehouse_loader_spark.sinks import iceberg as I

        ctx, spark = self.ctx, self.ctx.spark
        out = os.path.join(ctx.work, "tables", f"pass{ctx.pass_no}")
        paths = {fmt: os.path.join(out, fmt) for fmt in FORMATS}
        dp, ip = paths["delta"], paths["iceberg"]
        self._step("delta", "write", dp, D.write_delta, self.src_df, dp)
        self._step("iceberg", "write", ip, I.write_iceberg, self.src_df, ip)
        eq = spark.createDataFrame([(k,) for k in self.eq_keys_list], "l_orderkey bigint")
        calls = {
            ("delta", "delete_dv"): (D.delete_from_delta, (spark, dp, self.pred_delete),
                                     {"mode": "merge-on-read"}),
            ("delta", "update"): (D.update_delta, (spark, dp, self.pred_update, UPDATE_SET), {}),
            ("delta", "merge"): (D.merge_delta, (spark, dp, self.merge_df, MERGE_KEY), {}),
            ("iceberg", "delete_dv"): (I.delete_from_iceberg, (spark, ip, self.pred_delete),
                                       {"strategy": "merge-on-read-dv"}),
            ("iceberg", "merge"): (I.merge_iceberg, (spark, ip, self.merge_df, MERGE_KEY), {}),
            ("iceberg", "equality_delete"): (I.equality_delete_iceberg, (spark, ip, eq), {}),
        }
        for fmt in FORMATS:
            for step in STEPS[fmt]:
                fn, a, kw = calls[(fmt, step)]
                self._step(fmt, step, paths[fmt], fn, *a, **kw)
        for i, pdf in enumerate(self.append_pdfs):
            fmt = FORMATS[i % 2]
            df = spark.createDataFrame(pdf, schema=self.src_df.schema)
            write = D.write_delta if fmt == "delta" else I.write_iceberg
            with ctx.op(f"table_rw.{fmt}.append", fmt=fmt, step="append") as op:
                op.call(f"sinks.{fmt}.append", write, df, paths[fmt], append=True)
        for fmt in FORMATS:
            self._read(fmt, "read_before", paths[fmt])
        self._step("delta", "optimize", dp, D.optimize_delta, spark, dp)
        self._step("iceberg", "optimize", ip, I.optimize_iceberg, spark, ip)
        for fmt in FORMATS:
            self._read(fmt, "read_after", paths[fmt])
            self.meta[fmt] = self._meta_stats(fmt, paths[fmt])

    def _meta_stats(self, fmt: str, path: str) -> dict:
        files = dir_files(path)
        if fmt == "delta":
            log = {f: s for f, s in files.items() if f.startswith("_delta_log")}
            return {
                "stored_bytes": sum(files.values()),
                "log_bytes": sum(log.values()),
                "checkpoints": sum(1 for f in log if ".checkpoint" in f),
            }
        meta = {f: s for f, s in files.items() if f.startswith("metadata")}
        return {
            "stored_bytes": sum(files.values()),
            "metadata_bytes": sum(meta.values()),
            "manifests": sum(1 for f in meta if os.path.basename(f).startswith("manifest-")
                             and "manifest-list" not in f),
        }

    def close(self) -> None:
        pass

    # -- metrics -----------------------------------------------------------

    def _warm_calls(self, **match) -> list[dict]:
        steady = self.ctx.steady_passes()
        return [
            c for c in self.ctx.calls
            if c["pass"] in steady and all(c.get(k) == v for k, v in match.items())
        ]

    def _per_pass(self, calls) -> list[float]:
        by_pass: dict[int, float] = {}
        for c in calls:
            by_pass[c["pass"]] = by_pass.get(c["pass"], 0.0) + c["s"]
        return list(by_pass.values())

    def detail(self) -> dict:
        out = {}
        writes = self._warm_calls(step="write") + self._warm_calls(step="append")
        rows_per_pass = 2 * self.rows + self.append_rows * self.n_appends
        t = median(self._per_pass(writes))
        out["table_rw.write_rows_per_s"] = rows_per_pass / t if t else 0.0
        dml = [c for c in self._warm_calls() if c.get("step") in
               set(DML["delta"]) | set(DML["iceberg"])]
        out["table_rw.dml_s"] = median(self._per_pass(dml))
        changed = sum(self.changed_rows.values())
        stored_rows = sum(self.step_rows[(f, "read_after")] for f in FORMATS)
        stored = sum(m["stored_bytes"] for m in self.meta.values())
        row_bytes = stored / stored_rows if stored_rows else 0.0
        written = sum(io["bytes_written"] for (f, s), io in self.op_io.items()
                      if s not in ("write", "optimize"))
        out["table_rw.write_amp"] = written / (changed * row_bytes) if changed and row_bytes else 0.0
        commits = [c["s"] for c in self._warm_calls(step="append")]
        out["table_rw.commit_p50_s"] = percentile(commits, 50)
        out["table_rw.commit_p90_s"] = percentile(commits, 90)
        reads = self._warm_calls(name="sinks.delta.read") + self._warm_calls(
            name="sinks.iceberg.read")
        read_rows = sum(self.step_rows[(f, s)] for f in FORMATS
                        for s in ("read_before", "read_after"))
        t = median(self._per_pass(reads))
        out["table_rw.merged_read_rows_per_s"] = read_rows / t if t else 0.0
        out["table_rw.stored_bytes_per_row"] = row_bytes
        for fmt in FORMATS:
            for k, v in self.meta.get(fmt, {}).items():
                out[f"sinks.{fmt}.{k}"] = v
        return out

    def layers(self) -> dict:
        out = {}
        for fmt in FORMATS:
            w = self._warm_calls(fmt=fmt, step="write", traced=True)
            out[f"sinks.{fmt}.write_s"] = median(c["s"] for c in w)
            for step in DML[fmt]:
                out[f"sinks.{fmt}.{step}_s"] = median(
                    c["s"] for c in self._warm_calls(fmt=fmt, step=step, traced=True))
                for k, v in self.op_io.get((fmt, step), {}).items():
                    out[f"sinks.{fmt}.{step}.{k}"] = v
            commits = [c["s"] for c in self._warm_calls(fmt=fmt, step="append", traced=True)]
            out[f"sinks.{fmt}.commit_p50_s"] = percentile(commits, 50)
            out[f"sinks.{fmt}.commit_p90_s"] = percentile(commits, 90)
            reads = self._warm_calls(name=f"sinks.{fmt}.read", traced=True)
            out[f"sinks.{fmt}.read_s"] = median(self._per_pass(reads))
            out[f"sinks.{fmt}.read_files"] = sum(
                v for (f, _), v in self.read_files.items() if f == fmt)
        return out


def _same(got, want) -> bool:
    """Sums of doubles may differ in the last bits with summation order."""
    if isinstance(got, float) or isinstance(want, float):
        return got is not None and want is not None and math.isclose(
            float(got), float(want), rel_tol=1e-9)
    return got == want
