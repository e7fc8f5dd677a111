"""Run context shared by the workloads: operation accounting, spans,
Spark status-store attribution, the Python UDF profiler, process-tree
memory, and the result checks' value hash.

Spans are recorded only from the benchmark's own files, around calls into
the engine's public functions.  Each span carries (name, start, end,
parent, run id).  While a span is open its id is the Spark job group of
the calling thread, so the status store's jobs and stages are attributed
to the innermost span that issued them.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import sys
import threading
import time
import traceback
import uuid

import pandas as pd

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return float(xs[k])


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# result checks
# --------------------------------------------------------------------------


def _canon_value(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return repr(v)


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of a pandas frame.

    Columns are taken in sorted name order and floats to 9 significant
    digits, so partition-dependent summation order cannot flip the hash."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:32]


class CheckFailed(AssertionError):
    """An operation ran but produced a wrong result."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared between
    processes (the forked Python workers) divided among them."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as fh:
        return fh.read().strip()


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root_pid: int, parts: list | None = None) -> int:
    """Resident memory of a process and all its descendants, with pages the
    forked Python workers share counted once (their PSS).  The JVM shares
    next to nothing, and reading its PSS walks gigabytes of page tables
    (~50 ms a sample), so it is counted by RSS.  A child the JVM has spawned
    but not yet exec'd still shares the JVM's address space and would count
    it twice, so a JVM child still running the JVM's binary is skipped.
    ``parts`` collects (command, pid, bytes) per process counted."""
    total, stack, seen = 0, [(root_pid, "", "")], set()
    while stack:
        pid, parent_comm, parent_exe = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            comm, exe = _comm(pid), _exe(pid)
            if parent_comm == "java" and exe == parent_exe:
                continue
            b = _rss_bytes(pid) if comm == "java" else _pss_bytes(pid)
            total += b
            if parts is not None:
                parts.append((comm, pid, b))
        except OSError:
            continue
        stack.extend((c, comm, exe) for c in _children(pid))
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM, Python workers) every ``period`` seconds; ``peak`` is the
    maximum."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_parts: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts: list = []
            now = tree_rss_bytes(os.getpid(), parts)
            if now > self.peak:
                self.peak = now
                # the largest processes at the peak, in MB, for the run record
                self.peak_parts = sorted(
                    ((c, b >> 20) for c, _, b in parts), key=lambda p: -p[1])[:6]
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` is a bare yield: the
    untraced run pays no bookkeeping, no job-group calls and no profiler."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None  # set by the context once a session exists

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "py_worker_s": 0.0,
        }
        sp.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["id"], name)
        prof0 = self._profiled_s()
        try:
            yield sp
        finally:
            sp["py_worker_s"] = max(0.0, self._profiled_s() - prof0)
            sp["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._set_group(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, gid: str | None, desc: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        try:
            if gid is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(gid, desc)
        except Exception:  # a stopped context between set-up repetitions
            pass

    def _profiled_s(self) -> float:
        """Total seconds the Python UDF profiler has recorded in workers so
        far (``spark.sql.pyspark.udf.profiler=perf``), over all UDFs."""
        if self.spark is None:
            return 0.0
        try:
            results = self.spark._profiler_collector._perf_profile_results
        except Exception:  # profiler API drift degrades to 0
            return 0.0
        return float(sum(st.total_tt for st in results.values()))

    # -- status store ------------------------------------------------------

    def attach_job_metrics(self) -> None:
        """Attach Spark job intervals and stage task metrics to the span
        whose id is the job's group.  Reads the always-on status store once,
        after the measured passes."""
        if not self.enabled or self.spark is None:
            return
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.setdefault("jobs", [])
            s.setdefault("task_run_s", 0.0)
            s.setdefault("task_cpu_s", 0.0)
            s.setdefault("gc_s", 0.0)
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            pass
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isEmpty():
                continue
            sp = by_id.get(group.get())
            if sp is None:
                continue
            sub, comp = job.submissionTime(), job.completionTime()
            if not sub.isEmpty() and not comp.isEmpty():
                sp["jobs"].append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(k))
                except Exception:  # skipped stages were never attempted
                    continue
                sp["task_run_s"] += st.executorRunTime() / 1e3
                sp["task_cpu_s"] += st.executorCpuTime() / 1e9
                sp["gc_s"] += st.jvmGcTime() / 1e3

    # -- queries over the span tree -----------------------------------------

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def subtree(self, sp: dict) -> list[dict]:
        out, stack = [], [sp]
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(self.children(cur))
        return out

    def inclusive(self, sp: dict, key: str) -> float:
        return sum(s.get(key, 0.0) for s in self.subtree(sp))

    def job_union_s(self, sp: dict) -> float:
        """Seconds of ``sp``'s interval covered by its subtree's jobs."""
        iv = [
            (max(a, sp["start"]), min(b, sp["end"]))
            for s in self.subtree(sp)
            for a, b in s.get("jobs", [])
        ]
        return interval_union([(a, b) for a, b in iv if b > a])

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def validate_spans(spans: list[dict], slack_s: float = 1e-3) -> list[str]:
    """Problems with a span tree: a parent missing or from another run, a
    child outside its parent's interval, an unclosed span.  Empty = OK."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"{s['id']} {s['name']}: not closed")
        p = s["parent"]
        if p is None:
            continue
        par = by_id.get(p)
        if par is None:
            bad.append(f"{s['id']} {s['name']}: parent {p} missing")
            continue
        if par["run"] != s["run"]:
            bad.append(f"{s['id']} {s['name']}: parent from run {par['run']}")
        if s["start"] < par["start"] - slack_s or (s["end"] or 0) > (par["end"] or 0) + slack_s:
            bad.append(f"{s['id']} {s['name']}: outside parent {par['name']}")
    return bad


# --------------------------------------------------------------------------
# the run context
# --------------------------------------------------------------------------


class Context:
    """What a workload needs: the session, the tracer, operation counts."""

    def __init__(self, *, work: str, tmp: str, corpus: str, seed: int, trace: bool,
                 cpus: int, toy: bool = False):
        self.work = work
        self.tmp = tmp  # TMPDIR: where the engine stages scratch
        self.corpus = corpus
        self.seed = seed
        self.cpus = cpus
        self.toy = toy
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.pass_no = -1  # -1 during set-up
        self.pass_traced = trace
        self.ops: list[Op] = []  # completed operations
        self.calls: list[dict] = []  # every timed engine call

    def steady_passes(self) -> set[int]:
        """Passes a workload's own rates are taken from: the warm passes,
        or the cold pass when the run had no other."""
        return set(range(1, self.pass_no + 1)) or {0}

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **{"pass": self.pass_no, **attrs})

    def set_spark(self, spark) -> None:
        self.spark = spark
        self.tracer.spark = spark

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """One counted operation: its failure (an exception, or a failed
        result check) is recorded and swallowed so the run continues.
        Only the engine calls made through ``Op.call`` are timed; the result
        checks between them are not."""
        self.attempted += 1
        op = Op(self, name, attrs)
        try:
            with self.span(name, **attrs):
                yield op
            self.ops.append(op)
        except Exception as exc:  # the benchmark must keep running and report it
            self.failed += 1
            msg = f"{name}: {type(exc).__name__}: {exc}"
            self.errors.append(msg)
            print(f"# FAILED {msg}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    def count_failed(self, n: int, why: str) -> None:
        """Operations that could not be attempted still count as failed."""
        self.attempted += n
        self.failed += n
        self.errors.append(why)
        print(f"# FAILED x{n}: {why}", file=sys.stderr)


class Op:
    """A counted operation; ``call`` times one engine call inside it."""

    def __init__(self, ctx: Context, name: str, attrs: dict):
        self.ctx = ctx
        self.name = name
        self.attrs = attrs
        self.pass_no = ctx.pass_no
        self.seconds = 0.0

    def call(self, name: str, fn, *args, **kwargs):
        rec = {"name": name, "op": self.name, "pass": self.pass_no,
               "traced": self.ctx.pass_traced, **self.attrs}
        with self.ctx.span(name, **self.attrs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            rec["s"] = time.perf_counter() - t0
        self.seconds += rec["s"]
        self.ctx.calls.append(rec)
        return out


def dir_files(path: str) -> dict[str, int]:
    """relative path -> size for every regular file under ``path``."""
    out: dict[str, int] = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            full = os.path.join(dp, fn)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())
