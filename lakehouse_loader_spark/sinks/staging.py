"""Shared staging-directory promotion and commit-file publishing for the
Delta and Iceberg sinks.

Both sinks write parquet parts via Spark into a staging directory, then
promote them into the table layout while collecting per-file metadata
(relative path, identity-partition values, size).  One implementation keeps
the hive-directory parsing — including percent-unescaping and the
``__HIVE_DEFAULT_PARTITION__`` null sentinel — identical on both paths.
Both also commit by exclusively creating the next log/metadata version
file, which :func:`create_exclusive` publishes whole.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from urllib.parse import unquote

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def local_path(path: str) -> str:
    """Resolve a ``file://`` URI to a plain filesystem path (no-op for bare
    paths).  The reference's CompatObjectStore accepts URI table locations
    (delta_destination.rs:232-390); this sink supports the local scheme that
    exists in this environment — s3/gs/abfs URIs go through Spark's Hadoop
    conf and are rejected here rather than silently treated as local dirs."""
    if not path.startswith("file:"):
        import re

        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
            raise ValueError(f"unsupported URI scheme for local sink: {path!r}")
        return path
    from urllib.parse import unquote, urlparse

    parsed = urlparse(path)
    if parsed.netloc not in ("", "localhost"):
        raise ValueError(f"file URI with non-local authority: {path!r}")
    return unquote(parsed.path) or "/"


def create_exclusive(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` whole, or raise ``FileExistsError`` if
    ``path`` exists — the local twin of an object store's conditional PUT.

    The text goes to a hidden temp file in the same dir and ``os.link``
    (which fails on an existing target) is the commit point.  Creating the
    target first and writing into it would expose an empty or partial
    version file: a racing writer that loses the create re-reads the
    newest version and finds it torn, and a crash mid-write leaves a torn
    version that bricks every later commit."""
    fd, tmp = tempfile.mkstemp(
        prefix=f".{os.path.basename(path)}.", suffix=".tmp", dir=os.path.dirname(path)
    )
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        os.link(tmp, path)
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def accepts_file_uris(fn, param: str = "path"):
    """Decorator: normalize the table-location parameter (named ``path`` on
    every public sink function) from a ``file://`` URI to a local path, so
    callers can address tables by URI (the layer CompatObjectStore provides
    in the reference).  ONLY that parameter is touched — normalizing every
    URI-shaped string argument would reject or rewrite DATA values (a bound
    of ``'http://a'`` in prune_files_by_stats, a ``'file:///x'`` cell in a
    URL-valued column comparison)."""
    import functools
    import inspect
    import re

    # file: URIs get resolved; any other scheme://... is rejected by
    # local_path (never silently treated as a local directory)
    uri_like = re.compile(r"^file:|^[A-Za-z][A-Za-z0-9+.-]*://")
    sig = inspect.signature(fn)
    if param not in sig.parameters:
        raise TypeError(f"{fn.__name__} has no {param!r} parameter to normalize")

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        v = bound.arguments.get(param)
        if isinstance(v, str) and uri_like.match(v):
            bound.arguments[param] = local_path(v)
        return fn(*bound.args, **bound.kwargs)

    return wrapper


def hive_partition_str(value) -> str | None:
    """Canonical hive-directory representation of a partition VALUE, for
    comparing user-supplied values against parsed partition metadata
    (Spark lowercases booleans; null matches the null sentinel)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def promote_staged_files(staging: str, dest_dir: str) -> list[tuple[str, dict, int]]:
    """Move parquet parts from a Spark staging write into ``dest_dir``,
    preserving hive-style ``col=value`` partition directories.  Returns
    one (relative_path, partition_values, size_bytes) tuple per file.

    Partition values are UNESCAPED (Spark percent-escapes special
    characters like ':' in directory names; table metadata must store the
    true values) and the hive null sentinel decodes to ``None``."""
    out: list[tuple[str, dict, int]] = []
    os.makedirs(dest_dir, exist_ok=True)
    for root, _dirs, files in os.walk(staging):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(root, staging)
            rel = name if rel_dir == "." else os.path.join(rel_dir, name)
            dst = os.path.join(dest_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(root, name), dst)
            partition: dict = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, v = seg.partition("=")
                    partition[unquote(k)] = None if v == HIVE_NULL else unquote(v)
            out.append((rel.replace(os.sep, "/"), partition, os.path.getsize(dst)))
    shutil.rmtree(staging, ignore_errors=True)
    return out
