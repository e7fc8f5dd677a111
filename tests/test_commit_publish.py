"""A commit's version file is published whole: a crash while its bytes
are being written leaves the table at its before state, and a retry
commits.  The failure is injected into the file object the commit writes
through, after its first byte."""

from __future__ import annotations

import os
import re

import pytest

from lakehouse_loader_spark.sinks import delta as DL
from lakehouse_loader_spark.sinks import iceberg as IC

pytestmark = pytest.mark.skipif(
    not os.path.isdir("/proc/self/fd"), reason="needs /proc/self/fd"
)


class _TornWriter:
    """Writes the first character it is given, then fails."""

    def __init__(self, fh):
        self._fh = fh

    def write(self, text):
        self._fh.write(text[:1])
        self._fh.flush()
        raise OSError("injected crash mid-write")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._fh.close()
        return False

    def __getattr__(self, name):
        return getattr(self._fh, name)


def _tear_writes_to(version_file):
    real = os.fdopen

    def fdopen(fd, *args, **kwargs):
        fh = real(fd, *args, **kwargs)
        if re.search(version_file, os.path.basename(os.readlink(f"/proc/self/fd/{fd}"))):
            return _TornWriter(fh)
        return fh

    return fdopen


FORMATS = {
    "delta": (DL.write_delta, DL.read_delta, r"\d{20}\.json"),
    "iceberg": (IC.write_iceberg, IC.read_iceberg, r"v\d+\.metadata\.json"),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_crash_mid_commit_write_keeps_before_state_and_retry_commits(
    spark, tmp_path, monkeypatch, fmt
):
    write, read, version_file = FORMATS[fmt]
    path = str(tmp_path / fmt)
    write(spark.range(0, 10), path)
    with monkeypatch.context() as m:
        m.setattr(os, "fdopen", _tear_writes_to(version_file))
        with pytest.raises(OSError, match="injected crash"):
            write(spark.range(10, 20), path, append=True)
    assert sorted(r.id for r in read(spark, path).collect()) == list(range(10))
    write(spark.range(10, 20), path, append=True)
    assert sorted(r.id for r in read(spark, path).collect()) == list(range(20))
