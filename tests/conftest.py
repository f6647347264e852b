import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from rosbag2parquet_spark.session import get_spark, stop_spark

    s = get_spark("tests", cpus=8)
    yield s
    stop_spark(s)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from rosbag2parquet_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def layout_files(root: str) -> dict:
    """Every file under ``root`` by relative path, with its bytes: two
    snapshots compare equal iff no file was added, removed or changed."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class Crash(BaseException):
    """A process dying at an injected point (BaseException, like a kill's
    KeyboardInterrupt: no ``except Exception`` handler swallows it)."""


def crash_after_rename(monkeypatch, when) -> None:
    """Make the first ``os.rename(src, dst)`` for which ``when(src, dst)``
    holds land, then raise `Crash` — a publish dying right after that
    rename. Later renames run normally."""
    real = os.rename

    def rename(src, dst, *args, **kwargs):
        real(src, dst, *args, **kwargs)
        if when(src, dst):
            monkeypatch.setattr(os, "rename", real)
            raise Crash(f"crashed after rename {src} -> {dst}")

    monkeypatch.setattr(os, "rename", rename)
