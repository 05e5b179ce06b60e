"""Rules the package source keeps: temp directories come only from the
process-scoped staging dir in ``fsutil.py`` (removed at exit), and
streaming queries are started and awaited only by the shared ``drain``
helper in ``streaming/incremental.py``."""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "trafsys_data_transfer_spark"


def _files_using(needle: str, allowed: str) -> list[str]:
    return sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if needle in p.read_text() and p.relative_to(PKG).as_posix() != allowed
    )


def test_mkdtemp_only_in_fsutil():
    assert _files_using("tempfile.mkdtemp", "fsutil.py") == []


def test_await_termination_only_in_drain():
    assert _files_using("awaitTermination", "streaming/incremental.py") == []
