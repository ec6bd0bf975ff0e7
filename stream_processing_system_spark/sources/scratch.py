"""Scratch space on local disk, and the one-time fixtures built in it.

The reference keeps every job's inputs and outputs in one store, SDFS
(`Nimbus.go:446-567`). Here the local temp dir plays that part, and
this module is its one owner: every scratch dir is a private
`spark_graft_<kind>_*` dir from `mkdtemp` (mode 0700, so no other
user can pre-create, read or clobber it), and each has one of two
lifetimes:

- `scratch(kind)`: the body of a `with` block, for a drain's file
  drop and checkpoint or a sink's round-trip output.
- `fixture(kind)`: the process, for a copy of a table that a query
  writes once per sf_dir (a layout rewrite, an index) and then scans
  on every call. `remove_scratch_caches`, run at exit, deletes them.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import shutil
import tempfile
from collections.abc import Callable, Iterator
from typing import Any


def _mkdtemp(kind: str) -> str:
    return tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")


@contextlib.contextmanager
def scratch(kind: str) -> Iterator[str]:
    """A new private `spark_graft_<kind>_*` dir for the body, removed
    on exit, also when the body raises."""
    path = _mkdtemp(kind)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


#: (fixture getter, sf_dir) -> what its builder returned in this process.
_FIXTURES: dict[tuple[Callable, str], Any] = {}
#: Every dir a fixture builder was handed in this process.
_FIXTURE_DIRS: list[str] = []


def fixture(kind: str | None = None):
    """Build once per sf_dir per process: decorates a builder
    `build(spark, sf_dir)` into a getter with the same signature that
    returns the first build's value on every later call. With `kind`,
    the builder is `build(spark, sf_dir, path)` and `path` is a new
    private `spark_graft_<kind>_*` dir that lives until
    `remove_scratch_caches`.

    Only build halves belong here, whose value a repeated query scans
    (a table copy, an index, a trained codebook); a query's result is
    never memoized."""

    def wrap(build: Callable) -> Callable:
        @functools.wraps(build)
        def get(spark, sf_dir: str):
            key = (get, sf_dir)
            if key not in _FIXTURES:
                args = ()
                if kind is not None:
                    args = (_mkdtemp(kind),)
                    _FIXTURE_DIRS.append(args[0])
                _FIXTURES[key] = build(spark, sf_dir, *args)
            return _FIXTURES[key]

        return get

    return wrap


@atexit.register
def remove_scratch_caches() -> None:
    """Remove every fixture dir of this process and empty the memo, so
    a later call rebuilds."""
    for path in _FIXTURE_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _FIXTURE_DIRS.clear()
    _FIXTURES.clear()
