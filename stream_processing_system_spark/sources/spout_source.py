"""Custom PySpark data source reproducing the reference's pluggable
spout contract (SURVEY.md §2.1 S7, §2.11).

The reference's spout API is `Init(path) / Open() / NextTuple() →
map[string]string` (`Apps/WordCountSpout.go:18-44`), emitting
`{linenumber, line}` tuples (`spout/spout.go:235-237`). This module
implements it as a real Spark `DataSource` ("crane_spout"), so
`spark.read.format("crane_spout").option("path", p)` yields exactly
those tuples — including the 1-based `linenumber` the plain
`spark.read.text` path deliberately drops (see sources/text.py).

Scale note: line numbers force sequential semantics *per file*, so
each file is one partition (parallelism = #files). That is the honest
cost of the reference's contract — for numbered lines at 100 TB you
shard the input into many files, which is how such corpora ship
anyway. The unnumbered text path stays byte-range-splittable.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _required_path(options, fmt: str) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} requires option 'path'")
    return path


def _spout_files(path: str) -> list[str]:
    """The spout's input files in sorted order: `path` itself, or the
    visible files of the directory `path` (names starting with `.` or
    `_` are Spark and Hadoop bookkeeping)."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_"))
    )


def _numbered_lines(path: str):
    """NextTuple() loop (`Apps/WordCountSpout.go:31-44`): one
    `(linenumber, line)` tuple per line of the file, numbered from 1."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        for i, raw in enumerate(fh, start=1):
            yield (i, raw.rstrip("\n"))


def _numbered_rows(files: list[str], start: dict, end: dict):
    """The numbered lines of the files in the offset range [start, end)."""
    chosen = files[start["n_files"] : end["n_files"]]
    return iter([row for f in chosen for row in _numbered_lines(f)])


class CraneSpoutDataSource(DataSource):
    """`format("crane_spout")`, options: path (file or directory)."""

    @classmethod
    def name(cls) -> str:
        return "crane_spout"

    def schema(self) -> str:
        return "linenumber bigint, line string"

    def reader(self, schema: StructType) -> DataSourceReader:
        return CraneSpoutReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        return CraneSpoutStreamReader(self.options)


class CraneSpoutReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = _required_path(options, "crane_spout")

    def partitions(self):
        return [_FilePartition(f) for f in _spout_files(self.path)]

    def read(self, partition: _FilePartition):
        return _numbered_lines(partition.path)


def register(spark) -> None:
    spark.dataSource.register(CraneSpoutDataSource)
    spark.dataSource.register(CraneSinkDataSource)


class CraneSinkDataSource(DataSource):
    """`format("crane_sink")` — the WRITE half of the pluggable
    contract: a custom Python DataSource writer emitting the
    reference's K1 `word:count` line format (`bolt/bolt.go:296-310`)
    from any 2-column (string, numeric) DataFrame via
    `df.write.format("crane_sink").option("path", p).save()`.
    Each task writes one part file (normal distributed-sink layout);
    commit messages carry the written paths back to the driver.
    """

    @classmethod
    def name(cls) -> str:
        return "crane_sink"

    def writer(self, schema: StructType, overwrite: bool):
        if len(schema.fields) != 2:
            raise ValueError("crane_sink expects exactly 2 columns (key, count)")
        return CraneSinkWriter(self.options)


class CraneSinkWriter(DataSourceWriter):
    def __init__(self, options) -> None:
        self.path = _required_path(options, "crane_sink")

    def write(self, iterator):
        import uuid

        os.makedirs(self.path, exist_ok=True)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}")
        n = 0
        with open(out, "w") as fh:
            for row in iterator:
                fh.write(f"{row[0]}:{row[1]}\n")
                n += 1
        if n == 0:
            os.remove(out)  # no empty part files
        return WriterCommitMessage()


class CraneSpoutStreamReader(SimpleDataSourceStreamReader):
    """Streaming NextTuple(): the reference spout is a STREAM source
    (`spout/spout.go:176-204` loops lines over a socket until EOF,
    then emits END); here the same contract is a Spark streaming
    DataSource tailing a directory. The offset is the count of
    consumed files (sorted order), so each micro-batch reads exactly
    the files that appeared since the last one, and
    `readBetweenOffsets` replays any committed range byte-identically
    — recovery the reference solves by dropping the whole job
    (`Nimbus.go:280-297`) falls out of offset bookkeeping here.
    Per-file 1-based line numbers, matching the batch reader.
    """

    def __init__(self, options) -> None:
        self.path = _required_path(options, "crane_spout")

    def initialOffset(self):
        return {"n_files": 0}

    def read(self, start):
        # one listing gives both the rows and the end offset, so a file
        # that lands meanwhile is neither skipped nor counted unread
        files = _spout_files(self.path)
        end = {"n_files": len(files)}
        return _numbered_rows(files, start, end), end

    def readBetweenOffsets(self, start, end):
        return _numbered_rows(_spout_files(self.path), start, end)

    def commit(self, end) -> None:
        pass
