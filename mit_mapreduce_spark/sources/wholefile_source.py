"""Whole-file text as a Spark 4 Python Data Source.

The reference's F1 input contract — Map receives (filename, whole
contents), one task per file (`mr/worker.go:116-130`,
`mr/master.go:289-296`) — implemented twice in this repo:
``sources.whole_text_files`` lifts Hadoop's ``wholeTextFiles`` into
a JVM Dataset (the scan ``mapreduce.run_job`` uses); this module is
the same contract on the Python Data Source API (new in Spark 4),
for local paths: a declarative source with one
``InputPartition`` per file, so Catalyst sees a real relation (column
pruning applies; each file still maps to exactly one task, the
reference's scheduling granularity).

The API's scale contract is the same as any file source: partition
planning happens on the driver (cheap: one listing), reads happen on
executors — file bytes never transit the driver. Registration is
per-session: ``spark.dataSource.register(WholeFileDataSource)``,
then ``spark.read.format("wholefile").load(dir_or_glob)``.

RESTRICTION — local/shared POSIX paths only: listing uses
``os.listdir``/``glob`` and reads use builtin ``open``, so driver and
executors must see the same mounted filesystem (local[*], NFS, a
shared volume). Object-store/HDFS URIs (``s3://``, ``hdfs://``) are
rejected up front rather than silently listing nothing; routing
through the Hadoop FS API (or ``sources.whole_text_files``, whose
Hadoop scan already speaks those paths) is the extension point for
those. This matches the reference's own deployment shape — its
coordinator hands out plain local paths (`mr/master.go:289-296`).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class WholeFileDataSource(DataSource):
    """``spark.read.format("wholefile").load(path)`` →
    (path string, content string), one row and one partition per file."""

    @classmethod
    def name(cls) -> str:
        return "wholefile"

    def schema(self) -> str:
        return "path string, content string"

    def reader(self, schema) -> DataSourceReader:
        return _WholeFileReader(self.options)


class _WholeFileReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("wholefile source requires a path: "
                             ".load('/dir/or/glob')")
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                f"wholefile reads via the local filesystem only; got "
                f"{path!r}. Use sources.whole_text_files (Hadoop-path "
                f"aware) for object-store/HDFS URIs.")
        self._path = path.removeprefix("file://")

    def partitions(self):
        # Driver-side planning: ONE listing, one InputPartition per
        # file — the reference's one-map-task-per-file seeding.
        import glob
        import os

        p = self._path
        if os.path.isdir(p):
            files = sorted(
                os.path.join(p, f) for f in os.listdir(p)
                if os.path.isfile(os.path.join(p, f)))
        else:
            files = sorted(f for f in glob.glob(p) if os.path.isfile(f))
        if not files:
            raise FileNotFoundError(f"wholefile: no files match {p!r}")
        return [InputPartition(f) for f in files]

    def read(self, partition):
        # Executor-side: read this partition's single file.
        fname = partition.value
        with open(fname, encoding="utf-8", errors="replace") as f:
            yield (fname, f.read())
