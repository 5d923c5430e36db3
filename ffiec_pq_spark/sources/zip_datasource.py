"""Zip-member line source as a Spark 4 PYTHON DATA SOURCE — the
executor-parallel scale path for the zip-of-TSV ingest (SURVEY §2.1
S1-S4).

The classic options were (a) driver-side ``zipfile`` extraction (fine
at reference scale, serial at 100 TB) or (b) ``binaryFile`` +
``mapInPandas`` (works, but ships whole members as single binary cells
through Arrow).  The Python Data Source API gives the natural shape:
one input partition PER ZIP MEMBER, each task opening the archive
directly and streaming decoded lines — no driver extraction, no
whole-member buffering, and Spark schedules members like any other
split.  Cites `R/ffeic_read.R:59-86` (per-member read loop) for the
semantics being distributed.

Usage::

    spark.dataSource.register(ZipLinesDataSource)
    df = (spark.read.format("ffiec_zip_lines")
          .option("path", "/data/bulk.zip")
          .option("pattern", "*Schedule RI*")
          .load())
    # -> (member string, line_no bigint, line string)

The raw-line output plugs into the typed parser
(sources/tsv.py ``parse_schedule_lines``) unchanged; parity tests pin
it against the direct ``zipfile`` read and the ETL's own read pass.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _MemberPartition(InputPartition):
    def __init__(self, member: str):
        self.member = member


class ZipLinesDataSource(DataSource):
    """``format("ffiec_zip_lines")``: options ``path`` (the zip file,
    required) and ``pattern`` (fnmatch over member names, default *)."""

    @classmethod
    def name(cls) -> str:
        return "ffiec_zip_lines"

    def schema(self) -> str:
        return "member string, line_no bigint, line string"

    def reader(self, schema) -> "ZipLinesReader":
        return ZipLinesReader(self.options)


class ZipLinesReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ffiec_zip_lines: option 'path' is required")
        self.pattern = options.get("pattern", "*")

    def partitions(self):
        # driver side: listing member NAMES only (central directory read,
        # no decompression) — one partition per member
        import fnmatch
        import zipfile

        with zipfile.ZipFile(self.path) as zf:
            names = [
                n
                for n in zf.namelist()
                if not n.endswith("/") and fnmatch.fnmatch(n, self.pattern)
            ]
        return [_MemberPartition(n) for n in sorted(names)]

    def read(self, partition: _MemberPartition):
        # executor side: stream-decode one member; constant memory per
        # task regardless of member size
        import io
        import zipfile

        with zipfile.ZipFile(self.path) as zf:
            with zf.open(partition.member) as raw:
                text = io.TextIOWrapper(raw, encoding="utf-8", errors="replace")
                for i, line in enumerate(text):
                    yield (partition.member, i, line.rstrip("\r\n"))
