"""Bulk-zip discovery and in-zip manifests (SURVEY.md §2.1 S1/S2).

Reference behaviors re-expressed:
- ``list_bulk_zips``: regex-discover ``FFIEC CDR Call Bulk {All
  Schedules|XBRL} MMDDYYYY.zip`` files, parse the date out of the
  filename, sort (reference ffiec_list_zips, R/ffiec_manifest.R:51-117).
- ``zip_member_manifest``: list zip members and regex-extract
  ``schedule``, ``date``, ``part``, ``n_parts`` from inner filenames
  (reference get_cr_files, R/ffiec_manifest.R:130-144).

Both manifests are *small* (hundreds of rows), so they and the
multipart validation are plain driver-side Python (``member_rows``,
``validate_parts``): the ETL runs no Spark job for them.  The
DataFrame functions are thin wrappers over the same code.  Member
listing reads only the zip central directory (no decompression).
"""

from __future__ import annotations

import os
import re
import zipfile
from datetime import datetime
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

BULK_ZIP_RE = re.compile(
    r"FFIEC CDR Call Bulk (All Schedules|POR|XBRL) (\d{8})\.zip$"
)
# inner schedule file: "FFIEC CDR Call Schedule RC 03312024(1 of 2).txt"
MEMBER_RE = re.compile(
    r"FFIEC CDR Call (?:Schedule (?P<schedule>[A-Za-z0-9]+)|(?P<por>Bulk POR)) "
    r"(?P<date>\d{8})"
    r"(?:\((?P<part>\d+) of (?P<n_parts>\d+)\))?"
)

_ZIP_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("date", T.DateType(), True),
    ]
)

_VALIDATION_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType(), False),
        T.StructField("schedule", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("claimed", T.LongType(), True),
        T.StructField("found_parts", T.LongType(), False),
        T.StructField("parts", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("errors", T.ArrayType(T.StringType(), False), False),
    ]
)

_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("zipfile", T.StringType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("schedule", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("part", T.IntegerType(), True),
        T.StructField("n_parts", T.IntegerType(), True),
    ]
)


def _parse_mmddyyyy(tok: str):
    try:
        return datetime.strptime(tok, "%m%d%Y").date()
    except ValueError:
        return None


def list_bulk_zips(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Discover bulk zips in a directory -> (zipfile, kind, date), sorted."""
    rows = []
    for path in sorted(glob(os.path.join(raw_dir, "*.zip"))):
        m = BULK_ZIP_RE.search(os.path.basename(path))
        if m:
            rows.append((path, m.group(1), _parse_mmddyyyy(m.group(2))))
    return spark.createDataFrame(rows, _ZIP_SCHEMA).orderBy("date", "zipfile")


def member_rows(zip_path: str) -> list[dict]:
    """Member manifest of one zip as plain rows: ``file``, ``schedule``,
    ``date``, ``part``, ``n_parts`` (reference get_cr_files,
    R/ffiec_manifest.R:130-144).  Reads only the central directory."""
    rows = []
    with zipfile.ZipFile(zip_path) as zf:
        for name in zf.namelist():
            m = MEMBER_RE.search(name)
            if not m:
                rows.append(dict(file=name, schedule=None, date=None,
                                 part=None, n_parts=None))
                continue
            sched = m.group("schedule")
            rows.append(dict(
                file=name,
                schedule=sched.lower() if sched else ("por" if m.group("por") else None),
                date=_parse_mmddyyyy(m.group("date")),
                part=int(m.group("part")) if m.group("part") else None,
                n_parts=int(m.group("n_parts")) if m.group("n_parts") else None,
            ))
    return rows


def validate_parts(rows: list[dict]) -> dict[tuple, dict]:
    """Multipart validation (reference resolve_n_parts,
    R/ffiec_process.R:106-130) over the schedule rows of a manifest:
    per (schedule, date) compare the claimed part count with the parts
    found and flag missing, duplicate or non-contiguous part numbers.
    Returns ``{(schedule, date): {claimed, found_parts, parts, errors}}``
    with ``errors`` empty for a valid group."""
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        if r["schedule"] is not None and r["schedule"] != "por":
            groups.setdefault((r["schedule"], r["date"]), []).append(r)
    out = {}
    for key, members in groups.items():
        found = len(members)
        claims = [r["n_parts"] for r in members if r["n_parts"] is not None]
        claimed = max(claims) if claims else found
        parts = sorted(r["part"] for r in members if r["part"] is not None)
        errors = []
        # an unpartitioned single file has no part numbers and is valid
        # iff exactly one file was found
        if parts and found != claimed:
            errors.append("count-mismatch")
        if len(parts) != len(set(parts)):
            errors.append("duplicate-parts")
        if parts and parts != list(range(1, claimed + 1)):
            errors.append("non-contiguous")
        if not parts and found != 1:
            errors.append("count-mismatch")
        out[key] = dict(claimed=claimed, found_parts=found, parts=parts,
                        errors=errors)
    return out


def zip_member_manifest(spark: SparkSession, zip_paths: list[str]) -> DataFrame:
    """Member manifest for each zip -> (zipfile, file, schedule, date,
    part, n_parts): :func:`member_rows` as a DataFrame."""
    return spark.createDataFrame(
        [
            (zp, r["file"], r["schedule"], r["date"], r["part"], r["n_parts"])
            for zp in zip_paths
            for r in member_rows(zp)
        ],
        _MEMBER_SCHEMA,
    )


def resolve_n_parts(manifest: DataFrame) -> DataFrame:
    """:func:`validate_parts` per zipfile of a manifest DataFrame -> one
    row per (zipfile, schedule, date) with ``claimed``, ``found_parts``,
    ``parts`` and an ``errors`` array (empty = valid)."""
    by_zip: dict[str, list[dict]] = {}
    for r in manifest.collect():
        by_zip.setdefault(r["zipfile"], []).append(r.asDict())
    out = [
        (zp, s, d, v["claimed"], v["found_parts"], v["parts"], v["errors"])
        for zp, rows in sorted(by_zip.items())
        for (s, d), v in validate_parts(rows).items()
    ]
    return manifest.sparkSession.createDataFrame(out, _VALIDATION_SCHEMA)
