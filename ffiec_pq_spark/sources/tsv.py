"""Dictionary-typed TSV-in-zip schedule reader with two-phase malformed
-row repair (SURVEY.md §2.1 S3/S4; reference read_call_from_zip
R/ffeic_read.R:34-119 and read_tsv_with_tab_repair :194-250).

Spark has no native "read member X of a zip" source.  The read path is
ONE ``binaryFile`` + ``mapInPandas`` pass per zip (:func:`zip_lines`):
for every listed member it decompresses the member once, counts the
lines with a wrong field count, repairs the text only when some line is
bad, counts again, and emits ``(member, line_no, value, repaired,
n_bad)``.  Everything after that is declarative:

1. header row (line 1) -> column names; line 2 is a description row and
   is skipped (reference ``skip = 2``).
2. names are looked up in a broadcastable dictionary {item -> type char}
   to build the typed colspec; unknown columns default to string;
   hard overrides (RCON8678 string, RCON9999/RIAD9106 date-parsed-later)
   mirror the reference (R/ffiec_types.R:30-35).
3. parse: split on tabs, then typed casts with the domain NULL tokens
   "" / "CONF".
4. repair (inside the pass, per member with any wrong-field-count line):
   (a) join embedded newlines not preceded by a tab into the prior line
   (regex ``(?<!\\t)\\n`` -> space), (b) convert tabs beyond
   ``expected-1`` to spaces; repair tags are recorded in the audit
   (reference R/ffeic_read.R:90-93,130-146).

The audit is an explicit value the process log aggregates (the
reference carries diagnostics as R attributes, SURVEY.md §2.13).  The
type-parse problem count rides the consumer's own first action through
``observe()`` (:func:`parse_observed`); :func:`member_stats` is the
same count as its own job.

Scale: a zip is one ``binaryFile`` row, so the pass is one task per zip
that holds one member's text at a time (quarterly members are ~10-100
MB).  Cluster parallelism comes from the number of zips, like the
reference's per-zip worker fan-out, and from the per-member parses and
joins downstream; ``sources/zip_datasource.py`` is the
one-partition-per-member alternative.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ffiec_pq_spark.functions.scalars import NA_DATE_TOKENS

NA_TOKENS = ("", "CONF")

# type chars follow the reference's readr shorthand:
# d=double, i=int, c=character, l=logical, D=date(yyyymmdd text)
DEFAULT_OVERRIDES = {"RCON8678": "c", "RCON9999": "D", "RIAD9106": "D"}

_SQL_TYPES = {"d": "double", "i": "int", "c": "string"}


def make_colspec(
    header: list[str],
    type_dict: dict[str, str],
    overrides: dict[str, str] | None = None,
) -> list[tuple[str, str]]:
    """(name, type_char) per header column: dictionary lookup with hard
    overrides and default-string for unknown names
    (reference make_colspec, R/ffeic_read.R:377-418)."""
    overrides = {**DEFAULT_OVERRIDES, **(overrides or {})}
    out = []
    for name in header:
        if name == "IDRSSD":
            out.append((name, "i"))
        elif name in overrides:
            out.append((name, overrides[name]))
        else:
            out.append((name, type_dict.get(name, "c")))
    return out


def read_zip_member_header(zip_path: str, member: str) -> list[str]:
    """Driver-side: read just the first line of a member for the colspec
    (cheap — decompresses only the first block)."""
    with zipfile.ZipFile(zip_path) as zf:
        with zf.open(member) as fh:
            first = io.TextIOWrapper(fh, encoding="utf-8", errors="replace").readline()
    # rows carry a trailing tab; drop the resulting empty last name
    names = [c.strip().strip('"') for c in first.rstrip("\r\n").split("\t")]
    if names and names[-1] == "":
        names.pop()
    return names


def fix_extra_tabs(line: str, expected_cols: int) -> str:
    """Convert tabs beyond ``expected_cols - 1`` into spaces
    (reference fix_extra_tabs, R/ffeic_read.R:130-146); the row's
    trailing delimiter tab is preserved, not counted."""
    trailing = line.endswith("\t")
    core = line[:-1] if trailing else line
    parts = core.split("\t")
    if len(parts) <= expected_cols:
        return line
    keep = parts[: expected_cols - 1]
    keep.append(" ".join(parts[expected_cols - 1 :]))
    return "\t".join(keep) + ("\t" if trailing else "")


def repair_member_text(text: str, expected_cols: int) -> tuple[str, list[str]]:
    """Apply both reference repairs to a member's full text; return
    (repaired_text, repair_tags)."""
    tags = []
    # normalize CRLF first: otherwise each split line keeps a trailing
    # \r, fix_extra_tabs no longer sees the trailing tab delimiter, and
    # every well-formed CRLF row would get merged-field treatment
    text = text.replace("\r\n", "\n")
    # joins ALL newlines not preceded by a tab: sound because FFIEC rows
    # end with a trailing tab, so every legitimate row boundary is
    # tab-adjacent and only embedded (mid-field) newlines match
    repaired = re.sub(r"(?<!\t)\r?\n(?!$)", " ", text)
    if repaired != text:
        tags.append("newline-gsub")
    lines = repaired.split("\n")
    fixed = [fix_extra_tabs(ln, expected_cols) for ln in lines]
    if fixed != lines:
        tags.append("tab-repair")
    return "\n".join(fixed), tags


# Java's non-multiline ``$`` matches at the end of the input and also
# before one final line terminator; a line value never holds "\n"
_JAVA_LINE_END = ("\r", "\x85", "\u2028", "\u2029")


def n_fields(value: str) -> int:
    """Field count of one line exactly as Spark computes
    ``size(split(regexp_replace(value, "\\t$", ""), "\\t", -1))``: the
    trailing delimiter tab is dropped also when one final Java line
    terminator follows it."""
    trailing = value.endswith("\t") or (
        value[-2:-1] == "\t" and value[-1:] in _JAVA_LINE_END
    )
    return value.count("\t") + 1 - trailing


def _split_lines(text: str) -> list[str]:
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return [ln.rstrip("\r") for ln in lines]


def zip_lines(
    spark: SparkSession,
    zip_path: str,
    members: dict[str, tuple[int, int | None]],
) -> DataFrame:
    """The read pass: every listed member of one zip, decompressed once,
    as (member, line_no, value, repaired, n_bad) rows.

    ``members`` maps a member name to ``(skip, expected_cols)``.  The
    first ``skip`` lines are dropped (``line_no`` stays 1-based over the
    whole member).  With ``expected_cols`` set, ``n_bad`` counts the
    data lines whose :func:`n_fields` differs from it; a member with any
    such line is rebuilt with :func:`repair_member_text`
    (``repaired``) and ``n_bad`` is its count after the repair.  With
    ``expected_cols=None`` (the POR) lines pass unchecked.  Every row
    of a member carries the same ``repaired`` and ``n_bad``; a member
    without data lines has no rows."""
    specs = dict(members)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for member, (skip, n_cols) in specs.items():
                        text = zf.read(member).decode("utf-8", errors="replace")
                        lines = _split_lines(text)
                        repaired, n_bad = False, 0
                        if n_cols is not None:
                            n_bad = sum(n_fields(v) != n_cols for v in lines[skip:])
                            if n_bad:
                                text, _ = repair_member_text(text, n_cols)
                                lines = _split_lines(text)
                                repaired = True
                                n_bad = sum(
                                    n_fields(v) != n_cols for v in lines[skip:]
                                )
                        if len(lines) > skip:
                            yield pd.DataFrame(
                                {
                                    "member": member,
                                    "line_no": range(skip + 1, len(lines) + 1),
                                    "value": lines[skip:],
                                    "repaired": repaired,
                                    "n_bad": n_bad,
                                }
                            )

    return (
        spark.read.format("binaryFile")
        .load(zip_path)
        .select("content")
        .mapInPandas(
            extract,
            schema="member string, line_no long, value string, "
            "repaired boolean, n_bad long",
        )
    )


def member_audit(lines: DataFrame) -> dict[str, tuple[bool, int]]:
    """``{member: (repaired, n_bad)}`` of a :func:`zip_lines` frame in
    one small aggregate; members without data lines are absent."""
    rows = (
        lines.groupBy("member")
        .agg(F.max("repaired").alias("repaired"), F.max("n_bad").alias("n_bad"))
        .collect()
    )
    return {r["member"]: (r["repaired"], r["n_bad"]) for r in rows}


def zip_member_lines(
    spark: SparkSession,
    zip_path: str,
    member: str,
    skip: int = 2,
    repair_expected_cols: int | None = None,
) -> DataFrame:
    """One member's (line_no, value) lines: :func:`zip_lines` over that
    member alone.  With ``repair_expected_cols`` set, a member with a
    wrong-field-count line is repaired first."""
    return zip_lines(
        spark, zip_path, {member: (skip, repair_expected_cols)}
    ).select("line_no", "value")


# The per-column expressions below are SQL text, not Column-API
# builders: a schedule has tens to hundreds of columns, and building
# each one through py4j costs ~20 driver round trips a column (about
# 0.1 s of driver time per 9-column part, measured at local[4] on
# PySpark 4.1), while ``selectExpr`` / ``expr`` ship the whole
# projection in one call.


def _sql_in(tokens) -> str:
    return ", ".join(f"'{t}'" for t in tokens)


def _cleaned(i: int) -> str:
    """SQL: field ``i`` of the split array ``f``, trimmed, with the
    domain NULL tokens "" / "CONF" as NULL (NULL on short rows too)."""
    raw = f"trim(get(f, {i}))"
    return f"CASE WHEN {raw} IN ({_sql_in(NA_TOKENS)}) THEN NULL ELSE {raw} END"


def _typed_sql(i: int, tchar: str) -> str:
    """SQL: field ``i`` parsed as ``tchar``; an unparsable value is NULL."""
    c = _cleaned(i)
    if tchar == "D":
        # YYYYMMDD text with the date NA tokens (parse_yyyymmdd)
        return (
            f"CAST(try_to_timestamp(CASE WHEN trim({c}) IN "
            f"({_sql_in(NA_DATE_TOKENS)}) THEN NULL ELSE trim({c}) END, "
            f"'yyyyMMdd') AS DATE)"
        )
    if tchar == "l":
        return (
            f"CASE WHEN lower({c}) IN ('true', '1') THEN true "
            f"WHEN lower({c}) IN ('false', '0') THEN false END"
        )
    # try_cast, not cast: Spark 4 runs ANSI mode, where a malformed
    # numeric throws; the reference's readr semantics are NULL + a
    # recorded problem (counted by member_stats)
    return f"try_cast({c} AS {_SQL_TYPES[tchar]})"


def _fields(lines: DataFrame) -> DataFrame:
    """Each line's tab-split field array ``f``, projected once so the
    per-column expressions downstream do not re-run the regex split."""
    return lines.select(
        F.split(F.regexp_replace(F.col("value"), "\t$", ""), "\t", -1).alias("f")
    )


def _typed(fields: DataFrame, colspec: list[tuple[str, str]]) -> DataFrame:
    return fields.selectExpr(
        *[
            f"{_typed_sql(i, tchar)} AS `{name.replace('`', '``')}`"
            for i, (name, tchar) in enumerate(colspec)
        ]
    )


def _problem(colspec: list[tuple[str, str]]) -> F.Column:
    """Per line of a :func:`_fields` frame: some typed (double/int/date)
    field whose value fails its parse — the reference's 'problems'
    capture (R/ffeic_read.R:257-310): the value becomes NULL and the
    problem is counted.  NA tokens and the date sentinels "0" /
    "00000000" are not problems."""
    conds = []
    for i, (_, tchar) in enumerate(colspec):
        if tchar not in ("d", "i", "D"):
            continue
        c = _cleaned(i)
        if tchar == "D":
            c = f"CASE WHEN {c} IN ('0', '00000000') THEN NULL ELSE {c} END"
        conds.append(f"({c} IS NOT NULL AND {_typed_sql(i, tchar)} IS NULL)")
    return F.expr(" OR ".join(conds) or "false")


def parse_schedule_lines(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> DataFrame:
    """Tab-split -> typed projection with NULL-token semantics."""
    return _typed(_fields(lines), colspec)


def parse_observed(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> tuple[DataFrame, Callable[[], int]]:
    """:func:`parse_schedule_lines` whose problem count (the
    :func:`member_stats` definition) rides the frame's first action via
    ``observe()``.  Returns ``(typed_df, n_problems)``; call
    ``n_problems()`` only after that action has run, and not for a frame
    without rows (a join may prune its empty branch, which then never
    reports)."""
    from pyspark.sql import Observation

    obs = Observation()
    fields = _fields(lines).observe(
        obs, F.sum(_problem(colspec).cast("long")).alias("n")
    )
    return _typed(fields, colspec), lambda: int(obs.get["n"] or 0)


def member_stats(
    lines: DataFrame, colspec: list[tuple[str, str]]
) -> tuple[int, int]:
    """(n_bad_lines, n_problem_rows) in ONE aggregate job.

    n_bad_lines: wrong tab-field count (the repair trigger).
    n_problem_rows: lines with a type-parse problem (:func:`_problem`)."""
    row = _fields(lines).agg(
        F.sum((F.size("f") != len(colspec)).cast("long")).alias("bad"),
        F.sum(_problem(colspec).cast("long")).alias("problems"),
    ).collect()[0]
    return int(row["bad"] or 0), int(row["problems"] or 0)


def repair_tags(repaired: bool, n_problems: int) -> list[str]:
    """A member's sorted audit tags: the two text repairs when the read
    pass repaired it, ``coerced-invalid-values`` when a typed value
    failed its parse."""
    tags = ["newline-gsub", "tab-repair"] if repaired else []
    if n_problems:
        tags.append("coerced-invalid-values")
    return sorted(tags)


def read_call_schedule(
    spark: SparkSession,
    zip_path: str,
    member: str,
    type_dict: dict[str, str],
    overrides: dict[str, str] | None = None,
) -> tuple[DataFrame, dict]:
    """Read one schedule TSV member -> (typed DataFrame, audit): the
    :func:`zip_lines` pass over this member alone (repaired there when
    a line has the wrong field count), cached for the audit jobs and
    the caller's parse.  The caller releases the cache via
    ``audit['unpersist']()``."""
    colspec = make_colspec(read_zip_member_header(zip_path, member), type_dict, overrides)
    lines = zip_lines(spark, zip_path, {member: (2, len(colspec))}).cache()
    repaired, n_bad = member_audit(lines).get(member, (False, 0))
    _, n_problems = member_stats(lines, colspec)
    audit = {
        "zipfile": zip_path,
        "file": member,
        "repairs": repair_tags(repaired, n_problems),
        "ok": not n_bad,
        "n_problems": n_problems,
        "unpersist": lines.unpersist,
    }
    return parse_schedule_lines(lines, colspec), audit
