"""End-to-end tests of the FFIEC ingest layer on synthetic fixtures:
manifest discovery, dictionary-typed TSV parse with repair, multipart
combine, POR semantics, long-table build, XBRL extraction, process log."""

import datetime
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from ffiec_pq_spark.operators.process import ffiec_process
from ffiec_pq_spark.sources.manifest import (
    list_bulk_zips,
    resolve_n_parts,
    zip_member_manifest,
)
from ffiec_pq_spark.sources.xbrl import extract_xbrl_facts, split_context
from tests.ffiec_fixtures import (
    N_BANKS,
    PURE_COLS,
    TYPE_DICT,
    make_call_zip,
    make_xbrl_zip,
)

# Spark jobs of one ffiec_process call over the make_call_zip fixture
INGEST_JOBS = 17


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ffiec_raw")
    make_call_zip(str(d))
    make_xbrl_zip(str(d))
    return str(d)


@pytest.fixture(scope="module")
def processed(spark, raw_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("ffiec_out")
    zips = list_bulk_zips(spark, raw_dir)
    call_zips = [r["zipfile"] for r in zips.filter(F.col("kind") == "All Schedules").collect()]
    return ffiec_process(spark, call_zips, TYPE_DICT, str(out), PURE_COLS)


def test_zip_discovery(spark, raw_dir):
    zips = list_bulk_zips(spark, raw_dir).collect()
    assert len(zips) == 2
    kinds = {r["kind"] for r in zips}
    assert kinds == {"All Schedules", "XBRL"}
    assert all(r["date"] == datetime.date(2024, 3, 31) for r in zips)


def test_member_manifest(spark, raw_dir):
    zips = list_bulk_zips(spark, raw_dir)
    call = [r["zipfile"] for r in zips.collect() if r["kind"] == "All Schedules"]
    m = zip_member_manifest(spark, call)
    rows = {r["file"]: r for r in m.collect()}
    assert len(rows) == 4
    ri1 = next(r for f, r in rows.items() if "(1 of 2)" in f)
    assert ri1["schedule"] == "ri" and ri1["part"] == 1 and ri1["n_parts"] == 2
    assert sum(1 for r in rows.values() if r["schedule"] == "por") == 1
    # multipart validation: all groups valid on this fixture
    v = resolve_n_parts(m).collect()
    assert all(len(r["errors"]) == 0 for r in v)


def test_multipart_validation_errors(spark, tmp_path):
    """Each multipart defect gets its own error: a claimed part that is
    missing, a duplicated part number, and two unpartitioned files for
    one (schedule, date); complete groups and a single unpartitioned
    file are valid."""
    import zipfile

    names = {
        "ra": ["(1 of 2)", "(2 of 2)"],
        "rb": ["(1 of 3)", "(3 of 3)"],
        "rc": ["(1 of 2)", "(1 of 2) "],
        "rd": ["", " "],
        "re": [""],
    }
    zp = str(tmp_path / "FFIEC CDR Call Bulk All Schedules 03312024.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        for sched, suffixes in names.items():
            for sfx in suffixes:
                zf.writestr(
                    f"FFIEC CDR Call Schedule {sched.upper()} 03312024{sfx}.txt", ""
                )
    got = {
        r["schedule"]: (r["claimed"], r["found_parts"], r["parts"], r["errors"])
        for r in resolve_n_parts(zip_member_manifest(spark, [zp])).collect()
    }
    assert got == {
        "ra": (2, 2, [1, 2], []),
        "rb": (3, 2, [1, 3], ["count-mismatch", "non-contiguous"]),
        "rc": (2, 2, [1, 1], ["duplicate-parts", "non-contiguous"]),
        "rd": (2, 2, [], ["count-mismatch"]),
        "re": (1, 1, [], []),
    }


def test_wide_schedule_semantics(spark, processed):
    ri = next(o for o in processed["wide"] if o["schedule"] == "ri")
    df = spark.read.parquet(ri["path"])
    rows = {r["IDRSSD"]: r for r in df.collect()}
    assert len(rows) == N_BANKS
    # typed casts
    assert isinstance(rows[1001]["RCFD0010"], float)
    assert isinstance(rows[1001]["RCON6724"], int)
    assert rows[1001]["RCFDB528"] is True
    # NULL tokens: "" and CONF
    assert rows[1007]["RCFD0010"] is None  # i%7==0 -> ""
    assert rows[1005]["RCFD2170"] is None  # i%5==0 -> CONF
    # date item parse + NA token 00000000
    assert rows[1001]["RCON9999"] == datetime.date(2024, 3, 31)
    assert rows[1003]["RCON9999"] is None
    # J1 coalesce: RIAD4340 complementary across parts -> all filled
    assert all(r["RIAD4340"] == (i - 1000) * 11 for i, r in rows.items())
    # pure percent -> proportion
    assert rows[1002]["RCFDA224"] == pytest.approx(0.05)
    # repair results: embedded newline joined (bank 4), extra tab spaced (bank 9)
    assert "broken continued" in rows[1004]["TEXT4545"]
    assert rows[1009]["TEXT4545"] == "note 9 extra"
    # report date appended
    assert rows[1001]["date"] == datetime.date(2024, 3, 31)


def test_long_tables(spark, processed):
    longs = processed["long"]
    assert set(longs) >= {"float", "int", "str", "date", "bool"}
    flt = spark.read.parquet(longs["float"])
    assert flt.schema["value"].dataType.simpleString() == "double"
    # sparsity: NULL facts are absent rows
    assert flt.filter(F.col("value").isNull()).count() == 0
    # PK holds
    assert (
        flt.groupBy("IDRSSD", "date", "item").count().filter("count > 1").count()
        == 0
    )
    # coverage: RCFD0010 null for multiples of 7 -> N - floor(N/7) rows
    n = flt.filter(F.col("item") == "RCFD0010").count()
    assert n == N_BANKS - N_BANKS // 7


def test_por_semantics(spark, processed):
    por = spark.read.parquet(processed["por"][0])
    rows = {r["IDRSSD"]: r for r in por.collect()}
    assert len(rows) == N_BANKS
    # snake_case headers
    assert "financial_institution_name" in por.columns
    # id-zero -> NULL
    assert rows[1004]["fdic_certificate_number"] is None
    assert rows[1001]["fdic_certificate_number"] == "5001"
    # ET -> UTC: 2024-03-10 01:59 EST = 06:59 UTC; 2024-07-01 12:00 EDT = 16:00 UTC
    ts1 = rows[1001]["last_date_time_submission_updated_on"]
    assert (ts1.hour, ts1.minute) == (6, 59)
    ts2 = rows[1002]["last_date_time_submission_updated_on"]
    assert ts2.hour == 16


def test_process_log(processed):
    log = {(r["schedule"], r["kind"]): r for r in processed["log"].collect()}
    assert log[("ri", "schedule")]["ok"]
    assert set(log[("ri", "schedule")]["repairs"]) == {"newline-gsub", "tab-repair"}
    assert log[("rc", "schedule")]["repairs"] == []
    assert log[("por", "por")]["ok"]


def test_multi_quarter_long_build_and_coverage(spark, tmp_path_factory):
    """Two quarters with different column sets: the long tables span
    both dates, the new Q2-only item appears only at its date, and the
    item->schedules coverage table records per-item schedule and date
    lists (reference make_schedule_pq, R/ffiec_make_long_pqs.R:119-127)."""
    import datetime

    from tests.ffiec_fixtures import make_call_zip_q2

    d = tmp_path_factory.mktemp("ffiec_2q")
    z1 = make_call_zip(str(d))
    z2 = make_call_zip_q2(str(d))
    out = tmp_path_factory.mktemp("ffiec_2q_out")
    type_dict = {**TYPE_DICT, "RCFD3210": "d"}
    res = ffiec_process(spark, [z1, z2], type_dict, str(out), PURE_COLS)

    q1d, q2d = datetime.date(2024, 3, 31), datetime.date(2024, 6, 30)
    flt = spark.read.parquet(res["long"]["float"])
    dates_for = {
        r["item"]: sorted(x["date"] for x in r["rows"])
        for r in flt.groupBy("item")
        .agg(F.collect_list(F.struct("date")).alias("rows"))
        .collect()
    }
    # RCON2200 exists both quarters; RCFD3210 only in Q2
    assert set(dates_for["RCON2200"]) >= {q1d, q2d}
    assert set(dates_for["RCFD3210"]) == {q2d}
    # PK still holds across quarters
    assert (
        flt.groupBy("IDRSSD", "date", "item").count().filter("count > 1").count()
        == 0
    )

    cov = spark.read.parquet(str(out / "ffiec_item_schedules.parquet"))
    by_item = {r["item"]: r for r in cov.collect()}
    assert by_item["RCON2200"]["schedule"] == ["rc", "ri"]
    assert by_item["RCON2200"]["dates"] == [q1d, q2d]
    assert by_item["RCFD3210"]["schedule"] == ["rc"]
    assert by_item["RCFD3210"]["dates"] == [q2d]


def test_por_scd2_history_and_asof(spark, tmp_path_factory):
    """The reference's own SCD2 shape: the POR institution table is
    restated in full every quarter (R/ffeic_read.R:434-493) and the
    reference keeps only the latest copy; por_institution_history
    collapses the restatements into validity intervals — only banks
    whose tracked attributes CHANGED open a new interval — and
    institution_asof serves 'what was this bank called when it filed
    X' from them via the as-of join."""
    import datetime as dt

    from ffiec_pq_spark.operators.process import (
        institution_asof,
        por_institution_history,
        process_zip_por,
    )
    from tests.ffiec_fixtures import make_por_zip_q2

    d = tmp_path_factory.mktemp("ffiec_por_scd2")
    out = tmp_path_factory.mktemp("ffiec_por_scd2_out")
    zp_q1 = make_call_zip(str(d))
    zp_q2 = make_por_zip_q2(str(d))
    p1, _ = process_zip_por(spark, zp_q1, str(out))
    p2, _ = process_zip_por(spark, zp_q2, str(out))

    hist = por_institution_history(spark, [p1, p2])
    q1d, q2d = dt.date(2024, 3, 31), dt.date(2024, 6, 30)
    by_bank: dict[int, list] = {}
    for r in hist.collect():
        by_bank.setdefault(r["IDRSSD"], []).append(r)

    # every bank appears; only the renamed (1001) and restated (1002)
    # banks carry two intervals, everyone else exactly one
    assert set(by_bank) == {1000 + i for i in range(1, N_BANKS + 1)}
    assert {b for b, rows in by_bank.items() if len(rows) > 1} == {1001, 1002}

    r1 = sorted(by_bank[1001], key=lambda r: r["valid_from"])
    assert [x["financial_institution_name"] for x in r1] == [
        "Bank 1", "First Bank of Ames",
    ]
    assert (r1[0]["valid_from"], r1[0]["valid_to"]) == (q1d, q2d)
    assert r1[0]["is_current"] == 0
    assert (r1[1]["valid_from"], r1[1]["valid_to"]) == (q2d, None)
    assert r1[1]["is_current"] == 1

    r2 = sorted(by_bank[1002], key=lambda r: r["valid_from"])
    assert [x["financial_institution_state"] for x in r2] == ["IA", "NE"]

    solo = by_bank[1003][0]
    assert (solo["valid_from"], solo["valid_to"], solo["is_current"]) == (
        q1d, None, 1,
    )

    # as-of serve: a fact dated between the quarters sees the Q1
    # attributes, one on/after the restatement sees Q2's
    facts = spark.createDataFrame(
        [
            (1001, dt.date(2024, 5, 15), 10.0),
            (1001, dt.date(2024, 6, 30), 20.0),
            (1002, dt.date(2024, 8, 1), 30.0),
            (1003, dt.date(2024, 5, 15), 40.0),
        ],
        "IDRSSD int, date date, value double",
    )
    got = {
        (r["IDRSSD"], r["date"]): r
        for r in institution_asof(facts, hist).collect()
    }
    assert got[(1001, dt.date(2024, 5, 15))][
        "financial_institution_name"
    ] == "Bank 1"
    assert got[(1001, dt.date(2024, 6, 30))][
        "financial_institution_name"
    ] == "First Bank of Ames"
    assert got[(1002, dt.date(2024, 8, 1))][
        "financial_institution_state"
    ] == "NE"
    assert got[(1003, dt.date(2024, 5, 15))][
        "financial_institution_name"
    ] == "Bank 3"


def test_por_scd2_close_on_absence(spark, tmp_path_factory):
    """The POR is a FULL restatement, so a bank missing from a later
    quarter has left and close_on_absence must close its interval at
    that quarter — while banks present throughout keep their open
    tail, and the sparse-snapshot default keeps absent banks open
    (absence-as-no-activity, the weekly-events semantic)."""
    import datetime as dt

    from ffiec_pq_spark.operators.process import (
        por_institution_history,
        process_zip_por,
    )
    from tests.ffiec_fixtures import make_por_zip_q2, make_por_zip_q3

    d = tmp_path_factory.mktemp("ffiec_por_absence")
    out = tmp_path_factory.mktemp("ffiec_por_absence_out")
    paths = []
    for mk in (make_call_zip, make_por_zip_q2, make_por_zip_q3):
        p, _ = process_zip_por(spark, mk(str(d)), str(out))
        paths.append(p)
    q2d, q3d = dt.date(2024, 6, 30), dt.date(2024, 9, 30)

    hist = por_institution_history(spark, paths, close_on_absence=True)
    by_bank: dict[int, list] = {}
    for r in hist.collect():
        by_bank.setdefault(r["IDRSSD"], []).append(r)

    # bank 3 departed at Q3: single interval closed there, no current
    r3 = by_bank[1003]
    assert len(r3) == 1
    assert (r3[0]["valid_to"], r3[0]["is_current"]) == (q3d, 0)
    # bank 4 present throughout: open tail survives
    r4 = by_bank[1004]
    assert len(r4) == 1 and r4[0]["is_current"] == 1
    assert r4[0]["valid_to"] is None
    # bank 1's rename history is unaffected by the densify
    r1 = sorted(by_bank[1001], key=lambda r: r["valid_from"])
    assert [x["financial_institution_name"] for x in r1] == [
        "Bank 1", "First Bank of Ames",
    ]
    assert (r1[1]["valid_to"], r1[1]["is_current"]) == (None, 1)

    # sparse default: absence keeps the interval open
    sparse = por_institution_history(spark, paths)
    s3 = [r for r in sparse.collect() if r["IDRSSD"] == 1003]
    assert len(s3) == 1 and s3[0]["is_current"] == 1


def test_incremental_long_merge(spark, tmp_path_factory):
    """Folding a new quarter into an existing long table equals the
    full two-quarter rebuild; re-merging the same increment is a no-op;
    a conflicting value for an existing key fails fast."""
    from tests.ffiec_fixtures import make_call_zip_q2

    from ffiec_pq_spark.operators.process import merge_long_increment

    d = tmp_path_factory.mktemp("ffiec_inc")
    z1 = make_call_zip(str(d))
    z2 = make_call_zip_q2(str(d))
    type_dict = {**TYPE_DICT, "RCFD3210": "d"}

    out_q1 = tmp_path_factory.mktemp("inc_q1")
    res_q1 = ffiec_process(spark, [z1], type_dict, str(out_q1), PURE_COLS)
    out_q2 = tmp_path_factory.mktemp("inc_q2")
    res_q2 = ffiec_process(spark, [z2], type_dict, str(out_q2), PURE_COLS)
    out_full = tmp_path_factory.mktemp("inc_full")
    res_full = ffiec_process(spark, [z1, z2], type_dict, str(out_full), PURE_COLS)

    merged_path = str(tmp_path_factory.mktemp("inc_m") / "ffiec_float.parquet")
    inc = spark.read.parquet(res_q2["long"]["float"])
    merge_long_increment(spark, res_q1["long"]["float"], inc, merged_path)

    def rows(p):
        return {tuple(r) for r in spark.read.parquet(p).collect()}

    assert rows(merged_path) == rows(res_full["long"]["float"])
    # idempotent: merging the same increment again changes nothing
    merged2 = str(tmp_path_factory.mktemp("inc_m2") / "ffiec_float.parquet")
    merge_long_increment(spark, merged_path, inc, merged2)
    assert rows(merged2) == rows(merged_path)
    # conflict: same key, different value -> fail fast
    import pytest as _pytest

    bad = inc.limit(1).withColumn("value", F.col("value") + 1.0)
    with _pytest.raises(ValueError, match="conflicting"):
        merge_long_increment(
            spark, merged_path, bad,
            str(tmp_path_factory.mktemp("inc_bad") / "x.parquet"),
        )


def test_reprocess_idempotent(spark, raw_dir, processed, tmp_path_factory):
    """The reference's incremental model is re-running the ETL over the
    zips with idempotent overwrite (SURVEY §2.10): a second full run
    must produce byte-identical long tables."""
    out2 = tmp_path_factory.mktemp("ffiec_out2")
    zips = list_bulk_zips(spark, raw_dir)
    call_zips = [
        r["zipfile"]
        for r in zips.filter(F.col("kind") == "All Schedules").collect()
    ]
    rerun = ffiec_process(spark, call_zips, TYPE_DICT, str(out2), PURE_COLS)
    for t, path in processed["long"].items():
        first = {
            tuple(r) for r in spark.read.parquet(path).collect()
        }
        second = {
            tuple(r) for r in spark.read.parquet(rerun["long"][t]).collect()
        }
        assert first == second, f"long table {t} differs across reruns"


def test_strict_clean_read_gate(spark, tmp_path_factory):
    """strict=True: an unrepairable member blocks that schedule's output
    (reference ffiec_finalize_if_clean) and logs ok=False; the default
    lenient mode still writes it."""
    from tests.ffiec_fixtures import make_broken_zip

    d = tmp_path_factory.mktemp("broken_raw")
    zp = make_broken_zip(str(d))

    out_strict = tmp_path_factory.mktemp("broken_strict")
    res = ffiec_process(spark, [zp], TYPE_DICT, str(out_strict), strict=True)
    assert res["wide"] == []
    log = res["log"].collect()
    assert len(log) == 1 and not log[0]["ok"]
    assert "unrepairable" in log[0]["repairs"]
    # nothing was written, yet the log still counts the malformed
    # numeric of bank 1003 (the short row's missing field is no problem)
    assert log[0]["n_problems"] == 1

    out_lenient = tmp_path_factory.mktemp("broken_lenient")
    res2 = ffiec_process(spark, [zp], TYPE_DICT, str(out_lenient))
    assert len(res2["wide"]) == 1  # lenient mode writes what it can
    wide = spark.read.parquet(res2["wide"][0]["path"])
    rows = {r["IDRSSD"]: r for r in wide.collect()}
    # short row parsed with NULLs; malformed numeric coerced to NULL
    assert rows[1002]["RCFD2170"] is None
    assert rows[1003]["RCFD0010"] is None
    assert rows[1003]["RCFD2170"] == 60000.0
    log2 = res2["log"].collect()[0]
    assert "coerced-invalid-values" in log2["repairs"]


def test_xbrl_extraction(spark, raw_dir):
    facts = split_context(
        extract_xbrl_facts(spark, raw_dir + "/*XBRL*.zip")
    )
    rows = facts.collect()
    assert len(rows) == 6  # 2 members x 3 facts
    by_key = {(r["IDRSSD"], r["item"]): r for r in rows}
    r = by_key[(1001, "RCON2200")]
    assert r["schedule"] == "RI"
    assert r["date"] == datetime.date(2024, 3, 31)
    assert r["unitRef"] == "USD"
    assert r["value"] == "2002"
    assert r["n_attrs"] == 3


def test_pure_column_violation_fails_fast(spark, tmp_path_factory):
    """A numeric-without-%% value in a pure-typed item must hard-fail
    the run (reference guard R/ffeic_read.R:548-554) and leave no wide
    deliverable behind.  The count rides the write job via observe();
    the raise happens at the post-write check."""
    import os
    import zipfile

    d = tmp_path_factory.mktemp("pure_viol")
    lines = [
        "IDRSSD\tRCFDA224\t",
        "ID\tRatio\t",
        "1001\t5.0%\t",
        "1002\t7.25\t",  # violation: numeric without the percent sign
    ]
    zp = os.path.join(str(d), "FFIEC CDR Call Bulk All Schedules 03312024.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr(
            "FFIEC CDR Call Schedule RX 03312024.txt", "\n".join(lines) + "\n"
        )
    out = tmp_path_factory.mktemp("pure_viol_out")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="percent-format violation"):
        ffiec_process(spark, [zp], {"RCFDA224": "c"}, str(out), ["RCFDA224"])
    assert not [f for f in os.listdir(str(out)) if f.startswith("rx_")]
    # the raising ingest still released its cached read pass
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def _two_part_zip(dir_: str) -> str:
    """RX in two parts; part 2 (the right-hand join branch of the
    combine) carries malformed numerics: bank 1002 in one typed field,
    bank 1003 in two."""
    import os
    import zipfile

    part1 = ["IDRSSD\tRCFD0010\t", "ID\tCash\t"] + [
        f"{1000 + i}\t{i}.5\t" for i in range(1, 5)
    ]
    part2 = [
        "IDRSSD\tRCFD2170\tRCON6724\t", "ID\tAssets\tOffices\t",
        "1001\t100\t1\t", "1002\toops\t2\t", "1003\tbad\tx9\t",
        "1004\t400\t4\t",
    ]
    zp = os.path.join(dir_, "FFIEC CDR Call Bulk All Schedules 03312024.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        for n, lines in ((1, part1), (2, part2)):
            zf.writestr(
                f"FFIEC CDR Call Schedule RX 03312024({n} of 2).txt",
                "\n".join(lines) + "\n",
            )
    return zp


def test_problem_count_rides_the_wide_write(spark, tmp_path_factory):
    """Type-parse problems in part 2 of a two-part schedule are counted
    by the observe() in that part's join branch during the wide write:
    the log row carries coerced-invalid-values and the same count as
    member_stats summed over the parts."""
    import zipfile

    from ffiec_pq_spark.sources.tsv import (
        make_colspec,
        member_stats,
        read_zip_member_header,
        zip_member_lines,
    )

    zp = _two_part_zip(str(tmp_path_factory.mktemp("two_part")))
    res = ffiec_process(
        spark, [zp], TYPE_DICT, str(tmp_path_factory.mktemp("two_part_out"))
    )
    with zipfile.ZipFile(zp) as zf:
        members = zf.namelist()
    expect = sum(
        member_stats(
            zip_member_lines(spark, zp, m),
            make_colspec(read_zip_member_header(zp, m), TYPE_DICT),
        )[1]
        for m in members
    )
    (row,) = res["log"].collect()
    assert row["ok"] and row["repairs"] == ["coerced-invalid-values"]
    assert row["n_problems"] == expect == 2
    wide = {r["IDRSSD"]: r for r in spark.read.parquet(res["wide"][0]["path"]).collect()}
    assert wide[1002]["RCFD2170"] is None and wide[1002]["RCON6724"] == 2
    assert wide[1004]["RCFD0010"] == 4.5 and wide[1004]["RCFD2170"] == 400.0


def test_part_without_data_lines(spark, tmp_path_factory):
    """A part with only its header rows joins as all-NULL columns and
    adds no problems (its empty join branch reports no metric)."""
    import os
    import zipfile

    d = str(tmp_path_factory.mktemp("empty_part"))
    zp = os.path.join(d, "FFIEC CDR Call Bulk All Schedules 03312024.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr(
            "FFIEC CDR Call Schedule RX 03312024(1 of 2).txt",
            "IDRSSD\tRCFD0010\t\nID\tCash\t\n1001\toops\t\n1002\t2.5\t\n",
        )
        zf.writestr(
            "FFIEC CDR Call Schedule RX 03312024(2 of 2).txt",
            "IDRSSD\tRCFD2170\t\nID\tAssets\t\n",
        )
    res = ffiec_process(spark, [zp], TYPE_DICT, str(tmp_path_factory.mktemp("empty_part_out")))
    (row,) = res["log"].collect()
    assert row["ok"] and row["n_problems"] == 1
    wide = spark.read.parquet(res["wide"][0]["path"]).collect()
    assert sorted((r["IDRSSD"], r["RCFD0010"], r["RCFD2170"]) for r in wide) == [
        (1001, None, None), (1002, 2.5, None),
    ]


class _JobGroupClock:
    """``ffiec_process(clock=)`` that runs each stage under its own
    Spark job group, so the jobs of every stage can be counted."""

    def __init__(self, spark, tag: str) -> None:
        self.sc = spark.sparkContext
        self.tag = tag
        self.stages: set[str] = set()

    @contextmanager
    def stage(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{self.tag}:{name}", name)
        self.stages.add(name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def jobs(self) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        return {
            s: len(tracker.getJobIdsForGroup(f"{self.tag}:{s}"))
            for s in sorted(self.stages)
        }


def test_ingest_job_counts(spark, raw_dir, tmp_path_factory):
    """The manifest, the multipart validation and the per-part parse
    run no Spark job; the read pass and its audit are one cached
    extraction plus one aggregate.  The total pins the job count of a
    fixture ingest (two groups, one of them repaired, plus the POR)."""
    import uuid

    clock = _JobGroupClock(spark, f"ingest-{uuid.uuid4().hex}")
    zp = next(
        r["zipfile"]
        for r in list_bulk_zips(spark, raw_dir).collect()
        if r["kind"] == "All Schedules"
    )
    ffiec_process(
        spark, [zp], TYPE_DICT, str(tmp_path_factory.mktemp("jobs_out")),
        PURE_COLS, clock=clock,
    )
    jobs = clock.jobs()
    assert jobs["manifest_validate"] == 0 and jobs["parse_repair"] == 0, jobs
    assert sum(jobs.values()) == INGEST_JOBS, jobs
