"""The generators are deterministic, and their expected counts are what
``ffiec_process`` produces."""

import hashlib
import os

import gen_corpus
import gen_ffiec
import pytest
from wl_etl import check_ingest


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_zips_are_byte_identical_for_a_seed(tmp_path):
    layout = gen_ffiec.make_layout(50, 5, 2)
    os.makedirs(tmp_path / "a")
    a = gen_ffiec.write_quarter(str(tmp_path / "a"), 7, 1, layout)
    os.makedirs(tmp_path / "b")
    b = gen_ffiec.write_quarter(str(tmp_path / "b"), 7, 1, layout)
    assert _digest(a["path"]) == _digest(b["path"])
    assert a["expected"] == b["expected"]
    os.makedirs(tmp_path / "c")
    c = gen_ffiec.write_quarter(str(tmp_path / "c"), 8, 1, layout)
    assert _digest(a["path"]) != _digest(c["path"])


def test_corpus_is_byte_identical_for_a_seed(tmp_path):
    a = gen_corpus.write(str(tmp_path / "a"), **gen_corpus.BASE)
    b = gen_corpus.write(str(tmp_path / "b"), **gen_corpus.BASE)
    assert [_digest(p) for p in a] == [_digest(p) for p in b]


def test_layout_covers_every_type_and_repairs_part_one(tmp_path):
    layout = gen_ffiec.make_layout(40, 8, 2)
    kinds = {k for cols in layout.members.values() for _, k in cols}
    assert kinds == {"d", "i", "l", "c", "pct", "text"}
    assert len(layout.pure_cols) == len(gen_ffiec.SCHEDULES)
    q = gen_ffiec.write_quarter(str(tmp_path), 3, 0, layout)
    assert set(q["expected"]["repairs"]) == set(gen_ffiec.SCHEDULES)
    assert q["expected"]["cells"] == 40 * layout.n_items


@pytest.fixture(scope="module")
def spark():
    from ffiec_pq_spark.session import get_spark

    s = get_spark("perfbench_tests", cpus=2)
    yield s
    s.stop()


def test_expected_counts_match_ffiec_process(spark, tmp_path):
    from ffiec_pq_spark.operators.process import ffiec_process

    layout = gen_ffiec.make_layout(30, 8, 2)
    for quarter in (0, 1):
        q = gen_ffiec.write_quarter(str(tmp_path), 11, quarter, layout)
        res = ffiec_process(spark, [q["path"]], layout.type_dict,
                            str(tmp_path / f"out{quarter}"), pure_cols=layout.pure_cols)
        assert check_ingest(res, q["expected"]) is None
