"""The summariser, result fingerprints and tracer on synthetic inputs."""

import math

import check
import summary


def test_median_and_percentile():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert summary.median(xs) == 3.0
    assert summary.median([1.0, 2.0]) == 1.5
    assert summary.percentile(range(1, 101), 90) == 90
    assert summary.percentile(range(1, 101), 99.9) == 100


def test_tail_needs_ten_samples_beyond():
    assert summary.tail(list(range(10))) is None
    # 11 samples: rank of p50 is 6, with 5 beyond -> still too few
    assert summary.tail(list(range(11))) is None
    t = summary.tail([float(i) for i in range(1, 21)])  # p50 rank 10, 10 beyond
    assert t == {"p": 50, "value": 10.0, "n": 20, "beyond": 10}
    t = summary.tail([float(i) for i in range(1, 101)])
    assert t["p"] == 90 and t["value"] == 90.0 and t["beyond"] == 10
    t = summary.tail([float(i) for i in range(1, 1001)])
    assert t["p"] == 99 and t["value"] == 990.0


def test_op_p50_weighs_every_op_the_same():
    fast, slow = [0.1, 0.3, 0.2], [4.0, 4.0]
    assert math.isclose(summary.geomean_of_medians({"a": fast, "b": slow}), 0.2 ** 0.5 * 2)
    # the slow op's median moves the figure, while the pooled median of
    # the five samples stays on the fast op
    assert summary.median(fast + slow) == summary.median(fast + [1.0, 1.0])
    assert summary.geomean_of_medians({"a": fast, "b": [1.0, 1.0]}) < 0.5
    assert summary.geomean_of_medians({}) == 0.0


def test_warm_passes_do_not_depend_on_speed():
    from harness import warm_passes

    assert warm_passes(10, 10.0, False) == 1
    assert warm_passes(10, 5.0, False) == 2
    assert warm_passes(10, 5.0, True) == 4
    assert warm_passes(1, 10.0, False) == 1


def test_fail_counting():
    outcomes = [
        {"op": "a", "phase": "first", "error": None},
        {"op": "a", "phase": "warm", "error": None},
        {"op": "b", "phase": "rewrite", "error": "wrong result: rows 4 != 5"},
        {"op": "c", "phase": "warm", "error": "raised ValueError: x"},
    ]
    f = summary.fail_summary(outcomes)
    assert (f["attempted"], f["failed"], f["fail_frac"]) == (4, 2, 0.5)
    assert f["failing"] == [("b", "rewrite"), ("c", "warm")]
    assert summary.fail_summary([])["fail_frac"] == 0.0


def test_records_with_other_cpus_are_not_compared():
    a = {"workload": "etl_ingest", "stamp": {"cpus": 4}}
    assert summary.comparable(a, {"workload": "etl_ingest", "stamp": {"cpus": 4}})[0]
    ok, why = summary.comparable(a, {"workload": "etl_ingest", "stamp": {"cpus": 8}})
    assert not ok and "cpus" in why


def test_fingerprint_is_order_and_representation_insensitive():
    a = check.fingerprint(["b", "a"], [(1, 2.0), (3, -0.0)])
    b = check.fingerprint(["a", "b"], [(0, 3), (2, 1)])
    assert check.mismatch(a, b) is None
    c = check.fingerprint(["a", "b"], [(0, 3), (2, 2)])
    assert check.mismatch(a, c) == "values differ"


def test_self_time_subtracts_the_union_of_children():
    from tracing import Tracer

    t = Tracer(active=True)
    t.spans = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "a", "parent": 1, "start": 2.0, "end": 5.0},  # overlaps id 2
        {"id": 4, "name": "b", "parent": 1, "start": 7.0, "end": 8.0},
    ]
    st = t.self_times()
    assert st["op"] == 10.0 - 4.0 - 1.0
    assert st["a"] == 5.0 and st["b"] == 1.0


def test_spans_nest_and_share_the_op_id():
    from tracing import Tracer

    t = Tracer(active=True)
    with t.span("op", op="q#1") as outer:
        with t.span("sink.exec") as inner:
            assert t.current() is inner
    assert inner["parent"] == outer["id"] and inner["op"] == "q#1"
    off = Tracer(active=False)
    with off.span("op", op="q#2") as sp:
        assert sp is None
    assert off.spans == []
