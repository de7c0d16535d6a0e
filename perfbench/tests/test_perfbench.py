"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q

from the repository root. ``test_nack_injector_*`` starts a small Spark
session and the consumer process; the rest are pure Python.
"""

from __future__ import annotations

import time

import pytest

from perfbench import core_tables, inputs
from perfbench.checks import check_answer, check_sequence
from perfbench.tracing import self_seconds, tail_percentile, union_seconds


@pytest.fixture(scope="module")
def expected():
    return inputs.Expected(inputs.with_descriptions(inputs.lineitem(3, 50), 3))


def _acks(expected, counts):
    return [
        ["iid", i, n, c, 0.0]
        for i, (n, c) in enumerate(zip(counts, expected.checksums(counts)))
    ]


# -- tail percentile ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    got = tail_percentile([float(i) for i in range(n)])
    assert (got and got[0]) == pct


def test_tail_percentile_is_nearest_rank():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert tail_percentile([float(i) for i in range(1000, 0, -1)]) == (99.0, 990.0)


# -- checksum sequence -------------------------------------------------------


def test_check_sequence_accepts_the_expected_chunks(expected):
    counts = [10] * 5
    acks = _acks(expected, counts)
    assert check_sequence(acks, expected, counts=counts) == []
    assert check_sequence(acks, expected, byte_budget=10**9) == []


def test_check_sequence_rejects_reordered_chunk(expected):
    counts = [10] * 5
    acks = _acks(expected, counts)
    acks[1], acks[2] = acks[2], acks[1]
    assert check_sequence(acks, expected, counts=counts)
    # renumbered in ACK order, the contents are still out of order
    for i, a in enumerate(acks):
        a[1] = i
    assert check_sequence(acks, expected, counts=counts)
    assert check_sequence(acks, expected, byte_budget=10**9)


def test_check_sequence_rejects_missing_or_repeated_chunk(expected):
    counts = [10] * 5
    acks = _acks(expected, counts)
    assert check_sequence(acks[:2] + acks[3:], expected, counts=counts)
    assert check_sequence(acks[:4], expected, byte_budget=10**9)
    assert check_sequence(acks[:3] + acks[2:], expected, byte_budget=10**9)


def test_check_sequence_rejects_chunk_over_budget(expected):
    counts = [25, 1, 24]
    acks = _acks(expected, counts)
    sizes = expected.chunk_bytes(counts)
    assert check_sequence(acks, expected, byte_budget=max(sizes)) == []
    assert check_sequence(acks, expected, byte_budget=max(sizes) - 1)
    # a single record may exceed the budget
    assert check_sequence(acks, expected, byte_budget=max(sizes[0], sizes[2])) == []


def test_expected_survives_save_and_load(expected, tmp_path):
    expected.save(str(tmp_path))
    loaded = inputs.Expected.load(str(tmp_path))
    counts = [7] * 7 + [1]
    assert loaded.n_records == expected.n_records
    assert loaded.checksums(counts) == expected.checksums(counts)
    assert loaded.chunk_bytes(counts) == expected.chunk_bytes(counts)


# -- core queries ----------------------------------------------------------------


def test_core_tables_are_a_function_of_the_seed():
    a, b, c = (core_tables.generate(s, 0.001) for s in (1, 1, 2))
    assert a.keys() == b.keys() and all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    prices = a["orders"].column("o_totalprice").to_pylist()
    assert a["lineitem"].num_rows >= 4000 and len(set(prices)) == len(prices)


def test_check_answer_rejects_any_difference():
    pd = pytest.importorskip("pandas")
    frame = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
    oracle = {"cols": ["k", "v"], "rows": [["1", "1.5"], ["2", "0.5"]]}
    assert check_answer("q", frame, oracle) == []
    assert check_answer("q", frame.rename(columns={"v": "w"}), oracle)
    assert check_answer("q", frame.iloc[:1], oracle)
    assert check_answer("q", frame.assign(v=[0.5, 1.25]), oracle)


# -- span arithmetic -----------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        ["op", 0.0, 10.0, None, 0, 1],
        ["a", 1.0, 4.0, 1, 0, 2],
        ["b", 3.0, 5.0, 1, 0, 3],
        ["c", 9.0, 12.0, 1, 0, 4],  # runs past its parent: clipped
        ["d", 1.5, 2.0, 2, 0, 5],  # grandchild: not the op's child
    ]
    assert union_seconds([(1.0, 4.0), (3.0, 5.0)]) == 4.0
    assert self_seconds(spans, 1) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_seconds(spans, 2) == pytest.approx(2.5)


# -- NACK injection and resume -------------------------------------------------


def test_nack_injector_fails_at_k_then_resume_delivers_the_rest(tmp_path):
    from perfbench.run import IngestBench, Workload, isolate

    isolate(str(tmp_path))
    wl = Workload("parquet", 2_000, chunk_records=100, rejects=True)
    bench = IngestBench(wl, seed=5, work=str(tmp_path))
    try:
        bench.prepare()
        bench.start_service()
        n = len(bench.counts)
        once, k = bench.pick_rejects(0)
        assert abs(k - n // 2) <= n // 16 and all(c < k for c in once)
        payload = {
            "file_path": bench.src_dir,
            "file_type": "parquet",
            "callback_url": bench.callback_url,
            "chunk_size_by_records": 100,
            "order_cols": list(inputs.ORDER_COLS),
        }
        bench.consumer_call(
            "POST", "/bench/config", {"clear": True, "reject_once": once, "reject_always": k}
        )
        iid = bench.post(payload)
        first = bench.service.wait(iid, timeout=120)
        assert first["status"] != "COMPLETED"
        assert first["last_chunk"] == k - 1
        assert "rejected" in first["error"]
        log = bench.consumer_call("GET", "/bench/log")
        assert [a[1] for a in log["log"]] == list(range(k))
        assert log["nacks"] == len(once) + 3

        bench.consumer_call("POST", "/bench/config", {"reject_once": [], "reject_always": None})
        t_resume = time.monotonic()
        bench.post(payload)
        final = bench.service.wait(iid, timeout=120)
        assert final["status"] == "COMPLETED" and final["error"] is None
        acks = bench.consumer_call("GET", "/bench/log")["log"]
        assert [a[1] for a in acks if a[4] >= t_resume] == list(range(k, n))
        assert check_sequence(acks, bench.expected, counts=bench.counts) == []
    finally:
        bench.close()
