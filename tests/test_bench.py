"""bench.py's subprocess probes (a probe that dies says why on stderr
instead of silently dropping its metric) and its metric table."""

from __future__ import annotations

import re
import subprocess

import pytest

import bench

_STDERR = "building sf1 tables\nstage 3 running\nKilled\n"


def _killed(*args, **kwargs):
    return subprocess.CompletedProcess(args[0], -9, stdout="", stderr=_STDERR)


def _timed_out(*args, **kwargs):
    raise subprocess.TimeoutExpired(args[0], kwargs["timeout"], stderr=_STDERR)


@pytest.mark.parametrize(
    "probe, name",
    [
        (bench.bench_core_sf1, "sf1 core-set probe"),
        (bench.bench_ingest_scale, "ingest_10x probe"),
        (bench.bench_ingest_concurrent, "concurrent probe"),
    ],
)
@pytest.mark.parametrize("run, why", [(_killed, "signal 9"), (_timed_out, "timeout")])
def test_failed_probe_prints_why(monkeypatch, capsys, probe, name, run, why):
    monkeypatch.setattr(subprocess, "run", run)
    assert probe("/nonexistent/sf0.1") is None
    err = capsys.readouterr().err
    assert (
        f"# {name} FAILED ({why}): building sf1 tables / stage 3 running / Killed"
        in err
    )


def test_probe_exit_without_result_line(monkeypatch, capsys):
    def no_result(*args, **kwargs):
        return subprocess.CompletedProcess(
            args[0], 1, stdout="starting\n", stderr="Traceback\nValueError: x\n"
        )

    monkeypatch.setattr(subprocess, "run", no_result)
    assert bench.bench_core_sf1("/nonexistent/sf0.1") is None
    assert (
        "# sf1 core-set probe FAILED (exit 1): Traceback / ValueError: x"
        in capsys.readouterr().err
    )


def test_probe_gates_cover_the_later_probes():
    t, g = bench._PROBE_TIMEOUT_S, bench._PROBE_GATE_S
    assert list(g) == ["concurrent", "ingest_10x", "ingest_100x", "sf1 core-set"]
    assert g["sf1 core-set"] == t["sf1 core-set"]
    assert g["ingest_100x"] == t["ingest_100x"] + g["sf1 core-set"]
    assert g["ingest_10x"] == t["ingest_10x"] + g["ingest_100x"]
    assert g["concurrent"] == t["concurrent"] + g["ingest_10x"]


def test_100x_probe_skipped_when_it_would_push_out_sf1(capsys):
    ran = []
    remaining = bench._PROBE_TIMEOUT_S["ingest_100x"] + 100  # 100x alone fits
    assert remaining < bench._PROBE_GATE_S["ingest_100x"]  # 100x + sf1 does not
    assert bench._gated_probe("ingest_100x", remaining, lambda: ran.append(1)) is None
    assert ran == []
    assert "# ingest_100x probe SKIPPED (wall budget)" in capsys.readouterr().err
    assert bench._gated_probe("sf1 core-set", remaining, lambda: "sf1") == "sf1"
    assert bench._gated_probe(
        "ingest_100x", bench._PROBE_GATE_S["ingest_100x"] + 1, lambda: "100x"
    ) == "100x"


def test_every_recorded_key_is_in_the_metric_table():
    with open(bench.__file__) as f:
        src = f.read()
    keys = set(re.findall(r'timings\["([^"]+)"\] =', src))
    assert {"ingest_records_per_sec", "excel_scan_32files_sec"} <= keys
    assert keys - set(bench._METRICS) == {"ingest_e2e"}
    assert {better for _, better, _ in bench._METRICS.values()} == {"higher", "lower"}


# bench._compact_line's output for the synthetic timings below. Readers
# of the BENCH_r*.json series parse this tail line, so its keys and
# their order must not drift when the table is edited.
_COMPACT_PIN = (
    '{"metric":"headline_total_sec","value":438.75,"unit":"sec","core_total_sec":409.625,'
    '"queries":{"agg_rollup":0.125,"dedup_embedding_cosine":1.125,"dedup_exact":2.125,'
    '"dedup_minhash_signatures":3.125,"dedup_ngram_jaccard":4.125,"ingest_chunk_manifest":5.125,'
    '"ingest_e2e":6.125,"join_broadcast_dim":7.125,"join_salted_skew":8.125,'
    '"join_shuffle_hash":9.125,"q17_small_quantity_revenue":10.125,"q18_large_orders":11.125,'
    '"q1_pricing_summary":12.125,"q21_waiting_suppliers":13.125,"q3_shipping_priority":14.125,'
    '"q5_regional_revenue":15.125,"q7_nation_volume":16.125,"sim_knn_blocked":17.125,'
    '"sim_knn_bruteforce":18.125,"sim_knn_ivf":19.125,"text_chunk_udtf":20.125,'
    '"text_fingerprint":21.125,"text_stats":22.125,"top10_orders":23.125,"ts_asof_join":24.125,'
    '"ts_session_window":25.125,"ts_stream_tumbling":26.125,"ts_tumbling_window":27.125,'
    '"window_topk_per_group":28.125,"ingest_records_per_sec":30.125,'
    '"ingest_records_per_sec_min":31.125,"ingest_records_per_sec_max":32.125,'
    '"ingest_records_per_sec_sync":33.125,"ingest_records_per_sec_10x":34.125,'
    '"ingest_records_per_sec_10x_min":35.125,"ingest_records_per_sec_10x_max":36.125,'
    '"ingest_records_per_sec_100x":37.125,"ingest_records_per_sec_100x_min":38.125,'
    '"ingest_records_per_sec_sf1":39.125,"core_total_sec_sf1":40.125,"load_index_sf1":41.125,'
    '"ingest_concurrent_4x":43.125,"ingest_concurrent_scaling":47.125,'
    '"ingest_concurrent_scaling_min":48.125,"ingest_concurrent_scaling_max":49.125,'
    '"ref_loop_rps":50.125,"ref_loop_rps_10x":53.125,"bar_ratio":54.125,"bar_ratio_min":55.125,'
    '"bar_ratio_max":56.125,"bar_ratio_10x":57.125,"bar_ratio_10x_min":58.125,'
    '"bar_ratio_10x_max":59.125,"bar_ratio_100x":60.125,"load_index":62.125,'
    '"load_index_10x":63.125,"load_index_100x":64.125,"excel_scan_32files_speedup":65.125,'
    '"excel_scan_1file_sec":66.125,"excel_scan_32files_sec":67.125},"sf":0.1}'
)


def test_compact_line_and_sums_are_pinned():
    # every _CORE query, one query outside _CORE, then every table key
    keys = sorted(bench._CORE) + ["graph_pagerank"] + list(bench._METRICS)
    timings = {k: i + 0.125 for i, k in enumerate(keys)}
    total, core = bench._sums(timings)
    assert (total, core) == (438.75, 409.625)
    line = bench._compact_line(timings, total, core, 0.1)
    assert line == _COMPACT_PIN
    assert len(line) < 2000
