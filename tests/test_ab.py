"""tools/ab.py: statistics, verdicts and run bookkeeping, with the
exporter and the perfbench runner replaced by fakes (no Spark, no
subprocess)."""

from __future__ import annotations

import json

import pytest

from tools import ab

with open(f"{ab.ROOT}/BENCHMARK.json") as _f:
    BENCH = json.load(_f)
METRICS = {m["name"]: m for m in BENCH["end_to_end"]}


def _run(side, seed, **metrics):
    return ab.Run(side, seed, 0, result={"correct": True}, metrics=metrics)


def _pairs(name, a, b):
    return [(_run("A", i, **{name: x}), _run("B", i, **{name: y})) for i, (x, y) in enumerate(zip(a, b))]


def test_inclusive_quartiles():
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    # inclusive interpolation: Q1 = 1 + 0.75 * (2 - 1)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


@pytest.mark.parametrize(
    "name, a, b, wins",
    [
        # lower is better: the change wins where it reads less; the tie counts for no one
        ("wall_s", [3.0, 3.0, 3.0, 3.0], [2.0, 4.0, 3.0, 2.5], 2),
        # higher is better: the change wins where it reads more
        ("records_per_s", [100.0, 100.0, 100.0, 100.0], [90.0, 110.0, 100.0, 120.0], 2),
    ],
)
def test_wins_follow_the_metric_direction_and_ties_count_for_neither(name, a, b, wins):
    line, _ = ab.compare(METRICS[name], _pairs(name, a, b))
    assert f"change wins {wins}/4" in line


def test_gain_needs_nine_tenths_of_pairs_and_more_than_the_parent_iqr():
    a = [3.0, 3.1, 2.9, 3.0, 3.2, 2.8, 3.0, 3.1, 2.9, 3.0]
    faster = [x - 0.5 for x in a]
    assert ab.compare(METRICS["wall_s"], _pairs("wall_s", a, faster))[1] == "gain"
    # 8/10 wins is not enough, however large the move
    eight = faster[:8] + [x + 0.1 for x in a[8:]]
    assert ab.compare(METRICS["wall_s"], _pairs("wall_s", a, eight))[1] == "inside noise"
    # every pair won, but by less than the parent's own IQR
    tiny = [x - 0.01 for x in a]
    assert ab.compare(METRICS["wall_s"], _pairs("wall_s", a, tiny))[1] == "inside noise"


@pytest.mark.parametrize(
    "name, a, b, verdict",
    [
        ("wall_s", [4.0] * 10, [4.9] * 10, "inside noise"),  # +22.5%, inside 0.25
        ("wall_s", [4.0] * 10, [5.1] * 10, "worse"),  # +27.5%
        ("records_per_s", [1000.0] * 10, [800.0] * 10, "inside noise"),  # -20%
        ("records_per_s", [1000.0] * 10, [700.0] * 10, "worse"),  # -30%
        ("peak_rss_mb", [2000.0] * 10, [2600.0] * 10, "worse"),
    ],
)
def test_worse_means_beyond_the_benchmark_bound(name, a, b, verdict):
    assert METRICS[name]["bound"] == 0.25
    line, got = ab.compare(METRICS[name], _pairs(name, a, b))
    assert got == verdict and line.endswith(verdict)


def _result(correct=True, wall=3.0):
    return json.dumps(
        {"correct": correct, "attempted": 4, "failed": 0 if correct else 1,
         "metrics": {} if not correct else {"wall_s": {"value": wall, "unit": "s"}}}
    )


@pytest.mark.parametrize(
    "code, out, why",
    [
        (1, "workload x\n" + _result(correct=False), "correct: false"),
        (0, "workload x\nerror_rate 0\n", "no JSON result line"),
        (0, "", "no JSON result line"),
        (0, '{"correct": true}', "no JSON result line"),
        (137, "workload x\n" + _result(), "exit 137"),
    ],
)
def test_failed_or_malformed_run_is_counted_and_listed(code, out, why):
    bad = ab.parse("B", 905, code, out, "Traceback\nKilled\n")
    assert bad.why.startswith(why) and bad.why.endswith("(Killed)")
    assert bad.metrics == {}
    good = ab.parse("A", 905, 0, "workload x\n" + _result(), "")
    assert good.why == "" and good.metrics == {"wall_s": 3.0}
    text, clean = ab.report("a", "b", "w", [905], 8, [METRICS["wall_s"]], [(good, bad)])
    assert not clean
    assert "B: 1/1 runs failed" in text and "A: 0/1 runs failed" in text
    assert f"FAILED B seed 905 exit {code}: {why}" in text
    assert "`wall_s`: no values (A 1, B 0)" in text


def test_seeds_and_alternating_order(monkeypatch, capsys):
    calls = []
    monkeypatch.setattr(ab, "export", lambda rev, dest: calls.append(("export", rev, dest[-1])))

    def fake_run(tree, workload, seed, seconds):
        side = "A" if tree.endswith("a") else "B"
        calls.append((side, workload, seed, seconds))
        return 0, _result(wall=3.0 if side == "A" else 2.9), ""

    monkeypatch.setattr(ab, "run_one", fake_run)
    assert ab.main(["r1", "r2", "core_queries", "--pairs", "4", "--first-seed", "901"]) == 0
    s = BENCH["run_seconds"]
    assert calls == [
        ("export", "r1", "a"), ("export", "r2", "b"),
        ("A", "core_queries", 901, s), ("B", "core_queries", 901, s),
        ("B", "core_queries", 902, s), ("A", "core_queries", 902, s),
        ("A", "core_queries", 903, s), ("B", "core_queries", 903, s),
        ("B", "core_queries", 904, s), ("A", "core_queries", 904, s),
    ]
    out = capsys.readouterr().out
    assert "4 pairs, seeds 901-904" in out
    assert "`wall_s` 3 [3, 3] → 2.9 [2.9, 2.9] s (-3.3%, change wins 4/4): gain" in out
    assert "`setup_s`: no values (A 0, B 0)" in out


def test_cold_context_lines_come_from_perfbench_stderr():
    def err(warm, op1):
        return (
            "Picked up JAVA_TOOL_OPTIONS: -XX:-UsePerfData\n"
            f"[perfbench] setup: 6.95 s, then warm-up {warm} s\n"
            f"[perfbench] op 1: wall {op1} s, first chunk 1.847 s, resume 2.020 s\n"
            "[perfbench] op 2: wall 2.512 s, first chunk 0.901 s, resume 1.013 s\n"
        )

    out = "workload x\n" + _result()
    def side(name, logged):
        return [ab.parse(name, i, 0, out, err(w, o)) for i, (w, o) in enumerate(logged)]

    a = side("A", [(14.0, 4.5), (15.0, 4.7), (13.0, 4.6)])
    b = side("B", [(10.5, 5.0), (10.0, 4.9), (11.0, 5.1)])
    assert a[0].cold == {"warm-up": 14.0, "op 1 wall": 4.5}
    # core_queries logs no warm-up; a failed run contributes nothing
    core_log = "[perfbench] setup: 4.68 s\n[perfbench] op 1: wall 29.190 s\n"
    core = ab.parse("A", 9, 0, out, core_log)
    assert core.cold == {"op 1 wall": 29.19}
    bad = ab.parse("B", 9, 137, out, err(99.0, 99.0))
    assert bad.why and bad.cold == {}
    text, clean = ab.report("a", "b", "w", [0, 1, 2], 8, [METRICS["wall_s"]], list(zip(a, b)))
    assert clean
    lines = text.splitlines()
    context = [ln for ln in lines if ln.startswith("  context ")]
    assert context == [
        "  context A warm-up: 14 [13.5, 14.5] s over 3 runs",
        "  context A op 1 wall: 4.6 [4.55, 4.65] s over 3 runs",
        "  context B warm-up: 10.5 [10.25, 10.75] s over 3 runs",
        "  context B op 1 wall: 5 [4.95, 5.05] s over 3 runs",
    ]
    # the context lines follow every verdict line and carry no verdict
    assert lines.index(context[0]) > max(i for i, ln in enumerate(lines) if "change wins" in ln)
    text, _ = ab.report("a", "b", "w", [9], 8, [METRICS["wall_s"]], [(core, ab.parse("B", 9, 0, out, core_log))])
    assert "  context A warm-up: no values" in text
    assert "  context B op 1 wall: 29.19 [29.19, 29.19] s over 1 runs" in text
