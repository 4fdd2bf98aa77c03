"""Self-tests for the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import attribute  # noqa: E402


# ---- the percentile rule --------------------------------------------------

@pytest.mark.parametrize(
    "n, want",
    [(10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99), (41, 75)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_percentile_is_the_highest_such():
    for n in range(11, 400):
        p = stats.tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9, n
        assert n * (1 - (p + 1) / 100) < 10, n


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 75) == 5


# ---- failure counting -----------------------------------------------------

def test_outcomes_count_exceptions_and_failed_checks():
    out = stats.Outcomes()
    assert out.run("ok", lambda x: x + 1, 1) == 2
    assert out.run("boom", lambda: 1 / 0) is None
    assert out.check("good", True)
    assert not out.check("bad", False, "(detail)")
    assert (out.attempted, out.failed) == (4, 2)
    assert out.success_share == 0.5
    assert any("ZeroDivisionError" in e for e in out.errors)
    assert any("bad" in e and "(detail)" in e for e in out.errors)


def test_outcomes_empty_has_no_success():
    assert stats.Outcomes().success_share == 0.0


# ---- CPU accounting and the speed probe -----------------------------------

def test_tree_cpu_counts_child_processes():
    import subprocess

    before = stats.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True,
    )
    # The child has exited and been reaped: its CPU time is in ours.
    assert stats.tree_cpu_s() - before >= 0.25


def test_speed_probe_is_positive():
    assert stats.speed_probe(10_000) > 0


def test_cpu_is_scaled_to_the_reference_speed():
    ref = run.REF_PROBE_MS
    assert run.at_ref_speed(2.0, [ref, ref, ref]) == 2.0
    # A host half as fast takes twice the CPU for the same work; CPUs of
    # one VM run at different speeds at once, so probes are averaged.
    assert run.at_ref_speed(2.0, [2 * ref, 2 * ref]) == 1.0
    assert run.at_ref_speed(3.0, [ref, 2 * ref]) == 2.0


def test_loop_ops_is_fixed_by_seconds():
    import workloads

    assert workloads.loop_ops(10, 1.5) == 15
    assert workloads.loop_ops(1, 1.0) == 3


# ---- span attribution by job-id window ------------------------------------

def test_attribute_takes_jobs_above_the_window_floor():
    stages = {3: [7, 8], 4: [9], 5: [8, 10]}
    seen = {1, 2, 7}
    jobs, st = attribute([0, 1, 2], [0, 1, 2, 3, 4, 5], stages.__getitem__, seen)
    assert jobs == [3, 4, 5]
    # stage 7 was credited to an earlier span; 8 is counted once
    assert st == [8, 9, 10]
    assert seen == {1, 2, 7, 8, 9, 10}


def test_attribute_with_no_new_jobs_is_empty():
    jobs, st = attribute([0, 1], [0, 1], lambda j: [j], set())
    assert (jobs, st) == ([], [])


def test_attribute_first_span_in_a_fresh_session():
    jobs, st = attribute([], [0, 1], lambda j: [j * 2], set())
    assert (jobs, st) == ([0, 1], [0, 2])


# ---- generator determinism ------------------------------------------------

def test_rag_pages_deterministic_per_seed():
    a, pa_ = gen.rag_pages(7, 60)
    b, pb = gen.rag_pages(7, 60)
    c, _ = gen.rag_pages(8, 60)
    assert a == b and pa_ == pb
    assert a != c
    assert gen.rag_questions(7, 5) == gen.rag_questions(7, 5)
    assert gen.rag_questions(7, 5) != gen.rag_questions(8, 5)


def test_rag_pages_properties():
    rows, p = gen.rag_pages(3, 400)
    assert 0.12 <= p["share_over_7500_chars"] <= 0.28
    assert p["pages_per_file"] == gen.PAGES_PER_FILE
    assert p["share_with_newline"] > 0.9 and p["share_with_space_run"] > 0.9
    assert len({(r[0], r[1]) for r in rows}) == len(rows)


def test_curation_docs_deterministic_and_planted():
    a, pa_ = gen.curation_docs(7, 800)
    b, pb = gen.curation_docs(7, 800)
    c, _ = gen.curation_docs(8, 800)
    assert a == b and pa_ == pb
    assert a != c
    assert 0.06 <= pa_["share_exact_dup"] <= 0.14
    assert 0.06 <= pa_["share_near_dup"] <= 0.14
    assert [r[0] for r in a] == list(range(800))
    assert all(r[4] == len(r[1]) for r in a)


def test_ann_vectors_deterministic_per_seed():
    i1, p1, m1 = gen.ann_vectors(7, 500, 20, clusters=8)
    i2, p2, m2 = gen.ann_vectors(7, 500, 20, clusters=8)
    i3, _, _ = gen.ann_vectors(8, 500, 20, clusters=8)
    assert (i1 == i2).all() and (p1 == p2).all() and m1 == m2
    assert not (i1 == i3).all()
    assert m1["clusters"] == 8 and i1.shape == (500, 64)


# ---- metric names and units -----------------------------------------------

# The charsets BENCHMARK.json allows for metric names and units.
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_charset():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.match(n), n
    for u in list(run.END_TO_END.values()) + list(run.per_layer_units().values()):
        assert UNIT.match(u), u


def test_benchmark_json_matches_the_harness():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    names = [w["name"] for w in b["workloads"]]
    assert names == list(run.WORKLOADS) == ["rag", "ann_batch"]
    assert len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(b["end_to_end"], key=lambda m: m["bound"])["bound"] == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"
    )
