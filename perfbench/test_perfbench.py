"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import generators as gen
from harness import Op, Run
from run import WORKLOADS
from metrics import END_TO_END, PER_LAYER, percentile, result_line, tail, tail_percentile
from tracing import Span, Tracer, covered, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- self time ---------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5  # [1,5] + [7,8]
    assert covered([(1, 3), (1, 3)], 0, 10) == 2  # duplicates count once
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to [0,10]
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span("p", 0.0, 10.0, None, 1)
    kids = [Span("a", 1.0, 4.0, 0, 1), Span("b", 3.0, 6.0, 0, 1), Span("c", 8.0, 12.0, 0, 1)]
    # children cover [1,6] and [8,10] inside the parent: 7 of its 10
    assert self_time(parent, kids) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_parents_ops_and_self_times():
    t = Tracer(True)
    with t.span("op", 7):
        with t.span("build"):
            pass
        with t.span("exec"):
            with t.span("inner"):
                pass
    names = [s.name for s in t.spans]
    assert names == ["op", "build", "exec", "inner"]
    assert [s.parent for s in t.spans] == [None, 0, 0, 2]
    assert {s.op for s in t.spans} == {7}
    selfs = t.self_times()
    dur = [s.end - s.start for s in t.spans]
    assert selfs[0] == pytest.approx(dur[0] - dur[1] - dur[2])
    assert selfs[2] == pytest.approx(dur[2] - dur[3])
    assert all(x >= 0 for x in selfs)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op", 1):
        pass
    assert t.spans == []


# -- tail rule ---------------------------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 20, 40, 57, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    p = tail_percentile(n)
    value = percentile(xs, p)
    assert sum(x > value for x in xs) >= 10
    if p < 99:
        assert sum(x > percentile(xs, p + 1) for x in xs) < 10


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile(10) is None
    assert tail([3.0, 1.0, 2.0]) == (None, 3.0)
    assert tail_percentile(100) == 90
    assert tail_percentile(20) == 50


# -- read / write gmeans -----------------------------------------------------


def test_p50_gmean_moves_by_the_kth_root_of_one_kinds_factor():
    run = Run(None, "", 1, False)
    run.ops = [Op("get", s) for s in (0.4, 0.5, 9.0)] + [Op("scan", 2.0), Op("write", 30.0)]
    assert run.p50_gmean_ms(("get", "scan")) == pytest.approx(1e3 * (0.5 * 2.0) ** 0.5)
    base = run.p50_gmean_ms(("get", "scan"))
    for o in run.ops:
        if o.kind == "get":
            o.seconds *= 4
    assert run.p50_gmean_ms(("get", "scan")) == pytest.approx(base * 4 ** 0.5)
    assert run.p50_gmean_ms(("write",)) == pytest.approx(30_000)


# -- metric names ------------------------------------------------------------


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_result_line_prints_exactly_the_declared_names():
    values = {n: 1.5 for n, _ in END_TO_END}
    out = result_line(values, END_TO_END, attempted=3, failed=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [n for n, _ in END_TO_END]
    assert out["correct"] is True
    with pytest.raises(KeyError):
        result_line({**values, "typo_ms": 1.0}, END_TO_END, attempted=1, failed=0)
    with pytest.raises(KeyError):
        result_line({}, END_TO_END, attempted=1, failed=0)


# -- generators --------------------------------------------------------------


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def test_generators_are_byte_identical_per_seed():
    assert _digest(gen.versioned_cells(5, 300)) == _digest(gen.versioned_cells(5, 300))
    assert _digest(gen.versioned_cells(5, 300)) != _digest(gen.versioned_cells(6, 300))
    assert _digest(gen.mutation_batch(5, 3, 300)) == _digest(gen.mutation_batch(5, 3, 300))
    assert _digest(gen.mutation_batch(5, 3, 300)) != _digest(gen.mutation_batch(5, 4, 300))
    a, b = gen.doc_corpus(5, 600, clusters=20, exact_dups=10), gen.doc_corpus(5, 600, clusters=20, exact_dups=10)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(gen.doc_corpus(6, 600, clusters=20, exact_dups=10))


def test_versioned_cells_carry_all_cell_types():
    cells = gen.versioned_cells(1, 500)
    assert {c[4] for c in cells} == {
        gen.PUT, gen.DELETE, gen.DELETE_FAMILY_VERSION, gen.DELETE_COLUMN, gen.DELETE_FAMILY
    }
    # exact-timestamp markers stay off the KEEP_DELETED_CELLS family
    assert all(c[1] == "f2" for c in cells if c[4] in (gen.DELETE, gen.DELETE_FAMILY_VERSION))
    seqs = [c[6] for c in cells]
    assert len(set(seqs)) == len(seqs)


def test_doc_corpus_plants_known_near_duplicates():
    c = gen.doc_corpus(3, 600, clusters=20, exact_dups=10)
    assert len(c.docs) == 600 and len({d[0] for d in c.docs}) == 600
    assert c.distinct_texts == 600 - 10
    ones = [p for p, j in c.pair_jaccard.items() if j == 1.0]
    assert len(ones) >= 10
    assert len(c.near_pairs) >= 20 + 10  # every base pairs with its copies
    assert all(c.pair_jaccard[p] >= gen.NEAR_JACCARD for p in c.near_pairs)
    text = {d[0]: d[1] for d in c.docs}
    a, b = sorted(c.near_pairs)[0]
    assert gen.jaccard(gen.shingle_set(text[a]), gen.shingle_set(text[b])) == c.pair_jaccard[(a, b)]


def test_components_are_min_id_labels():
    comp = gen.components([1, 2, 3, 4, 5], [(2, 3), (3, 5)])
    assert comp == {1: 1, 2: 2, 3: 2, 4: 4, 5: 2}


# -- command line --------------------------------------------------------------


def test_fails_without_a_checkout(tmp_path):
    """In a directory holding only the benchmark the command exits non-zero
    without printing a result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "doc_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
