"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from eventlog import group_stats  # noqa: E402
from spans import Span, layer_self_seconds, self_times  # noqa: E402


def _files(d):
    return sorted(os.listdir(d))


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.GENERATORS[workload](7, a)
    gen.GENERATORS[workload](7, b)
    gen.GENERATORS[workload](8, c)
    assert _files(a) == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []
    _, differ, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
    assert differ, "another seed must give other bytes"


def test_self_time_subtracts_merged_children():
    spans = [
        Span(0, "pass", 0.0, 10.0, None, "r"),
        Span(1, "io", 1.0, 3.0, 0, "r"),
        Span(2, "blocking", 2.0, 5.0, 0, "r"),  # overlaps io: covered 1..5
        Span(3, "matching", 6.0, 12.0, 0, "r"),  # clipped to the parent's end
        Span(4, "io", 6.5, 7.5, 3, "r"),  # grandchild: only its parent pays
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(6.0 - 1.0)
    layers = layer_self_seconds(spans)
    assert layers["io"] == pytest.approx(3.0)
    assert sum(layers.values()) == pytest.approx(2 + 3 + 5 + 1 + 2)


def test_event_log_parser_on_fixture():
    stats = group_stats(os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl"))
    assert set(stats) == {"r:1", "r:2"}  # the job outside any group is ignored
    assert stats["r:1"] == {"stages": 2, "tasks": 4, "failed_tasks": 0, "task_skew": 4.0,
                            "shuffle_write_bytes": 175, "spill_bytes": 3}
    assert stats["r:2"] == {"stages": 2, "tasks": 3, "failed_tasks": 1, "task_skew": 1.0,
                            "shuffle_write_bytes": 0, "spill_bytes": 0}


def _good_corpus_output(truth):
    """Outputs a correct corpus_batch pass could produce for ``truth``."""
    pairs = truth["dup_pairs"][1:] + truth["near_miss_pairs"][:1]
    low = set(truth["low_quality"])
    n = truth["records"]
    return {"digest": "x", "pairs": pairs, "flagged": truth["contaminated_full"],
            "kept": sorted(str(d) for d in range(n) if str(d) not in low),
            "exact_groups": truth["exact_groups"], "counts": {}}


def test_corrupted_output_is_flagged(tmp_path):
    from workloads import WORKLOADS

    wl = WORKLOADS["corpus_batch"]
    truth = gen.gen_corpus_batch(3, str(tmp_path))
    out = _good_corpus_output(truth)
    out["quality"] = wl.score(out, truth)
    assert wl.check(out, truth, None) == []
    assert wl.check(out, truth, json.loads(json.dumps(out))) == []

    for corrupt in (
        lambda o: o.update(exact_groups=o["exact_groups"] - 1),
        lambda o: o.update(flagged=o["flagged"][1:]),
        lambda o: o.update(flagged=o["kept"]),  # flags clean documents too
        lambda o: o.update(kept=o["kept"] + truth["low_quality"][:1]),
        lambda o: o.update(pairs=[]),
    ):
        bad = json.loads(json.dumps(out))
        corrupt(bad)
        bad["quality"] = wl.score(bad, truth)
        assert wl.check(bad, truth, None), corrupt
    ref = dict(out, digest="y")
    assert wl.check(out, truth, ref), "a digest that differs from the reference must fail"


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
