"""Quick tests of the benchmark's own logic (no Spark session).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from collections import Counter
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pcompress_spark import datagen  # noqa: E402
from perfbench import corpus, run  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Job,
    Span,
    Stage,
    attribute,
    attribute_phases,
    parse_status,
)
from perfbench.workloads import recrawl_indices  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


# ---------------------------------------------------------- seeded inputs
def test_seed_offset_is_deterministic_and_block_aligned():
    offsets = [corpus.block_offset(s) for s in range(50)]
    assert offsets == [corpus.block_offset(s) for s in range(50)]
    assert all(o % datagen.BLOCK == 0 for o in offsets)
    assert len(set(offsets)) == 50
    idx = corpus.block_indices(7)
    assert idx == list(range(7 * datagen.BLOCK, 8 * datagen.BLOCK))
    assert corpus.block_indices(7, lambda j: j % 10 == 9)[:2] == [7009, 7019]


def test_multi_block_runs_are_disjoint_and_aligned():
    a, b = corpus.block_indices(3, blocks=2), corpus.block_indices(4, blocks=2)
    assert a == list(range(6000, 8000)) and b[0] == 8000 and not set(a) & set(b)
    held = corpus.block_indices(3, lambda j: j % 10 == 9, blocks=2)
    assert held[:2] == [6009, 6019] and held[100] == 7009


def test_recrawl_is_seeded_subset():
    idx = corpus.block_indices(0)
    r = recrawl_indices(5, idx, 50)
    assert r == recrawl_indices(5, idx, 50) and r == sorted(set(r))
    assert len(r) == 50 and set(r) <= set(idx)
    assert r != recrawl_indices(6, idx, 50)


def test_seed_changes_urls_and_keeps_classes():
    a, b = corpus.block_indices(3), corpus.block_indices(4)
    urls_a = {datagen.gen_doc(i)["url"] for i in a[:20]}
    urls_b = {datagen.gen_doc(i)["url"] for i in b[:20]}
    assert not urls_a & urls_b
    assert [datagen._doc_class(i) for i in a] == [datagen._doc_class(i) for i in b]
    assert corpus.index_of_url(datagen.gen_doc(a[5])["url"]) == a[5]


def test_pages_frame_is_deterministic_and_filtered():
    idx = corpus.block_indices(2, lambda j: j in (0, 600, 975))
    df = corpus.pages_frame(idx)
    assert df.equals(corpus.pages_frame(idx))
    assert [corpus.index_of_url(u) for u in df["url"]] == idx
    assert df.iloc[1]["text"] == datagen.gen_doc(idx[1])["text"]


def test_planted_pairs_of_one_block():
    idx = corpus.block_indices(11)
    pairs = corpus.planted_pairs(idx)
    by_class = Counter(cls for _, _, cls in pairs)
    assert by_class == {"exact": 150, "near_hi": 150, "near_lo": 70, "substring": 50}
    lo, hi = idx[0], idx[-1]
    assert all(lo <= src <= hi and src != i for i, src, _ in pairs)
    # a planted root is always a unique doc of the same block
    assert {datagen._doc_class(corpus.planted_root(i)) for i, _, _ in pairs} == {"unique"}


def test_planted_pairs_need_both_ends():
    idx = corpus.block_indices(11, lambda j: j % 10 != 9)
    assert all(i in idx and src in idx for i, src, _ in corpus.planted_pairs(idx))


# ------------------------------------------------------------ output checks
def _perfect_labels(indices):
    return {
        i: -1 if datagen._doc_class(i) == "boilerplate" else corpus.planted_root(i)
        for i in indices
    }


def test_check_accepts_planted_clusters():
    idx = corpus.block_indices(1)
    by_class, failures = corpus.check_clusters(_perfect_labels(idx), idx)
    assert failures == []
    assert corpus.recall(by_class) == 1.0


def test_check_fails_on_split_must_find_pair():
    idx = corpus.block_indices(1)
    labels = _perfect_labels(idx)
    i, _, _ = next(p for p in corpus.planted_pairs(idx) if p[2] == "exact")
    labels[i] = 10**12
    by_class, failures = corpus.check_clusters(labels, idx)
    assert any(f.startswith("exact:") for f in failures)
    assert by_class["exact"] == (149, 150)
    assert corpus.recall(by_class) == pytest.approx(419 / 420)


def test_check_tolerates_split_near_lo_pair():
    idx = corpus.block_indices(1)
    labels = _perfect_labels(idx)
    i, _, _ = next(p for p in corpus.planted_pairs(idx) if p[2] == "near_lo")
    labels[i] = 10**12
    by_class, failures = corpus.check_clusters(labels, idx)
    assert failures == []
    assert by_class["near_lo"][0] < by_class["near_lo"][1]


def test_substring_pair_below_min_len_is_tolerated():
    idx = corpus.block_indices(53)
    short = [(i, s) for i, s, c in corpus.planted_pairs(idx)
             if c == "substring" and corpus.shared_span_chars(i, s) < 2048]
    long_ = [(i, s) for i, s, c in corpus.planted_pairs(idx)
             if c == "substring" and corpus.shared_span_chars(i, s) >= 2048]
    assert short == [(53924, corpus.planted_source(53924))] and long_
    labels = _perfect_labels(idx)
    labels[short[0][0]] = 10**12
    by_class, failures = corpus.check_clusters(labels, idx)
    assert failures == [] and by_class["substring"] == (49, 50)
    labels[long_[0][0]] = 10**12 + 1
    assert corpus.check_clusters(labels, idx)[1] == ["substring: 1 of 50 planted pairs split"]


def test_check_fails_on_merged_groups_but_not_boilerplate():
    idx = corpus.block_indices(1)
    labels = _perfect_labels(idx)
    u1, u2 = idx[0], idx[1]
    for i in idx:  # u2's whole planted group joins u1's cluster
        if labels[i] == u2:
            labels[i] = labels[u1]
    _, failures = corpus.check_clusters(labels, idx)
    assert failures == ["1 clusters merge planted groups"]

    labels = _perfect_labels(idx)
    boiler = next(i for i in idx if datagen._doc_class(i) == "boilerplate")
    labels[boiler] = labels[u1]
    assert corpus.check_clusters(labels, idx)[1] == []


def test_check_fails_on_missing_doc():
    idx = corpus.block_indices(1)
    labels = _perfect_labels(idx)
    del labels[idx[3]]
    assert corpus.check_clusters(labels, idx)[1][0].startswith("1 docs unassigned")


# ------------------------------------------------------------- attribution
def _stage(tasks, ms):
    return Stage(tasks=tasks, task_ms=ms, gc_ms=ms // 10, shuffle_write_bytes=100,
                 spill_bytes=0)


def test_jobs_count_toward_every_containing_span():
    spans = [Span("outer", 0, 10_000), Span("inner", 1_000, 2_000)]
    jobs = [
        Job(0, 500, 900, (0,)),
        Job(1, 1_500, 1_900, (1,)),
        Job(2, 20_000, 21_000, (2,)),  # outside every span
    ]
    stages = {0: _stage(4, 1_000), 1: _stage(2, 3_000), 2: _stage(8, 9_000)}
    out = attribute(spans, jobs, stages, cores=4)
    assert out["outer.jobs"] == 2 and out["inner.jobs"] == 1
    assert out["outer.tasks"] == 6 and out["inner.tasks"] == 2
    assert out["outer.task_s"] == 4.0
    assert out["outer.wall_s"] == 10.0
    assert out["outer.core_util"] == pytest.approx(4.0 / (10.0 * 4))
    assert out["inner.gc_s"] == 0.3
    assert out["outer.shuffle_write_bytes"] == 200


def test_stage_shared_by_jobs_counts_once_in_first_job():
    spans = [Span("a", 0, 1_000), Span("b", 2_000, 3_000)]
    jobs = [Job(0, 100, 200, (0,)), Job(1, 2_100, 2_200, (0, 1))]
    stages = {0: _stage(4, 1_000), 1: _stage(1, 10)}
    out = attribute(spans, jobs, stages, cores=1)
    assert out["a.tasks"] == 4
    assert out["b.tasks"] == 1 and out["b.task_s"] == 0.01


def test_repeated_span_sums_calls():
    spans = [Span("incr.assignments", 0, 1_000), Span("incr.assignments", 5_000, 6_000)]
    jobs = [Job(0, 100, 300, (0,)), Job(1, 5_100, 5_600, (1,)), Job(2, 9_000, 9_100, (2,))]
    stages = {k: _stage(1, 100) for k in range(3)}
    out = attribute(spans, jobs, stages, cores=2)
    assert out["incr.assignments.wall_s"] == 2.0
    assert out["incr.assignments.jobs"] == 2
    assert out["incr.assignments.core_util"] == pytest.approx(0.2 / (2.0 * 2))


def test_phases_split_a_span_at_each_tags_first_job():
    spans = [Span("incr.add_batch", 1_000, 10_000)]
    jobs = [
        Job(0, 500, 600, (0,), "incr:appends"),  # before the span
        Job(1, 1_200, 1_300, (1,), "incr:identity"),
        Job(2, 2_000, 2_500, (2,), "incr:identity"),
        Job(3, 4_000, 4_100, (3,), "incr:probe"),
        Job(4, 7_000, 7_200, (4,), "incr:appends"),
        Job(5, 7_100, 7_300, (5,), None),  # helper thread, no tag
    ]
    stages = {k: _stage(2, 100 * (k + 1)) for k in range(6)}
    out = attribute_phases("incr.add_batch", ("identity", "probe", "appends"),
                           spans, jobs, stages)
    assert out["incr.add_batch.identity.jobs"] == 2
    assert out["incr.add_batch.identity.wall_s"] == 2.8
    assert out["incr.add_batch.identity.task_s"] == pytest.approx(0.5)
    assert out["incr.add_batch.probe.wall_s"] == 3.0
    assert out["incr.add_batch.appends.jobs"] == 2
    assert out["incr.add_batch.appends.wall_s"] == 3.0
    assert "incr.add_batch.verify.jobs" not in out  # never ran: not reported


def test_status_json_parses_to_jobs_and_stages():
    raw_jobs = [
        {"jobId": 0, "submissionTime": 100, "completionTime": 300,
         "stageIds": [0, 1], "description": "incr:probe"},
        {"jobId": 1, "submissionTime": 400, "completionTime": None,
         "stageIds": [2], "description": None},  # still running
        {"jobId": 2, "submissionTime": None, "stageIds": [3]},  # never submitted
    ]

    def stage(sid, status, tasks, ms):
        return {"stageId": sid, "status": status, "numTasks": tasks,
                "executorRunTime": ms, "jvmGcTime": ms // 10,
                "shuffleWriteBytes": 7, "memoryBytesSpilled": 1,
                "diskBytesSpilled": 2}

    raw_stages = [stage(0, "COMPLETE", 4, 100), stage(1, "SKIPPED", 4, 0),
                  stage(2, "FAILED", 2, 50), stage(2, "COMPLETE", 2, 60)]
    jobs, stages = parse_status(raw_jobs, raw_stages)
    assert jobs == [Job(0, 100, 300, (0, 1), "incr:probe"), Job(1, 400, 400, (2,), None)]
    assert stages[0] == Stage(4, 100, 10, 7, 3)
    assert stages[1].tasks == 0  # skipped: its tasks ran in an earlier job
    assert stages[2] == Stage(4, 110, 11, 14, 6)  # attempts add up


class _Clock:
    """Stands in for a Spark session: the tracer only reads its JVM clock."""

    def __init__(self):
        self.now = 0
        ms = self

        class System:
            @staticmethod
            def currentTimeMillis():
                ms.now += 10
                return ms.now

        self._jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=System)))


def test_tracer_spans_outermost_incremental_call_and_can_pause():
    from perfbench.trace import Tracer

    class Index:
        def add_batch(self):
            return "added"

        def update_batch(self):
            return self.add_batch()

    t = Tracer(_Clock())
    for call in ("add_batch", "update_batch"):
        t.wrap(Index, call, t.unless_within("incr.", f"incr.{call}"))
    assert Index().update_batch() == "added"
    assert [s.name for s in t.spans] == ["incr.update_batch"]
    t.enabled = False
    Index().add_batch()
    t.enabled = True
    Index().add_batch()
    assert [s.name for s in t.spans] == ["incr.update_batch", "incr.add_batch"]
    t.unwrap()
    Index().add_batch()
    assert len(t.spans) == 2 and not t.active


# ---------------------------------------------------------------- metrics
def test_metric_names_and_benchmark_json_match_the_code():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
