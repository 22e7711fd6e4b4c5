"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from procmon import PeakRss, tree  # noqa: E402

# ---------------------------------------------------------------- generator


def _inputs(seed: int):
    vocab = gen.vocabulary(seed, 500)
    docs = gen.corpus(seed, "main", 60, vocab, n_clusters=5)
    return (vocab, docs, gen.request_stream(seed, docs, vocab, 50),
            gen.embeddings(seed, 300, 64, n_clusters=5, cone=100))


def test_generator_is_deterministic_per_seed():
    a, b = _inputs(7), _inputs(7)
    assert a[0] == b[0]
    assert a[1] == b[1]
    assert a[2] == b[2]
    assert np.array_equal(a[3].vectors, b[3].vectors) and a[3].clusters == b[3].clusters


def test_generator_differs_across_seeds():
    a, b = _inputs(7), _inputs(8)
    assert a[1].text != b[1].text
    assert a[2] != b[2]
    assert not np.array_equal(a[3].vectors, b[3].vectors)


def test_work_per_input_does_not_shift_with_seed():
    # the seed changes letters, not word lengths by rank or words per request
    (va, _, ra, _), (vb, _, rb, _) = _inputs(7), _inputs(8)
    assert va != vb and [len(w) for w in va] == [len(w) for w in vb]
    assert [len(r.split(" ")) for r in ra] == [len(r.split(" ")) for r in rb]


def test_corpus_shape():
    vocab, docs, requests, emb = _inputs(3)
    assert docs.doc_id == list(range(60))
    assert set(docs.lang) == {"en", "ja"}
    assert len(set(docs.url)) == 60
    assert all(len(c) >= 2 for c in docs.clusters)
    # every fifth request is a phrase cut from a document
    phrases = [r for r in requests if r.startswith(":phrase ")]
    assert len(phrases) == 10
    assert all(any(p.removeprefix(":phrase ") in t for t in docs.text) for p in phrases)
    # planted clusters are near-duplicates; the cone's members all lean
    # towards one axis but no two are near-duplicates
    unit = emb.vectors / np.linalg.norm(emb.vectors, axis=1, keepdims=True)
    for c in emb.clusters:
        assert (unit[c] @ unit[c].T).min() > 0.9
    cone = unit[emb.cone]
    sims = cone @ cone.T
    assert sims[np.triu_indices(len(cone), 1)].max() < 0.9
    assert sims.mean() > 0.5


def test_repeat_term_share():
    assert gen.repeat_term_share(["a b", "b", ":phrase a b", "c"]) == 0.5


# -------------------------------------------------------------- percentiles


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 95) == 95
    assert stats.percentile([3.0], 99) == 3.0


@pytest.mark.parametrize("n,want", [(9, None), (39, None), (40, 75.0), (100, 90.0),
                                    (200, 95.0), (999, 95.0), (1000, 99.0)])
def test_supported_percentile_leaves_ten_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_summarize_reports_counts():
    s = stats.summarize(range(1, 101))
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_pct"] == 90.0 and s["tail"] == 90
    small = stats.summarize([5.0, 1.0, 3.0])
    assert small == {"n": 3, "p50": 3.0}
    assert stats.summarize([]) == {"n": 0}


# ------------------------------------------------------------ event log


# eventlog_small.jsonl was recorded from a real local Spark session (job
# 0: one stage, no group; job 1: group "g-count", a shuffle map stage
# and a result stage) and trimmed to the fields the parser reads. Job
# 1's totals, summed by hand from its four TaskEnd events:
EXPECTED_JOB1_CPU_S = (163427927 + 116381801 + 93960400 + 65396084) / 1e9
EXPECTED_JOB1_SHUFFLE_BYTES = 133 + 133


def test_event_log_parser_on_recorded_log():
    with open(HERE / "testdata" / "eventlog_small.jsonl") as f:
        log = tracing.read_event_log(f)
    jobs = log["jobs"]
    assert sorted(jobs) == [0, 1]
    assert jobs[0]["group"] is None and jobs[1]["group"] == "g-count"
    # job 1 ran its map stage and its result stage; job 0 one stage
    assert [len(jobs[j]["stages"]) for j in (0, 1)] == [1, 2]
    tasks = sum(log["stages"][s]["tasks"] for j in jobs.values() for s in j["stages"])
    assert tasks == 5
    cpu = sum(log["stages"][s]["cpu_s"] for s in jobs[1]["stages"])
    assert cpu == pytest.approx(EXPECTED_JOB1_CPU_S)
    shuffle = sum(log["stages"][s]["shuffle_write_mb"] for s in jobs[1]["stages"])
    assert shuffle == pytest.approx(EXPECTED_JOB1_SHUFFLE_BYTES / tracing.MB)
    peak = max(log["stages"][s]["peak_mem_mb"] for s in jobs[1]["stages"])
    assert peak == pytest.approx(8650736 / tracing.MB)
    for j in jobs.values():
        assert j["start"] <= j["end"]


def test_attribute_by_group_then_window():
    log = {
        "jobs": {
            1: {"start": 1.0, "end": 2.0, "group": "a", "stages": [10]},
            2: {"start": 2.5, "end": 3.0, "group": None, "stages": [11]},
            3: {"start": 9.0, "end": 9.5, "group": None, "stages": []},
        },
        "stages": {10: {"tasks": 4, "cpu_s": 1.5, "shuffle_write_mb": 2.0, "peak_mem_mb": 3.0},
                   11: {"tasks": 2, "cpu_s": 0.5, "shuffle_write_mb": 0.0, "peak_mem_mb": 1.0}},
    }
    ops = [{"name": "x", "start": 0.0, "end": 4.0, "group": "a"},
           {"name": "y", "start": 5.0, "end": 6.0, "group": "b"}]
    x, y = tracing.attribute(log, ops)
    assert (x["jobs"], x["stages"], x["tasks"]) == (2, 2, 6)
    assert x["executor_cpu_s"] == 2.0 and x["peak_task_mem_mb"] == 3.0
    assert x["job_span_s"] == 1.5 and x["driver_gap_s"] == 2.5
    assert (y["jobs"], y["driver_gap_s"]) == (0, 1.0)


def test_union_and_coverage():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    op = {"id": 0, "start": 0.0, "end": 10.0}
    spans = [op, {"id": 1, "start": 1.0, "end": 4.0}]
    # layer span 1-4; Spark job 3-8, so 8-10 and 0-1 are driver gap;
    # 4-8 is inside a job but in no named layer
    assert tracing.coverage(op, spans, [(3.0, 8.0)]) == pytest.approx(0.6)
    # no inner span: only the driver gap is attributed
    assert tracing.coverage(op, [op], [(3.0, 8.0)]) == pytest.approx(0.5)


def test_spans_nest_and_wrap():
    rec = tracing.Spans()

    class Layer:
        @staticmethod
        def work():
            return 42

    rec.wrap(Layer, "work", "layer.work")
    with rec.span("op", rid=7):
        assert Layer.work() == 42
    op, child = rec.items
    assert child["name"] == "layer.work" and child["parent"] == op["id"]
    assert child["rid"] == 7 and op["start"] <= child["start"] <= child["end"] <= op["end"]
    # a Spark action is named after the program module that calls it
    fake = type(sys)("searty_spark.fake")
    exec("def call(owner):\n    return owner.collect()", fake.__dict__)

    class Frame:
        def collect(self):
            return [1]

    rec.wrap_by_caller(Frame, "collect")
    assert fake.call(Frame()) == [1] and Frame().collect() == [1]
    assert [s["name"] for s in rec.items[2:]] == ["fake.collect"]
    off = tracing.Spans(enabled=False)
    with off.span("op") as r:
        assert r is None
    assert off.items == []


# ------------------------------------------------------------------ checks


def test_reference_check_accepts_oracle_ranking_and_rejects_others():
    texts = {0: "alpha beta gamma", 1: "beta beta delta", 2: "gamma alpha beta"}
    ref = checks.Reference(texts, k=2)
    want = sorted(ref.scores("beta").items(), key=lambda x: (-x[1], x[0]))[:2]
    assert ref.check("beta", want)
    assert not ref.check("beta", want[::-1])
    assert not ref.check("beta", [(d, s + 1e-3) for d, s in want])
    phrase = ref.scores(":phrase alpha beta")
    assert set(phrase) == {0, 2}


def test_pair_checks_flag_wrong_pairs():
    texts = {0: "a b c d e", 1: "a b c d f", 2: "x y z w v"}
    j = checks.jaccard(checks.shingles(texts[0]), checks.shingles(texts[1]))
    assert checks.check_jaccard_pairs([(0, 1, round(j, 6))], texts, 0.4)[0] == 0
    assert checks.check_jaccard_pairs([(0, 2, 1.0)], texts, 0.4)[0] == 1
    v = np.array([[1.0, 0.0], [0.99, 0.1], [0.0, 1.0]])
    cos = float(v[0] @ v[1] / np.linalg.norm(v[1]))
    assert checks.check_cosine_pairs([(0, 1, round(cos, 6))], v, 0.9)[0] == 0
    assert checks.check_cosine_pairs([(0, 2, 0.95)], v, 0.9)[0] == 1
    assert checks.recall({(0, 1)}, {(0, 1), (1, 2)}) == 0.5


# ------------------------------------------------------------------ memory


def test_peak_rss_sees_own_process():
    assert os.getpid() in tree(os.getpid())
    with PeakRss(interval=0.01) as mem:
        pass
    assert mem.peak_mb > 1.0 and mem.at_peak["other"] > 1.0
