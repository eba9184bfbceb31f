"""Cheap tests of the benchmark itself (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q

They show that one seed always gives identical input bytes, that the
output checks catch a corrupted result, and that the event-log
attribution names the engine function behind a call site.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import evlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_one_seed_gives_identical_bytes(tmp_path):
    digests = []
    for i in range(2):
        c = gen.generate(5, 300, 20)
        gen.write_pages(c.base, str(tmp_path / f"p{i}"), 3)
        gen.write_pages(c.recrawl, str(tmp_path / f"r{i}"), 2)
        gen.write_documents(c.base_text, str(tmp_path / f"d{i}"), 2)
        digests.append(
            [_digest(str(tmp_path / f"{k}{i}")) for k in "prd"] + [c.queries]
        )
    assert digests[0] == digests[1]
    other = gen.generate(6, 300, 20)
    gen.write_pages(other.base, str(tmp_path / "o"), 3)
    assert _digest(str(tmp_path / "o")) != digests[0][0]


def test_generator_ground_truth_matches_its_pages():
    from oculus_crawl_spark.functions.analysis import extract_text, tokenize

    c = gen.generate(9, 200, 0)
    latest: dict[str, tuple] = {}
    for url, ts, html in zip(c.base.url, c.base.warc_ts, c.base.html):
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, extract_text(html))
    assert {u: t for u, (_, t) in latest.items()} == c.base_text
    assert len(c.base) > len(c.base_text)  # the duplicate slice is there
    rank = {w: i for i, w in enumerate(c.vocab)}
    df = [0] * len(c.vocab)
    for text in c.base_text.values():
        for t in set(tokenize(text)):
            df[rank[t]] += 1
    assert df == c.base_df.tolist()
    assert len(c.recrawl) == c.n_recrawled + c.n_new + c.n_emptied
    assert sum(1 for t in c.final_text.values() if not t) == c.n_emptied
    small = gen.generate(9, 40, 0)  # a small crawl still has every part
    assert min(small.n_recrawled, small.n_new, small.n_emptied) >= 1


def test_vocabulary_follows_heaps_law():
    c = gen.generate(3, 400, 0)
    assert len(c.vocab) == gen.heaps_vocab_size(c.n_tokens)
    assert c.n_tokens == sum(len(t.split()) - t.count("&") for t in c.base_text.values())


@pytest.fixture(scope="module")
def oracle_case():
    c = gen.generate(4, 300, 12)
    oracle = checks.Oracle(c.base_text)
    q = next(q for q in c.queries if len(oracle.topk(q, run.K)) >= run.K)
    yield oracle, q, oracle.topk(q, run.K)
    oracle.close()


def test_correct_result_passes(oracle_case):
    _, q, want = oracle_case
    assert checks.rank_mismatch(q, want[: run.K], want, run.K) == []


def test_corrupted_result_is_caught(oracle_case):
    oracle, q, want = oracle_case
    got = want[: run.K]
    swapped = [got[1], got[0]] + got[2:] if got[0][1] != got[1][1] else None
    outsider = next(u for u in oracle.urls if u not in {u for u, _ in want})
    corrupted = [
        got[:-1],  # a result dropped
        [(outsider, got[0][1])] + got[1:],  # a wrong doc at the right score
        [(got[0][0], got[0][1] + 0.01)] + got[1:],  # a wrong score
    ] + ([swapped] if swapped else [])
    for bad in corrupted:
        assert checks.rank_mismatch(q, bad, want, run.K), bad


def test_ties_are_compared_as_sets():
    want = [("a", 2.0), ("b", 1.0), ("c", 1.0), ("d", 1.0)]
    assert checks.rank_mismatch("q", [("a", 2.0), ("d", 1.0)], want, 2) == []
    assert checks.rank_mismatch("q", [("b", 2.0), ("a", 1.0)], want, 2)


def test_count_mismatch_is_caught():
    assert checks.count_mismatches(10, 10, {"x": 3}, {"x": 3}) == []
    assert checks.count_mismatches(10, 11, {"x": 3}, {"x": 3})
    assert checks.count_mismatches(10, 10, {"x": 2}, {"x": 3})
    assert checks.count_mismatches(10, 10, {}, {"x": 3})


def test_attribution_by_call_site_then_span(tmp_path):
    root = os.path.dirname(HERE)
    pkg = os.path.join(root, "oculus_crawl_spark")
    build_py = os.path.join(pkg, "operators", "build.py")
    with open(build_py) as f:
        line = next(
            i for i, text in enumerate(f, start=1) if "pre_counts = {" in text
        )
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0],
         "Properties": {"callSite.short": f"collect at {build_py}:{line}"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Submission Time": 2000,
            "Completion Time": 2400, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 900},
                {"Name": "internal.metrics.output.bytesWritten", "Value": 77}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9100},
    ]
    log = tmp_path / "log"
    log.mkdir()
    (log / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = evlog.read_jobs(str(log))
    spans = evlog.Spans()
    spans.add("outer", 0.5, 5.0)
    spans.add("operators.build", 1.9, 3.0)
    evlog.attribute(jobs, spans, evlog.FunctionIndex(pkg))
    assert jobs[0].function == "operators.build.assign_dense_ids_resolved"
    assert jobs[0].layer == "operators.build"
    assert jobs[1].layer == "operators.build"  # innermost span
    assert (jobs[1].tasks, jobs[1].run_ms, jobs[1].bytes_written) == (4, 900, 77)
    assert jobs[1].write_ms == 400
    assert jobs[2].layer == "unattributed"
