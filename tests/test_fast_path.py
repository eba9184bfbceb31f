"""The FAST query path: the one-call IN-list filter and the partition
kernel's sorted (range, term) runs, checked where a cached partition
holds several doc ranges."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.config import IndexConfig
from oculus_crawl_spark.operators.build import build_index_from_documents
from oculus_crawl_spark.operators.query import SearchSession, _isin, _SortedBlocks

from .conftest import SF0001


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


def test_isin_matches_column_isin_on_quotes_backslashes_and_non_ascii(spark):
    """The hex-literal IN-list matches exactly what Column.isin matches,
    for strings outside the tokenizer's [a-z0-9]+ alphabet."""
    tricky = [
        "a'b", "'", "x''y", "back\\slash", "\\", "\\u0041", "tab\there",
        "café", "日本語", "emoji\U0001F600", "", "--", "/*c*/", "A",
    ]
    decoys = ["a", "b", "ab", "A'", "\\\\", "''", "cafe", "日本", "other"]
    df = spark.createDataFrame([(v,) for v in tricky + decoys], "term string")
    for pick in [tricky, tricky[:4], tricky[6:10], ["absent"], []]:
        want = sorted(r[0] for r in df.filter(F.col("term").isin(pick)).collect())
        got = sorted(r[0] for r in df.filter(_isin("term", pick)).collect())
        assert got == want, pick
    nums = spark.range(20).withColumnRenamed("id", "b")
    assert sorted(r[0] for r in nums.filter(_isin("b", [3, np.int64(7), 19])).collect()) == [3, 7, 19]


def test_sorted_blocks_runs_cover_shuffled_frame():
    """Rows in any order come back as one run per (range, term), each
    sorted by first_doc, and every row lands in exactly one run."""
    rng = np.random.default_rng(5)
    rows = [
        {"range_bucket": rb, "term": t, "first_doc": rb * 100 + 10 * i}
        for rb in (3, 0, 7)
        for t in ("zeta", "alpha", "mu")
        for i in range(int(rng.integers(1, 5)))
    ]
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=1, ignore_index=True)
    for c in ("last_doc", "n_docs", "block_max_tf_norm", "doc_bytes", "tf_bytes", "dl_bytes"):
        pdf[c] = pdf["first_doc"] + 1
    blocks = _SortedBlocks(pdf)
    assert sorted(blocks.runs) == [0, 3, 7]
    seen = 0
    for rb, term_runs in blocks.runs.items():
        assert sorted(term_runs) == ["alpha", "mu", "zeta"]
        for term, run in term_runs.items():
            want = sorted(
                r["first_doc"] for r in rows if r["range_bucket"] == rb and r["term"] == term
            )
            assert blocks.cols["first_doc"][run].tolist() == want
            seen += run.stop - run.start
    assert seen == len(pdf)


@pytest.fixture(scope="module")
def narrow_range_root(spark):
    """sf0.001 (500 docs) at range_bits=4: 32 ranges over the local[8]
    session's 8 cached partitions, so each partition holds several."""
    root = tempfile.mkdtemp(prefix="ocs_fast_ranges_")
    build_index_from_documents(spark, SF0001, root, cfg=IndexConfig(range_bits=4))
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_fast_path_with_several_ranges_per_partition(spark, query_set, narrow_range_root):
    k = query_set["k"]
    queries = query_set["queries"]
    sess = SearchSession(spark, narrow_range_root)
    try:
        assert sess.n_ranges_est == 32
        assert sess._segments.rdd.getNumPartitions() == 8
        batch = queries + queries  # every query twice, in one batch
        fast = _rows(sess.search(batch, k=k, path="fast"))
        assert fast == _rows(sess.search(batch, k=k, path="shuffle"))
        n = len(queries)
        assert len({r[0] for r in fast}) > n  # not vacuous: most queries hit
        for qid, q in enumerate(queries):
            single = [r[1:] for r in _rows(sess.search([q], k=k, path="fast"))]
            assert [r[1:] for r in fast if r[0] == qid] == single, q
            assert [r[1:] for r in fast if r[0] == qid + n] == single, q
    finally:
        sess.invalidate()
