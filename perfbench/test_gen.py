"""Tests of the seeded input generator: ``python3 -m pytest perfbench -q``
from the root of the checkout."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import CodeCorpus  # noqa: E402

from dense_retriever_spark.functions.tokenizer import (  # noqa: E402
    tokenize_code_flat,
)

N_DOCS = 2_000


@pytest.fixture(scope="module")
def corpus():
    c = CodeCorpus(7)
    frame, tokens = c.docs(N_DOCS)
    return c, frame, tokens


def test_same_seed_same_inputs(corpus):
    c, frame, tokens = corpus
    c2 = CodeCorpus(7)
    frame2, tokens2 = c2.docs(N_DOCS)
    pd.testing.assert_frame_equal(frame, frame2)
    assert tokens == tokens2
    pd.testing.assert_frame_equal(c.queries(tokens, 50), c2.queries(tokens2, 50))


def test_other_seed_other_inputs(corpus):
    c, frame, tokens = corpus
    c2 = CodeCorpus(8)
    frame2, tokens2 = c2.docs(N_DOCS)
    assert not frame["content"].equals(frame2["content"])
    assert not c.queries(tokens, 50)["query"].equals(
        c2.queries(tokens2, 50)["query"]
    )


def test_disjoint_ranges_have_unique_paths(corpus):
    c, frame, _ = corpus
    later, _ = c.docs(100, start=1_000_000)
    paths = pd.concat([frame["path"], later["path"]])
    assert paths.is_unique


def test_long_tail_vocabulary(corpus):
    """Most indexed terms sit in under 1% of the documents while hot
    keywords sit in most of them: posting-list lengths span over three
    orders of magnitude."""
    _, frame, _ = corpus
    doc_idx, codes, uniques, dl = tokenize_code_flat(frame["content"])
    pairs = np.unique(doc_idx * len(uniques) + codes)
    df = np.bincount(pairs % len(uniques), minlength=len(uniques))
    frac = df / N_DOCS
    assert (frac < 0.01).mean() > 0.8
    assert frac.max() > 0.5
    assert df.max() / df.min() > 1_000


def test_heavy_tailed_lengths(corpus):
    _, _, tokens = corpus
    lens = np.array([len(t) for t in tokens])
    assert lens.max() > 10 * np.median(lens)


def test_known_item_queries(corpus):
    c, _, tokens = corpus
    q = c.queries(tokens, 1_000)
    oov = q["query"].str.contains(r"\bqx\d{9}\b")
    assert 0.05 < oov.mean() < 0.15
    for text, doc in zip(q["query"], q["doc"]):
        words = [w for w in text.split() if not w.startswith("qx")]
        assert 1 <= len(words) <= 5
        assert set(words) <= set(tokens[doc])
