"""Examples run as smoke tests — the reference's CI pattern
(run_ci_examples.sh:20-40). The tune example is excluded here for suite
time (it runs 6 distributed trials); it is exercised manually."""

from __future__ import annotations

import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = os.path.join(REPO, "examples")


def _load(name: str):
    sys.path.insert(0, EXAMPLES)
    try:
        return importlib.import_module(name)
    finally:
        sys.path.pop(0)


def test_simple_then_predict(spark):
    """simple.py trains + checkpoints; simple_predict.py loads the
    checkpoint — must run in order, sharing the session."""
    _load("simple").main(num_workers=2)
    _load("simple_predict").main()


def test_simple_ranking(spark):
    _load("simple_ranking").main()


def test_corpus_pipeline(spark):
    summary = _load("corpus_pipeline").main()
    assert set(summary) == {"train", "valid", "test"}


def test_incremental_snapshot(spark):
    """The CDC day-cycle example self-verifies: the retraction-based
    incremental partial must equal a full recompute over the merge."""
    summary = _load("incremental_snapshot").main()
    assert summary["groups"] == 5
    assert summary["merged_rows"] > 0


def test_streaming_ingest(spark):
    """The streaming ingest example self-verifies streaming/batch
    equivalence on the finite replay."""
    summary = _load("streaming_ingest").main()
    assert summary["rows"] > 0 and summary["days"] > 0


def test_similarity_search(spark):
    from examples.similarity_search import main

    out = main()
    assert out["exact"] == out["gemm"] == 20
    assert 0.0 <= out["recall"] <= 1.0


def test_continuous_corpus(spark):
    """The incremental curation loop self-verifies: near-dup pairs found
    against the STORED index, duplicate delta docs dropped, band index
    appended, refreshed ANN serves k neighbors per query."""
    summary = _load("continuous_corpus").main()
    assert summary["delta_dropped"] > 0
    assert summary["index_rows"] > summary["base_docs"]


def test_table_maintenance(spark):
    """Compaction + partitioned z-order rewrite + DPP read-back, each
    step content-exact."""
    summary = _load("table_maintenance").main()
    assert summary["dpp_in_plan"] and summary["compacted_files"] <= 4


def test_feature_engineering(spark):
    out = _load("feature_engineering").main()
    assert out["n_features"] == 150
    assert sum(out["splits"].values()) == out["n_features"]
