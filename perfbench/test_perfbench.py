"""Tests for the benchmark's own logic (no Spark session needed)."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, stats, stores


def test_p90_needs_ten_samples_beyond_it():
    assert stats.min_samples(90) == 100
    assert stats.min_samples(50) == 20
    summary = stats.latency_summary([float(v) for v in range(1, 101)])
    assert summary["samples"] == 100
    assert summary["beyond_p90"] == 10
    assert summary["tail_ok"]
    assert summary["p50"] == 50.5
    assert 90 < summary["p90"] < 91


def test_p90_rejected_below_the_sample_count():
    summary = stats.latency_summary([float(v) for v in range(1, 100)])
    assert summary["beyond_p90"] < stats.MIN_TAIL
    assert not summary["tail_ok"]


def test_tied_samples_do_not_count_as_beyond():
    summary = stats.latency_summary([5.0] * 200)
    assert summary["beyond_p90"] == 0
    assert not summary["tail_ok"]


def test_percentile_validates_its_input():
    with pytest.raises(ValueError):
        stats.percentile([1.0, 2.0], 100)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 50)


def test_fail_ratio_counts_each_failed_execution_once():
    tally = stats.Tally()
    ids = [tally.attempt() for _ in range(4)]
    assert tally.check(ids[0], True, "fine")
    assert not tally.check(ids[1], False, "read 0 source rows")
    tally.fail(ids[1], "result differs from the oracle")
    tally.fail(ids[3], "raised")
    assert tally.attempted == 4
    assert tally.failed == 2
    assert tally.fail_ratio == 0.5
    assert tally.failures[ids[1]] == [
        "read 0 source rows", "result differs from the oracle"]


def test_fail_ratio_rejects_unknown_operations():
    tally = stats.Tally()
    assert tally.fail_ratio == 0.0
    with pytest.raises(ValueError):
        tally.fail(1, "never attempted")


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    dirs = {name: str(root / name) for name in ("a", "a_again", "b")}
    inputs.generate(11, dirs["a"])
    inputs.generate(11, dirs["a_again"])
    inputs.generate(12, dirs["b"])
    return dirs


def _read(data_dir: str, table: str) -> pd.DataFrame:
    return pq.read_table(f"{data_dir}/{table}.parquet").to_pandas()


def test_same_seed_gives_identical_bytes(generated):
    for t in inputs.TABLES:
        with open(f"{generated['a']}/{t}.parquet", "rb") as fa, \
                open(f"{generated['a_again']}/{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t
    assert (inputs.content_digest(generated["a"])
            != inputs.content_digest(generated["b"]))


def test_every_table_keeps_its_rows(generated):
    base = inputs.read_base()
    for d in (generated["a"], generated["b"]):
        for t in inputs.TABLES:
            assert pq.read_metadata(f"{d}/{t}.parquet").num_rows == \
                base[t].num_rows


def test_key_bijection_keeps_joins_and_residues(generated):
    base = inputs.read_base()
    for space, cols in inputs.KEY_SPACES.items():
        for t, c in cols:
            before = base[t].column(c).to_numpy()
            after = _read(generated["a"], t)[c].to_numpy()
            if len(set(before)) == len(before):  # a primary key
                assert sorted(before) == sorted(after), (space, c)
            assert sorted(before % inputs.KEY_CLASSES) == \
                sorted(after % inputs.KEY_CLASSES), (space, c)
    orders = _read(generated["a"], "orders")
    lineitem = _read(generated["a"], "lineitem")
    customer = _read(generated["a"], "customer")
    assert set(orders.o_custkey) <= set(customer.c_custkey)
    assert set(lineitem.l_orderkey) <= set(orders.o_orderkey)
    # one customer's order count is carried to its new key
    base_counts = base["orders"].to_pandas().groupby("o_custkey").size()
    counts = orders.groupby("o_custkey").size()
    assert sorted(base_counts) == sorted(counts)
    assert not (customer.c_custkey.to_numpy()
                == base["customer"].column("c_custkey").to_numpy()).all()


def test_text_bijection_keeps_token_shape(generated):
    base = inputs.read_base()["documents"].to_pandas()
    docs = _read(generated["a"], "documents")
    by_len = sorted(zip(base.n_chars, base.text.str.len(),
                        base.text.str.split().str.len()))
    now = sorted(zip(docs.n_chars, docs.text.str.len(),
                     docs.text.str.split().str.len()))
    assert by_len == now
    assert set(base.text) != set(docs.text)


def test_embedding_transform_keeps_norms(generated):
    base = inputs.read_base()["embeddings"].to_pandas()
    emb = _read(generated["a"], "embeddings")
    before = sorted(float(np.linalg.norm(v)) for v in base.embedding)
    after = sorted(float(np.linalg.norm(v)) for v in emb.embedding)
    assert after == pytest.approx(before, rel=1e-6)


def test_frame_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, math.nan]})
    b = a.iloc[::-1][["v", "k"]]
    assert checks.frame_digest(a) == checks.frame_digest(b)
    c = a.assign(v=[0.5, None, 1.0])
    assert checks.frame_digest(a) != checks.frame_digest(c)



def test_freshness_from_a_checkpoint_log(tmp_path):
    """Two files, committed by batches 0 and 1 of one query and both by
    batch 0 of another: a file is fresh when the later query commits."""
    def checkpoint(name, batches):
        root = tmp_path / name
        (root / "commits").mkdir(parents=True)
        (root / "sources" / "0").mkdir(parents=True)
        for batch, (files, committed) in enumerate(batches):
            lines = ["v1"] + [json.dumps({"path": f"file:///in/{f}",
                                          "timestamp": 0, "batchId": batch})
                              for f in files]
            (root / "sources" / "0" / str(batch)).write_text("\n".join(lines))
            commit = root / "commits" / str(batch)
            commit.write_text('v1\n{"nextBatchWatermarkMs":0}')
            os.utime(commit, (committed, committed))
        return str(root)

    a = checkpoint("a", [(["f0.parquet"], 101.0), (["f1.parquet"], 103.5)])
    b = checkpoint("b", [(["f0.parquet", "f1.parquet"], 102.0)])
    due = {"f0.parquet": 100.0, "f1.parquet": 101.0}
    assert stores.commit_times(a) == {"f0.parquet": 101.0, "f1.parquet": 103.5}
    assert stores.freshness_ms([a], due) == pytest.approx([1000.0, 2500.0])
    assert stores.freshness_ms([a, b], due) == pytest.approx([2000.0, 2500.0])
    # a file one query has not committed yet is not fresh
    assert stores.freshness_ms([a, b], {**due, "f2.parquet": 102.0}) == \
        pytest.approx([2000.0, 2500.0])


def test_benchmark_json_lists_every_reported_metric():
    from perfbench import run, workloads

    traced = {"session.start_s", "plans.served_repeat_ops",
              "trace.overhead_ratio", *workloads.layer_metrics([], 4)}
    assert set(run.metric_units(True)) == traced
    assert set(run.metric_units(False)) == {
        "setup_s", "cold_pass_s", "steady_pass_s", "live_heap_mb"}
