"""Checks of the benchmark's own machinery; no Spark session needed.

Run from the repository root::

    python3 -m pytest perfsuite/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import corpus  # noqa: E402
import fakeapi  # noqa: E402
import sparkstats  # noqa: E402
from oracle import canonical_digest  # noqa: E402
from tracing import Tracer  # noqa: E402
from worker import DedupWorkload, EtlWorkload, Runner  # noqa: E402


class _FakeDf:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return list(self._rows)


def _dedup_runner(tmp_path, rows_served):
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), tmp_path / "documents.parquet")
    cols = ["doc_a", "doc_b", "jaccard"]
    truth = [(1, 2, 0.75), (2, 3, 0.5)]
    plans = type("Plans", (), {"QUERIES": {"q": lambda spark, d: _FakeDf(cols, rows_served)}})
    w = DedupWorkload(None, plans, str(tmp_path), {"q": canonical_digest(cols, truth)}, None)
    w.ops = ["q"]
    return Runner(w, lambda: 0, None, None)


def test_correct_query_result_passes(tmp_path):
    r = _dedup_runner(tmp_path, [(2, 3, 0.5), (1, 2, 0.75)])
    r.op("q")
    assert (r.attempted, r.failed) == (1, 0)


def test_corrupted_query_result_counts_as_failed(tmp_path):
    r = _dedup_runner(tmp_path, [(2, 3, 0.5), (1, 2, 0.7500001)])
    r.op("q")
    r.op("q")
    assert (r.attempted, r.failed) == (2, 2)


def test_query_exception_counts_as_failed(tmp_path):
    r = _dedup_runner(tmp_path, None)  # collect() raises TypeError
    r.op("q")
    assert (r.attempted, r.failed) == (1, 1)


def _posted(expected, corrupt=False):
    records = [dict(expected[i]) for i in sorted(expected)]
    if corrupt:
        records[5]["name"] += "x"
    bodies, receipts = [], []
    for i in range(0, len(records), 100):
        batch = [dict(r, friends=json.dumps(r["friends"])) for r in records[i : i + 100]]
        bodies.append(json.dumps(batch))
        receipts.append({"batch_index": i // 100, "n_records": len(batch), "status": 200})
    return receipts, bodies


def test_etl_check_accepts_reference_and_rejects_corruption(tmp_path):
    w = EtlWorkload(None, 7, str(tmp_path), None)
    assert w._check(*_posted(w.expected))
    assert not w._check(*_posted(w.expected, corrupt=True))
    receipts, bodies = _posted(w.expected)
    assert not w._check(receipts, bodies[:-1])  # a lost batch


def test_reference_transform_edges():
    assert fakeapi.split_friends(" Dog ,, Cat ,") == ["Dog", "Cat"]
    assert fakeapi.split_friends(None) == []
    assert fakeapi.epoch_to_iso(None) is None
    assert fakeapi.epoch_to_iso(-5) is None
    assert fakeapi.epoch_to_iso(1348692957651) == "2012-09-26T20:55:57.651000Z"
    assert fakeapi.epoch_to_iso(1_500_000_000) == "2017-07-14T02:40:00Z"
    assert fakeapi.epoch_to_iso(1_500_000_000 * 10**9) == "2017-07-14T02:40:00Z"
    assert fakeapi.epoch_to_iso(2_500_000_000) is None  # after the as-of instant


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), 3)
    b = corpus.write_corpus(str(tmp_path / "b"), 3)
    c = corpus.write_corpus(str(tmp_path / "c"), 4)
    assert a == b != c
    assert fakeapi.detail_record(3, 17) == fakeapi.detail_record(3, 17)


def test_fake_api_one_shot_500_then_success(tmp_path):
    api = fakeapi.FakeApi(1, 300, str(tmp_path))
    key = next(
        i for i in range(1, 301) if fakeapi.one_shot_500(1, f"GET {fakeapi.BASE_PATH}/{i}")
    )
    t = api()
    assert t("GET", f"{fakeapi.BASE_PATH}/{key}")[0] == 500
    assert t("GET", f"{fakeapi.BASE_PATH}/{key}")[0] in (200, 404)


def _record(digest="d", nproc=4, value=1.0):
    return {"workload": "w", "seed": 1, "trace": 0, "corpus_md5": digest,
            "host": {"nproc": nproc, "pyspark": "4.1.2"}, "end_to_end": {"cold_s": value}}


def test_compare_refuses_mismatched_runs():
    a = {("w", 1): _record()}
    assert compare.compare(a, {("w", 1): _record(digest="e")})[1]
    assert compare.compare(a, {("w", 1): _record(nproc=8)})[1]
    lines, refusals = compare.compare(a, {("w", 1): _record(value=0.5)})
    assert not refusals and "1/1" in lines[-1]


def test_parse_metric_units():
    assert sparkstats.parse_metric("6,122") == 6122
    assert sparkstats.parse_metric("1.5 KiB") == 1536
    assert sparkstats.parse_metric("319 ms") == 0.319
    assert sparkstats.parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (1 s, 1 s)") == 2.0


def test_span_self_time_excludes_children():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    st = t.self_times()
    outer, inner = t.spans
    assert abs(st["outer"] - ((outer.end - outer.start) - (inner.end - inner.start))) < 1e-9
