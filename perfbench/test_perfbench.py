"""Tests of the benchmark's own parts: generators, the DuckDB fold
oracle, pair checks and the event-log fold.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Spans, fold_event_log, read_event_log, span_totals  # noqa: E402
from workloads import tail  # noqa: E402


def _same_files(a, b) -> bool:
    return all(
        all(np.array_equal(np.asarray(fa[k], dtype=object), np.asarray(fb[k], dtype=object))
            for k in fa)
        for fa, fb in zip(a, b)
    )


def test_changelog_deterministic_per_seed_and_differs_across_seeds():
    a = gen.changelog_files(7, 3, 500, 9.0)
    b = gen.changelog_files(7, 3, 500, 9.0)
    c = gen.changelog_files(8, 3, 500, 9.0)
    assert _same_files(a, b)
    assert not _same_files(a, c)


def test_changelog_properties_hold():
    files = gen.changelog_files(3, 40, 1000, 100.0)
    p = gen.changelog_properties(files)
    assert 0.24 < p["mutate_share"] < 0.30
    assert 0.005 < p["poison_rows"] / p["rows"] < 0.015
    assert p["backdated_deletes"] > 0
    assert len(p["months"]) >= 2
    # seq is dense and increasing across files
    seqs = np.concatenate([f["seq"] for f in files])
    assert (np.diff(seqs) == 1).all()


def test_documents_deterministic_and_planted_jaccard():
    a = gen.documents(5, 50, 3, 20, 2, 10)
    b = gen.documents(5, 50, 3, 20, 2, 10)
    c = gen.documents(6, 50, 3, 20, 2, 10)
    assert a["texts"] == b["texts"] and a["planted"] == b["planted"]
    assert a["texts"] != c["texts"]
    t = a["texts"]
    assert min(gen.jaccard(t[x], t[y]) for x, y in a["planted"]) > 0.985
    assert max(gen.jaccard(t[x], t[y]) for x, y in a["far"]) < 0.6


def _changelog(rows) -> pa.Table:
    """rows: (table, op, key, seq, ts: datetime, value)."""
    return pa.table({
        "op": pa.array([r[1] for r in rows], pa.string()),
        "table_name": pa.array([r[0] for r in rows], pa.string()),
        "key": pa.array([r[2] for r in rows], pa.int64()),
        "seq": pa.array([r[3] for r in rows], pa.int64()),
        "ts": pa.array([r[4] for r in rows], pa.timestamp("us")),
        "value": pa.array([r[5] for r in rows], pa.float64()),
        "event_type": pa.array(["e"] * len(rows), pa.string()),
    })


def test_fold_oracle_on_hand_written_changelog():
    d = dt.datetime
    cl = _changelog([
        ("visits", "I", 1, 1, d(2024, 3, 1), 1.0),
        ("visits", "U", 1, 2, d(2024, 3, 2), 2.0),        # U after I: latest version
        ("visits", "D", 1, 3, d(2024, 3, 3), 3.0),        # versioned: D not applied
        ("conversions", "I", 5, 4, d(2024, 3, 10), 4.0),
        ("conversions", "U", 5, 5, d(2024, 3, 11), 5.0),
        ("conversions", "D", 5, 6, d(2024, 3, 12), 6.0),  # D after U: row gone
        ("conversions", "I", 6, 7, d(2024, 3, 12), 7.0),
        ("conversions", "D", 6, 8, d(2024, 1, 1), 8.0),   # back-dated: rejected
        ("site", "I", 9, 9, d(2024, 3, 12), 9.0),
        ("site", "D", 9, 10, d(2024, 1, 1), 10.0),        # unguarded: applied
        ("visits", "I", None, 11, d(2024, 3, 13), 11.0),  # poison
    ])
    out = oracle.fold_changelog(cl)
    assert oracle.table_rows(out["visits"], ("key", "dateid", "value")) == [(1, 2, 2.0)]
    assert oracle.table_rows(out["conversions"], ("key", "value")) == [(6, 7.0)]
    assert out["site"].num_rows == 0
    assert oracle.last_consumed_seq(cl) == 10


def test_digest_is_order_insensitive_and_value_sensitive():
    a = oracle.digest([(1, "x", 1.5), (2, "y", None)])
    assert a == oracle.digest([(2, "y", None), (1, "x", 1.5)])
    assert a != oracle.digest([(1, "x", 1.5), (2, "y", 0.0)])


def test_check_pairs_flags_misses_low_jaccard_and_tombstones():
    texts = {1: "abcdefghijklmnop", 2: "abcdefghijklmnoq", 3: "zzzzzzzzzzzzzzzz"}
    assert oracle.check_pairs([(1, 2)], texts, [(1, 2)]) == []
    assert oracle.check_pairs([], texts, [(1, 2)])          # planted pair missed
    assert oracle.check_pairs([(1, 3)], texts, [])          # below threshold
    assert oracle.check_pairs([(1, 2)], texts, [], frozenset({2}))  # tombstoned


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(list(range(1, 41))) == (30, "p75 of 40")
    assert tail(list(range(1, 21))) == (20, "max of 20")
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")


def test_corpora_deterministic_per_seed_with_planted_copies():
    a, pa_ = gen.text_corpus(3, 60, 50)
    b, pb = gen.text_corpus(3, 60, 50)
    c, _ = gen.text_corpus(4, 60, 50)
    assert all(a[k].equals(b[k]) for k in a) and pa_ == pb
    assert not a["documents"].equals(c["documents"])
    text = dict(zip(a["documents"]["doc_id"].to_pylist(), a["documents"]["text"].to_pylist()))
    assert pa_ and all(gen.jaccard(text[s], text[d]) > 0.9 for s, d in pa_)
    x, y, z = gen.sql_corpus(3, 20, 40), gen.sql_corpus(3, 20, 40), gen.sql_corpus(4, 20, 40)
    assert all(x[k].equals(y[k]) for k in x)
    assert not x["lineitem"].equals(z["lineitem"])


def test_xxh64_reference_vectors():
    # published XXH64 values, and Spark's seed-42 hash of "hello"
    # (SELECT xxhash64('hello') = -4367754540140381902)
    assert oracle.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert oracle.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    assert oracle.xxh64(b"hello") - (1 << 64) == -4367754540140381902


def test_simhash_pairs_brute_force():
    base = " ".join(f"w{i}" for i in range(80))
    texts = {1: base, 2: base + " extra", 3: " ".join(f"v{i}" for i in range(80)), 4: ""}
    pairs = oracle.simhash_pairs(texts)
    assert frozenset((1, 2)) in pairs and pairs[frozenset((1, 2))] <= 3
    assert all(4 not in p for p in pairs)
    assert oracle.simhash(texts[1]) == oracle.simhash("  " + texts[1].upper() + " ")


def test_cosine_topk_brute_force():
    ids = np.arange(6)
    vecs = np.array([[1, 0], [0, 1], [1, 0.1], [0.1, 1], [-1, 0], [1, 0.5]], dtype=float)
    top = oracle.cosine_topk(vecs, ids, 2, 2)
    assert top == {0: [2, 5], 1: [3, 5]}


def _ev(kind, **kw):
    return {"Event": kind, **kw}


def test_event_log_fold_on_hand_written_log():
    records = [
        {"name": "a", "group": "a#0", "start": 100.0, "end": 103.0, "wall_s": 3.0},
        {"name": "b", "group": "b#1", "start": 103.0, "end": 104.0, "wall_s": 1.0},
    ]
    metrics = {"Executor Run Time": 250, "Memory Bytes Spilled": 5,
               "Disk Bytes Spilled": 1,
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
               "Input Metrics": {"Bytes Read": 40}, "Output Metrics": {"Bytes Written": 7}}
    g = lambda name: {"spark.jobGroup.id": name}  # noqa: E731
    events = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 100500,
            "Stage IDs": [0, 1], "Properties": g("a#0")}),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 101000,
            "Stage IDs": [1, 2], "Properties": g("a#0")}),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 101000,
            "Stage IDs": [3], "Properties": {}}),
        _ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 99000,
            "Stage IDs": [4], "Properties": {}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": metrics}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": metrics}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": metrics}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 101500}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 102000}),
        _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 103500}),
    ]
    f, stray = fold_event_log(events, records)
    assert stray == [2]   # no group, submitted inside span a; job 3 ran before any span
    a, b = f["a#0"], f["b#1"]
    assert (a["jobs"], a["tasks"]) == (2, 2)
    assert a["driver_s"] == pytest.approx(1.5)   # 3 s span, jobs cover 100.5-102.0
    assert a["task_s"] == pytest.approx(0.5)
    assert (a["shuffle_write_bytes"], a["spill_bytes"]) == (200, 12)
    assert (a["input_bytes"], a["output_bytes"]) == (80, 14)
    assert (b["jobs"], b["tasks"], b["driver_s"]) == (0, 0, 1.0)
    tot = span_totals(records, f)
    assert tot["a"]["calls"] == 1 and tot["a"]["jobs"] == 2


def test_event_log_fold_matches_status_tracker_on_recorded_run(tmp_path):
    from pyspark.sql import SparkSession

    logs = tmp_path / "eventlog"
    logs.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{logs}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
             .getOrCreate())
    try:
        spans = Spans(spark, traced=True)
        with spans.span("one_job"):
            spark.range(1000, numPartitions=4).count()
        with spans.span("shuffle"):
            spark.range(1000, numPartitions=3).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
        with spans.span("no_jobs"):
            spark.range(10)
        with spans.span("other_thread"):
            # a new thread does not inherit the job group: both the fold
            # and the status tracker miss its job, the stray check not
            t = threading.Thread(target=lambda: spark.range(100).count())
            t.start()
            t.join()
        spark.range(5).count()  # outside any span
    finally:
        spark.stop()
    folded, stray = fold_event_log(read_event_log(str(logs)), spans.records)
    for r in spans.records:
        assert folded[r["group"]]["jobs"] == r["tracker_jobs"], r["name"]
    one, shuf, none, other = (folded[r["group"]] for r in spans.records)
    assert other["jobs"] == 0 and len(stray) >= 1
    assert one["jobs"] >= 1 and one["tasks"] >= 4
    assert shuf["shuffle_write_bytes"] > 0
    assert none["jobs"] == 0 and none["tasks"] == 0
    assert all(0 <= folded[r["group"]]["driver_s"] <= r["wall_s"] for r in spans.records)
    json.dumps(folded)  # plain numbers only
