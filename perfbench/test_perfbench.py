"""Tests of the benchmark harness itself (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, stats
from perfbench.trace import Span, Tracer, parse_metric
from perfbench.workloads import Outcome, typed_digest


def _replay(feed_dir: str) -> tuple[dict, dict]:
    """Parse the feed back with a reader written from the protocol spec
    and apply it last-writer-wins."""
    state: dict = {}
    counts = {"changes": 0, "other": 0, "frames": 0}
    for name in sorted(os.listdir(feed_dir)):
        t = pq.read_table(os.path.join(feed_dir, name)).to_pydict()
        assert t["lsn"] == sorted(t["lsn"])
        for buf in t["payload"]:
            counts["frames"] += 1
            kind = buf[:1]
            if kind in (b"I", b"U", b"D") and len(buf) > 8:
                (relid,) = struct.unpack_from(">i", buf, 1)
                assert relid == gen.RELID
                assert buf[5:6] == (b"K" if kind == b"D" else b"N")
                (ncols,) = struct.unpack_from(">h", buf, 6)
                pos, vals = 8, []
                for _ in range(ncols):
                    if buf[pos:pos + 1] == b"n":
                        vals.append(None)
                        pos += 1
                        continue
                    (ln,) = struct.unpack_from(">i", buf, pos + 1)
                    vals.append(buf[pos + 5:pos + 5 + ln].decode())
                    pos += 5 + ln
                assert pos == len(buf)
                counts["changes"] += 1
                if kind == b"D":
                    state.pop(int(vals[0]))
                else:
                    state[int(vals[0])] = vals
            else:
                counts["other"] += 1
    return state, counts


def test_pgoutput_feed_round_trip_and_truth(tmp_path):
    info = gen.pgoutput_feed(str(tmp_path / "a"), seed=7, n_files=2, changes_per_file=300,
                             malformed_share=0.05)
    state, counts = _replay(str(tmp_path / "a"))
    assert counts["frames"] == info["frames"]
    assert counts["changes"] == info["changes"]
    assert info["malformed"] > 0
    assert state == {k: gen.pg_text(r) for k, r in info["truth"].items()}
    # the same seed gives byte-identical files; another seed does not
    gen.pgoutput_feed(str(tmp_path / "b"), seed=7, n_files=2, changes_per_file=300,
                      malformed_share=0.05)
    gen.pgoutput_feed(str(tmp_path / "c"), seed=8, n_files=2, changes_per_file=300,
                      malformed_share=0.05)
    a, b, c = (pq.read_table(str(tmp_path / d / "part-00001.parquet")) for d in "abc")
    assert a.equals(b) and not a.equals(c)


def test_pg_text_format():
    import datetime

    row = (5, "x", 0.1, datetime.datetime(2024, 1, 2, 3, 4, 5, 120000), True, -3)
    assert gen.pg_text(row) == ["5", "x", "0.1", "2024-01-02 03:04:05.12", "t", "-3"]
    row = (5, "x", 2.5, datetime.datetime(2024, 1, 2, 3, 4, 5), False, 0)
    assert gen.pg_text(row)[3:5] == ["2024-01-02 03:04:05", "f"]


def test_tables_are_seeded(tmp_path):
    n1 = gen.tables(str(tmp_path / "a"), seed=3, scale=0.1)
    gen.tables(str(tmp_path / "b"), seed=3, scale=0.1)
    assert n1["lineitem"] == 6000 and n1["region"] == 5
    for t in n1:
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        assert a.equals(pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))


def test_zipf_keys_in_range_and_skewed():
    k = gen.zipf_keys(np.random.default_rng(1), 1000, 5000)
    assert len(k) == 5000 and k.min() >= 0 and k.max() < 1000
    _, freq = np.unique(k, return_counts=True)
    assert freq.max() > 20 * np.median(freq)


def test_tail_selection():
    vals = [float(i) for i in range(1, 31)]  # 30 samples
    t = stats.tail(vals)
    assert t == {"value": 20.0, "pct": 66.7, "n": 30}
    assert sum(v > t["value"] for v in vals) == stats.TAIL_BEYOND
    t = stats.tail([float(i) for i in range(100)])
    assert t["value"] == 89.0 and t["pct"] == 90.0
    # too few samples: the tail falls back to the (upper) median
    assert stats.tail([3.0, 1.0, 2.0, 4.0]) == {"value": 3.0, "pct": 75.0, "n": 4}
    assert stats.median([3.0, 1.0, 2.0, 4.0]) == 2.5
    with pytest.raises(ValueError):
        stats.tail([])


def test_load_signature():
    assert stats.load_signature([5.0, 2.0, 2.1, 1.9])
    assert not stats.load_signature([3.0, 2.0, 2.1, 1.9])
    assert not stats.load_signature([3.0])


def test_failure_counting_and_digest():
    out = Outcome()
    for i in range(7):
        out.fail(f"op{i}")
    assert out.failed == 7 and len(out.errors) == 5
    rows = [(1, "a", 0.5), (2, "b", None)]
    assert typed_digest(rows) == typed_digest(list(reversed(rows)))
    assert typed_digest(rows)[0] == 2
    assert typed_digest(rows) != typed_digest([(1, "a", 0.5), (2, "b", 0.0)])
    assert typed_digest(rows) != typed_digest(rows[:1])


def test_parse_metric():
    assert parse_metric("1,000") == 1000.0
    assert parse_metric("13.3 KiB") == pytest.approx(13.3 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.3 m (5.0 s, 5.3 s, "
                        "7.6 s (stage 0.0: task 20))") == pytest.approx(198.0)
    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric("") == 0.0


def test_self_time_partitions_the_root():
    tr = Tracer(True)
    root = tr._add(Span("op", "a", 0.0, 10.0))
    child = tr.derived("c", "b", 1.0, 4.0, root)
    tr.derived("d", "b", 3.0, 6.0, root)  # overlaps c: union counted once
    tr.derived("e", "c", 2.0, 3.0, child)
    tr.derived("clipped", "c", 9.0, 12.0, root)  # clipped to the root's end
    by = tr.self_by_layer([root])
    # root: 10 - |[1,6] u [9,10]|; c: 3 - 1; d: 3; e: 1; clipped: 1
    assert by == pytest.approx({"a": 4.0, "b": 5.0, "c": 2.0})
    assert Tracer(False).derived("x", "y", 0, 1, root) is None


class _FakeDF:
    def __init__(self, rows, columns, fail=False):
        self.rows, self.columns, self.fail = rows, columns, fail

    def collect(self):
        if self.fail:
            raise RuntimeError("boom")
        return self.rows


class _FakeContext:
    def setJobDescription(self, text):
        pass


def test_query_pass_counts_wrong_and_raising_queries(monkeypatch):
    import types

    import pandas as pd

    from perfbench import workloads

    names = list(workloads.QUERIES)
    right = {n: _FakeDF([(1, 2.0)], ["a", "b"]) for n in names}
    ctx = types.SimpleNamespace(seed=1, work="", spark=types.SimpleNamespace(
        sparkContext=_FakeContext()))
    qm = workloads.QueryMix(ctx)
    qm.data = ""
    qm.want = {n: pd.DataFrame({"a": [1], "b": [2.0]}) for n in names}

    def run_pass(frames):
        qm.qs = {n: types.SimpleNamespace(fn=lambda spark, d, n=n: frames[n]) for n in names}
        out = Outcome()
        qm._pass(workloads.Tracer(False), out)
        return out

    out = run_pass(right)
    assert (out.attempted, out.failed, len(out.cycles)) == (len(names), 0, 1)
    assert out.work_items == len(names)

    wrong = dict(right, **{names[0]: _FakeDF([(1, 2.5)], ["a", "b"]),
                           names[1]: _FakeDF([], ["a", "b"], fail=True)})
    out = run_pass(wrong)
    # the raising query is one failed attempt, the wrong result another,
    # and a pass with a failure is not timed
    assert out.failed == 2 and out.attempted == len(names)
    assert out.cycles == [] and out.op_latencies == []


def test_touched_per_merge_skips_compactions():
    from perfbench.workloads import touched_per_merge

    hist = [{"label": "0", "manifest": {"buckets": {"0": "v0", "1": "v0"}}},
            {"label": "1", "manifest": {"buckets": {"0": "v1", "1": "v0"}}},
            {"label": "1c", "manifest": {"buckets": {"0": "vc", "1": "vc"}}},
            {"label": "2", "manifest": {"buckets": {"0": "vc", "1": "v2", "2": "v2"}}}]
    assert touched_per_merge(hist) == [2, 1, 2]
