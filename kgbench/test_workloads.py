"""``run_workload`` ends and reports failed ops when ops raise.

Run from the repository root: ``python3 -m pytest kgbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import contextlib
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402


class FakeTracer:
    @contextlib.contextmanager
    def op_span(self, n):
        yield


class Fake:
    """Ops whose outcome is scripted: ``True`` succeeds, ``False`` raises;
    past the end of the script every op raises."""

    script: list[bool] = []

    def __init__(self, ctx):
        self.n = 0
        self.discarded = []

    def setup(self):
        pass

    def after_setup(self):
        pass

    def prepare(self):
        self.n += 1
        return SimpleNamespace(n=self.n)

    def op(self, st):
        if not (st.n <= len(self.script) and self.script[st.n - 1]):
            raise RuntimeError("scripted failure")

    def check(self, st):
        return []

    def discard(self, st):
        self.discarded.append(st.n)

    def install_spans(self):
        pass

    def layer_metrics(self, st):
        return {"op": st.n}


def _run(monkeypatch, script, tracer=None, seconds=0.0):
    monkeypatch.setitem(workloads.WORKLOADS, "fake", Fake)
    monkeypatch.setattr(Fake, "script", script)
    return workloads.run_workload("fake", None, "", 1, seconds, tracer, 0.0)


def test_every_op_raising_ends_the_run(monkeypatch):
    res = _run(monkeypatch, [])
    assert res["op_times_s"] == []
    assert res["failed"] == res["attempted"]
    assert res["attempted"] == workloads.MAX_FAILED
    assert res["op_s"] >= 0.0


def test_traced_run_reads_the_last_op_that_ran(monkeypatch):
    # three good ops, then every op raises before the window is spent
    res = _run(monkeypatch, [True, True, True], tracer=FakeTracer(),
               seconds=1e9)
    assert len(res["op_times_s"]) == 3
    assert res["failed"] == workloads.MAX_FAILED
    assert res["layers"] == {"op": 3}


def test_clean_run(monkeypatch):
    res = _run(monkeypatch, [True] * 10)
    assert res["failed"] == 0
    assert res["attempted"] == 1
