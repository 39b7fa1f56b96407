"""The recorder and tracer stay consistent when threads share them."""

import sys
import threading
from types import SimpleNamespace

from perfbench.harness import Recorder
from perfbench.trace import Tracer


class _FakeContext:
    bus = SimpleNamespace(waitUntilEmpty=lambda: None)
    _jsc = SimpleNamespace(sc=lambda: SimpleNamespace(listenerBus=lambda: _FakeContext.bus))

    def setJobGroup(self, gid, desc):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def _hammer(fn, workers=16):
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fn, args=(i,)) for i in range(workers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)


def test_recorder_counts_every_add():
    rec = Recorder()

    def work(i):
        for k in range(500):
            rec.add(f"c{i % 4}", float(k), k % 7 != 0)

    _hammer(work)
    assert rec.attempted == 16 * 500
    assert sum(len(v) for v in rec.samples.values()) == 16 * 500
    assert rec.failed == 16 * sum(1 for k in range(500) if k % 7 == 0)


def test_tracer_keeps_each_threads_parents():
    tr = Tracer(_FakeSpark(), True)
    tr.counters = lambda gid: {"jobs": 1}

    def work(i):
        for _ in range(200):
            op = tr.new_op()
            with tr.span("op", op) as outer:
                with tr.span("inner", op, group="exec") as inner:
                    assert inner.parent == outer.id
            tr.settle()

    _hammer(work)
    ops = [s for s in tr.spans if s.name == "op"]
    inner = [s for s in tr.spans if s.name == "inner"]
    assert len(ops) == len(inner) == 16 * 200
    assert len({s.op for s in ops}) == len(ops)
    assert all(s.attrs["jobs"] == 1 for s in inner)
    by_id = {s.id: s for s in ops}
    assert all(by_id[s.parent].op == s.op for s in inner)
