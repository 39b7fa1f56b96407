"""The percentile rule, percentile arithmetic and CPU readings."""

import os
import threading
import time

import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert stats.highest_supported(n) == want


def test_rule_leaves_at_least_ten_samples_beyond():
    for n in range(1, 3000):
        p = stats.highest_supported(n)
        if p is not None:
            assert n * (100 - p) / 100 >= 10 - 1e-9


def test_percentile_interpolates_linearly():
    v = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(v, 0) == 1.0
    assert stats.percentile(v, 50) == 2.5
    assert stats.percentile(v, 100) == 4.0
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_steal_share():
    assert stats.steal_pct((100, 10), (300, 30)) == 10.0
    assert stats.steal_pct((100, 10), (100, 10)) == 0.0


def test_jit_cpu_counts_only_the_compiler_threads():
    burned = threading.Semaphore(0)
    release = threading.Event()

    def burn(name):
        with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as f:
            f.write(name)
        end = time.thread_time() + 0.3
        while time.thread_time() < end:
            pass
        burned.release()
        release.wait()  # stay listed until read

    threads = [threading.Thread(target=burn, args=(n,))
               for n in ("C2 CompilerThre", "worker")]
    for t in threads:
        t.start()
    for _ in threads:
        assert burned.acquire(timeout=60)
    got = stats.jit_cpu_s(os.getpid())
    release.set()
    for t in threads:
        t.join()
    assert 0.25 <= got < 0.5
    assert stats.jit_cpu_s(2**22 + 1) == 0.0  # no such process
