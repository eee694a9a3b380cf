"""The /proc readers on a fake process tree: a driver (100) that started
a JVM (101), which forked a Python daemon (102) with one worker (103);
200 is an unrelated process."""

from __future__ import annotations

import pytest

import harness
import procfs

TICKS = 100
# pid: (comm, ppid, utime, stime, cutime, cstime, VmHWM kB)
TREE = {
    100: ("python3", 1, 100, 20, 0, 0, 100_000),
    101: ("java", 100, 500, 100, 0, 0, 1_000_000),
    102: ("python3", 101, 10, 5, 300, 50, 50_000),  # reaped workers
    103: ("weird) (name", 102, 200, 0, 0, 0, 60_000),
    200: ("sshd", 1, 999, 999, 0, 0, 5_000),
}


@pytest.fixture
def proc(tmp_path):
    for pid, (comm, ppid, ut, st, cut, cst, hwm) in TREE.items():
        d = tmp_path / str(pid)
        d.mkdir()
        filler = " ".join(["0"] * 9)  # fields 5-13
        (d / "stat").write_text(
            f"{pid} ({comm}) S {ppid} {filler} {ut} {st} {cut} {cst} 20 0 1 0\n"
        )
        (d / "status").write_text(
            f"Name:\t{comm}\nVmPeak:\t 9 kB\nVmHWM:\t {hwm} kB\nVmRSS:\t 1 kB\n"
        )
    (tmp_path / "self").mkdir()
    (tmp_path / "meminfo").write_text("MemTotal: 1 kB\n")
    return str(tmp_path)


def test_tree_pids_follow_parents(proc):
    assert procfs.tree_pids(100, proc) == [100, 101, 102, 103]
    assert procfs.tree_pids(102, proc) == [102, 103]


def test_comm_with_parentheses_parses(proc):
    assert procfs.tree_cpu(103, proc, TICKS) == {103: ("weird) (name", 2.0)}


def test_tree_cpu_counts_reaped_children(proc):
    # (120 + 600 + 365 + 200) ticks
    cpu = procfs.tree_cpu(100, proc, TICKS)
    assert sum(c for _, c in cpu.values()) == pytest.approx(12.85)


def test_peak_rss_sums_the_tree(proc):
    assert procfs.tree_peak_rss_mb(100, proc) == pytest.approx(1_210_000 / 1024)


def test_vanished_process_is_skipped(proc, tmp_path):
    (tmp_path / "103" / "stat").unlink()
    (tmp_path / "103" / "status").unlink()
    assert procfs.tree_pids(100, proc) == [100, 101, 102]
    assert procfs.tree_peak_rss_mb(100, proc) == pytest.approx(1_150_000 / 1024)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert harness.tail_percentile(27) == 62
    assert harness.tail_percentile(1000) == 99
    assert harness.tail_percentile(12) == 50
    xs = [float(i) for i in range(1, 101)]
    assert harness.percentile(xs, 90) == pytest.approx(90.1)
    assert sum(1 for x in xs if x > harness.percentile(xs, 90)) == 10
