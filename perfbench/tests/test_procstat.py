"""Samplers over /proc, checked against a fake /proc tree and the real one."""

import os
import time

import pytest

from perfbench import procstat

T = procstat.CLK_TCK


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields after the command: state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    procs = {
        100: ("python3", 1, 2 * T, 1 * T, 3 * T, 0),   # root; reaped children: 3 s
        101: ("java", 100, 10 * T, 2 * T, 0, 0),
        102: ("py worker) x", 101, 4 * T, 1 * T, 0, 0),  # ')' inside the command
        200: ("other", 1, 50 * T, 50 * T, 0, 0),      # not in the tree
    }
    pss = {100: 1024, 101: 4096, 102: 2048, 200: 99999}
    for pid, (comm, ppid, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst))
        (d / "smaps_rollup").write_text(f"Rss: 1 kB\nPss: {pss[pid]} kB\nPss_Anon: 1 kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    (tmp_path / "stat").write_text(
        f"cpu  100 0 50 1000 5 0 3 {7 * T} 0 0\ncpu0 50 0 25 500 2 0 1 {3 * T} 0 0\n"
    )
    (tmp_path / "loadavg").write_text("1.25 0.80 0.50 2/300 4242\n")
    return str(tmp_path)


def test_parse_stat_line_splits_at_last_paren():
    pid, ppid, times = procstat.parse_stat_line(_stat(7, "a (b) c)", 3, 11, 12, 13, 14))
    assert (pid, ppid, times) == (7, 3, [11, 12, 13, 14])


def test_tree_pids_follows_descendants_only(fake_proc):
    assert sorted(procstat.tree_pids(100, fake_proc)) == [100, 101, 102]
    assert sorted(procstat.tree_pids(101, fake_proc)) == [101, 102]
    assert procstat.tree_pids(999, fake_proc) == []


def test_tree_cpu_counts_live_and_reaped_time_once(fake_proc):
    # 100: 2+1+3 reaped; 101: 10+2; 102: 4+1 -> 23 s; pid 200 excluded
    assert procstat.tree_cpu_s(100, fake_proc) == pytest.approx(23.0)
    assert procstat.tree_cpu_s(102, fake_proc) == pytest.approx(5.0)


def test_host_steal_and_loadavg(fake_proc):
    assert procstat.host_steal_s(fake_proc) == pytest.approx(7.0)
    assert procstat.loadavg_1m(fake_proc) == 1.25


def test_pss_of_tree(fake_proc):
    assert procstat.pss_kb(101, fake_proc) == 4096
    assert procstat.pss_kb(12345, fake_proc) == 0  # exited
    assert procstat.tree_pss_mb(100, fake_proc) == pytest.approx((1024 + 4096 + 2048) / 1024)


def test_peak_pss_keeps_the_largest_sample(fake_proc):
    peak = procstat.PeakPss(100, interval_s=0.01, root=fake_proc).start()
    with open(os.path.join(fake_proc, "101", "smaps_rollup"), "w") as f:
        f.write("Pss: 10240 kB\n")
    time.sleep(0.1)
    with open(os.path.join(fake_proc, "101", "smaps_rollup"), "w") as f:
        f.write("Pss: 0 kB\n")
    assert peak.stop() == pytest.approx((1024 + 10240 + 2048) / 1024)


def test_host_context_reports_deltas(fake_proc):
    ctx = procstat.HostContext(fake_proc)
    with open(os.path.join(fake_proc, "stat"), "w") as f:
        f.write(f"cpu  1 0 1 1 0 0 0 {9 * T} 0 0\n")
    out = ctx.finish()
    assert out["steal_s"] == pytest.approx(2.0)
    assert out["loadavg_1m_start"] == out["loadavg_1m_end"] == 1.25


def test_real_proc_cpu_grows_with_work():
    pid = os.getpid()
    c0 = procstat.tree_cpu_s(pid)
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert procstat.tree_cpu_s(pid) - c0 >= 0.2
    assert procstat.tree_pss_mb(pid) > 1.0
    assert procstat.host_steal_s() >= 0.0
