"""Tenancy self-adjudication (tools/tenancy.py): the bench must be
able to tell its own load from a noisy neighbor's and re-queue/flag
polluted reps — the BENCH_r04 artifact failure mode."""

from __future__ import annotations

import multiprocessing as mp
import os
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")

from tools.tenancy import (  # noqa: E402
    ExternalLoadMonitor, adjudicated_min, proc_tree_jiffies)


def _spin(stop_t):
    t_end = time.monotonic() + stop_t
    x = 0
    while time.monotonic() < t_end:
        x += 1


def _spinners(n, secs):
    ps = [mp.Process(target=_spin, args=(secs,)) for _ in range(n)]
    for p in ps:
        p.start()
    return ps


def _spin_in_parallel(started, spinning, stop):
    """Spin until `stop` is set (60 s at most).  Once every spinner has
    started, set `spinning` after a 50 ms slice in which this process
    ran a full core: after an idle spell a VM host can give its guest
    about one core for a second, with the guest's CPUs reading idle."""
    deadline = time.monotonic() + 60
    started.wait()
    while time.monotonic() < deadline:
        t0, c0 = time.monotonic(), time.process_time()
        while time.monotonic() < t0 + 0.05:
            pass
        if time.process_time() - c0 >= 0.045:
            break
    spinning.set()
    while not stop.value and time.monotonic() < deadline:
        pass


def test_own_load_is_not_external():
    """4 busy children of OUR OWN tree must not count as external
    load (the monitor subtracts the whole process tree)."""
    mon = ExternalLoadMonitor()  # root = this test process
    # the window opens once all 4 children spin at full speed and
    # closes before they stop, so it measures their spinning, not
    # their start-up
    started = mp.Barrier(5, timeout=60)
    spinning = [mp.Event() for _ in range(4)]
    stop = mp.RawValue("b", 0)
    ps = [mp.Process(target=_spin_in_parallel, args=(started, ev, stop))
          for ev in spinning]
    for p in ps:
        p.start()
    try:
        started.wait()
        assert all(ev.wait(60) for ev in spinning)
        mon.start()
        time.sleep(0.8)
        rec = mon.stop()
    finally:
        stop.value = 1
        for p in ps:
            p.join()
    # own spinners excluded; only genuine neighbors remain.  Allow a
    # small ambient allowance for the shared CI host.
    assert rec["own_cores"] >= 3.0, rec
    assert rec["ext_cores"] < rec["own_cores"], rec


def test_external_load_is_visible():
    """The same 4 spinners ARE external load from the perspective of a
    disjoint process tree (a sleeping subprocess)."""
    sleeper = subprocess.Popen([sys.executable, "-c",
                                "import time; time.sleep(30)"])
    try:
        mon_out = ExternalLoadMonitor(root_pid=sleeper.pid)
        mon_in = ExternalLoadMonitor()
        ps = _spinners(4, 1.4)
        time.sleep(0.1)
        mon_out.start()
        mon_in.start()
        time.sleep(1.0)
        rec_out = mon_out.stop()
        rec_in = mon_in.stop()
        for p in ps:
            p.join()
    finally:
        sleeper.kill()
    # from outside our tree the spinners read as ~4 external cores
    # more than they do from inside it
    assert rec_out["ext_cores"] >= rec_in["ext_cores"] + 2.5, \
        (rec_out, rec_in)
    assert len(rec_out["loadavg"]) == 2


def test_proc_tree_includes_descendants():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys, time;"
         "subprocess.Popen([sys.executable, '-c',"
         "'import time; time.sleep(10)']); time.sleep(10)"])
    try:
        time.sleep(0.5)
        own = proc_tree_jiffies(os.getpid())
        assert own >= 0
        # the child tree is part of ours but not of an unrelated pid's
        child_tree = proc_tree_jiffies(child.pid)
        assert child_tree >= 0
    finally:
        child.kill()


def test_adjudicated_min_requeues_and_flags():
    """Deliberately loaded run: with neighbors outside the monitored
    tree, reps read polluted, get re-queued within budget, and the
    polluted flag trips only when no clean rep was obtained."""
    sleeper = subprocess.Popen([sys.executable, "-c",
                                "import time; time.sleep(60)"])
    spinners = _spinners(6, 12.0)
    try:
        mon = ExternalLoadMonitor(root_pid=sleeper.pid)
        budget = [2]
        best, out, recs, polluted = adjudicated_min(
            lambda: time.sleep(0.25) or 42, reps=1, monitor=mon,
            ext_max=2.0, budget=budget)
        # all reps ran under 6 external spinners: every rep polluted,
        # budget fully consumed, flag set
        assert polluted, recs
        assert budget[0] == 0
        assert len(recs) == 3  # 1 target + 2 re-queues
        assert out == 42
        assert all(r["ext_cores"] > 2.0 for r in recs), recs
        assert best == min(r["sec"] for r in recs)
    finally:
        for p in spinners:
            p.terminate()
        sleeper.kill()


def test_adjudicated_min_clean_host_no_retries():
    """With the spinners inside our own tree, reps are clean: no
    budget consumed, no flag."""
    mon = ExternalLoadMonitor()
    spinners = _spinners(4, 3.0)  # own-tree load must not trigger
    try:
        budget = [5]
        best, out, recs, polluted = adjudicated_min(
            lambda: time.sleep(0.2) or "ok", reps=2, monitor=mon,
            ext_max=2.5, budget=budget)
        assert not polluted, recs
        assert budget[0] == 5
        assert len(recs) == 2
        assert out == "ok"
    finally:
        for p in spinners:
            p.terminate()


class _ScriptedMonitor:
    """Monitor stand-in that reports a fixed external load per rep."""

    def __init__(self, ext_cores):
        self.ext = iter(ext_cores)

    def start(self):
        pass

    def stop(self):
        return {"ext_cores": next(self.ext), "own_cores": 1.0,
                "loadavg": [0.0, 0.0]}


def test_adjudicated_min_ignores_faster_polluted_rep():
    """A polluted rep that happens to be the fastest must not set the
    best time while a clean rep exists."""
    sleeps = iter([0.01, 0.15])
    budget = [1]
    best, out, recs, polluted = adjudicated_min(
        lambda: time.sleep(next(sleeps)) or "ok", reps=1,
        monitor=_ScriptedMonitor([5.0, 0.0]), ext_max=2.0, budget=budget)
    assert not polluted, recs
    assert budget[0] == 0
    assert len(recs) == 2
    assert recs[0]["sec"] < recs[1]["sec"]
    assert best == recs[1]["sec"]


def test_impossible_external_load_is_anomaly_and_requeued(monkeypatch):
    """A reading of more external cores than this process can run on
    is impossible (a bench run once recorded 133.32 on 32 CPUs): stop()
    flags it, and adjudicated_min re-queues the rep rather than timing
    it, even when `ext_max` alone would have let it through."""
    import tools.tenancy as tenancy

    ncpu = len(os.sched_getaffinity(0))
    calls = []

    def busy():
        # host = our own tree, so external load is only what is added
        # here: ncpu + 4 cores over the first rep, nothing afterwards
        calls.append(time.monotonic())
        extra = 0
        if len(calls) == 2:
            extra = int((ncpu + 4) * tenancy._CLK * (calls[1] - calls[0]))
        return proc_tree_jiffies(os.getpid()) + extra

    monkeypatch.setattr(tenancy, "host_busy_jiffies", busy)
    sleeps = iter([0.05, 0.15])
    budget = [1]
    best, out, recs, polluted = adjudicated_min(
        lambda: time.sleep(next(sleeps)) or "ok", reps=1,
        monitor=ExternalLoadMonitor(), ext_max=100.0 * ncpu, budget=budget)
    assert recs[0]["monitor_anomaly"] is True, recs
    assert ncpu < recs[0]["ext_cores"] <= 100.0 * ncpu, recs
    assert "monitor_anomaly" not in recs[1], recs
    assert budget[0] == 0
    assert len(recs) == 2
    assert not polluted
    assert recs[0]["sec"] < recs[1]["sec"]
    assert best == recs[1]["sec"]


def test_headline_is_compact_and_parses():
    """The bench's last stdout line parses and stays under 1000 chars
    with every rep's record moved to the sidecar (BENCH_r05 kept a
    truncated tail of a line that carried them, which did not parse)."""
    import json

    from bench import headline

    names = ["encode_synthetic", "decode_synthetic", "roundtrip_tokens",
             "roundtrip_lineitem", "minhash_lsh_pairs", "simhash",
             "embedding_topk", "exact_dedup", "lineitem_agg",
             "ann_lsh_topk", "decode_rowgroup_pruned"]
    rep = {"ext_cores": 133.32, "own_cores": 3.58,
           "loadavg": [15.0, 14.12], "sec": 12.345}
    rep_detail = {q: {"reps": [rep] * 9, "polluted": i == 3}
                  for i, q in enumerate(names)}
    timings = {q: 123.456 for q in names}
    extra = {"encode_GBps": 0.145, "bytes_per_token": 1.234,
             "n_tokens": 205_123_456, "n_stripes": 128,
             "compression_ratio": 3.242, "decode_GBps": 0.22}
    line = headline(timings, extra, rep_detail, 8,
                    "/some/long/working/directory/BENCH_DETAIL.json")
    assert "\n" not in line and len(line) < 1000
    rec = json.loads(line)
    assert rec["extra"]["decode_GBps"] == 0.22
    assert rec["polluted"] is True and rec["retries_used"] == 8
    assert rec["queries"] == timings and "rep_detail" not in rec
    assert rec["detail"].endswith("BENCH_DETAIL.json")
