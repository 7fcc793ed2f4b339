"""Bench-harness guards: the median, the scaling target computed from the
run's own rounds, BASELINE.md from the run's own numbers, the watchdog
line, worker-group reaping, argument safety, and that a launch signals no
process it did not start."""

import json
import os
import signal
import subprocess
import sys
import time

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median():
    assert bench._median([3.0]) == 3.0
    assert bench._median([1.0, 9.0]) == 5.0
    assert bench._median([9.0, 1.0, 5.0]) == 5.0
    assert bench._median([4.0, 1.0, 9.0, 5.0]) == 4.5


def test_save_progress_merges_ring_buffer(tmp_path):
    """recentProgress is a capped ring buffer; repeated save_progress calls
    must accumulate batches keyed by batchId, not truncate to the tail."""
    import json

    from lsh_qd_spark.streaming.facade import save_progress

    class _P:
        def __init__(self, batch_id, rows):
            self.json = json.dumps({"batchId": batch_id, "numInputRows": rows})

    class _Q:
        def __init__(self, progress):
            self.recentProgress = progress

    work = str(tmp_path)
    save_progress(_Q([_P(0, 10), _P(1, 20)]), work)
    # second call: ring buffer rolled — batch 0 gone, batch 1 updated, 2 new
    path = save_progress(_Q([_P(1, 20), _P(2, 30)]), work)
    with open(path) as f:
        got = json.load(f)
    assert [p["batchId"] for p in got] == [0, 1, 2]
    assert sum(p["numInputRows"] for p in got) == 60


def test_watchdog_emits_partial_payload_and_exits_zero(
    monkeypatch, capsys, tmp_path
):
    """The hard-deadline watchdog is the driver-contract backstop: past
    HARD_DEADLINE it must print ONE parseable JSON line (whatever phases
    completed, flagged timed_out) and exit 0 — never rc=124/parsed-null
    (the round-2 failure)."""
    import os
    import time

    exited = []
    monkeypatch.setattr(bench.os, "_exit", lambda code: exited.append(code))
    monkeypatch.setattr(bench, "HARD_DEADLINE_SEC", 0)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    bench._done.clear()
    bench._latest_payload.clear()
    bench._latest_payload.update({"queries": {"q1": 1.0}})
    bench._arm_watchdog(time.time() - 1)
    for _ in range(100):
        if exited:
            break
        time.sleep(0.05)
    assert exited == [0]
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["timed_out"] is True
    assert line["queries"] == {"q1": 1.0}
    assert line["metric"] == "total_bench_sec" and "value" in line
    # normal completion disarms the watchdog entirely
    exited.clear()
    bench._done.set()
    bench._arm_watchdog(time.time() - 1)
    time.sleep(0.3)
    assert exited == []


def test_trial_rows_payload_first(tmp_path, monkeypatch):
    """BASELINE.md's raw-trials table describes the payload's own
    measurements."""
    # pin CPUS: with SPARK_GRAFT_CPUS=4/16 exported the headline row would
    # sort next to a scaling row instead of last
    monkeypatch.setattr(bench, "CPUS", 32)
    s = {
        "cpus_n": 4,
        "cpus_4n": 16,
        "n_trials": [100.0, 110.0, 120.0],
        "4n_trials": [29.0, 30.0, 31.0],
    }
    payload = {"headline_trials": [50.0, 60.0, 70.0]}
    rows = bench._trial_rows(s, payload)
    assert f"| local[4] | 100.0, 110.0, 120.0 | 110.0 |" in rows[0]
    assert f"| local[16] | 29.0, 30.0, 31.0 | 30.0 |" in rows[1]
    assert f"| local[32] | 50.0, 60.0, 70.0 | 60.0 |" in rows[2]
    # trials recorded at another parallelism keep their own label even
    # when regenerated under a different CPUS (payload carries the cpus)
    rows = bench._trial_rows(s, dict(payload, headline_cpus=8))
    assert f"| local[8] | 50.0, 60.0, 70.0 | 60.0 |" in rows[1]


def test_run_child_reaps_grandchildren():
    """Worker children run as process-group leaders so a timeout (and the
    hard-deadline watchdog) can reap the worker's JVM grandchild — a plain
    subprocess kill would orphan it and let it thrash the host through the
    driver's next phases."""
    import subprocess
    import sys
    import time

    # normal completion: registry drains, output captured
    p = bench._run_child([sys.executable, "-c", "print('ok')"], timeout=30)
    assert p.returncode == 0 and p.stdout.strip() == b"ok"
    assert bench._live_children == []

    # timeout: the child AND its grandchild die with the group
    # (pid via temp file: Popen.communicate's TimeoutExpired carries no
    # stdout, unlike subprocess.run's)
    import os
    import tempfile

    with tempfile.NamedTemporaryFile("r", suffix=".pid") as tf:
        code = (
            "import subprocess, sys, time\n"
            "g = subprocess.Popen([sys.executable, '-c',"
            " 'import time; time.sleep(120)'])\n"
            f"open({tf.name!r}, 'w').write(str(g.pid))\n"
            "time.sleep(120)\n"
        )
        try:
            bench._run_child([sys.executable, "-c", code], timeout=3)
            raise AssertionError("expected TimeoutExpired")
        except subprocess.TimeoutExpired:
            pass
        assert bench._live_children == []
        grand_pid = int(tf.read().strip())
    # SIGKILL to the group is immediate; allow a beat for the reap
    for _ in range(50):
        try:
            os.kill(grand_pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    else:
        raise AssertionError(f"grandchild {grand_pid} survived group kill")


def test_sigterm_reaps_worker_groups(tmp_path):
    """A TERM (e.g. from a `timeout` wrapper) must take the in-flight
    worker groups (and their JVM grandchildren) down too — dying bare
    would orphan the worker JVMs."""
    import os
    import signal
    import subprocess
    import sys
    import time

    pidfile = str(tmp_path / "grand.pid")
    # script files instead of nested -c literals: three quoting layers deep
    worker_py = tmp_path / "worker.py"
    worker_py.write_text(
        "import subprocess, sys, time\n"
        "g = subprocess.Popen([sys.executable, '-c',"
        " 'import time; time.sleep(120)'])\n"
        f"open({pidfile!r}, 'w').write(str(g.pid))\n"
        "time.sleep(120)\n"
    )
    parent_py = tmp_path / "parent.py"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent_py.write_text(
        "import sys, signal\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import bench\n"
        "sys.argv = ['bench.py']\n"
        "signal.signal(signal.SIGTERM, bench._terminate_with_children)\n"
        f"bench._run_child([sys.executable, {str(worker_py)!r}], timeout=200)\n"
    )
    p = subprocess.Popen(
        [sys.executable, str(parent_py)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        for _ in range(100):
            if os.path.exists(pidfile):
                break
            time.sleep(0.1)
        else:
            raise AssertionError("worker never started")
        grand = int(open(pidfile).read())
        p.send_signal(signal.SIGTERM)
        assert p.wait(timeout=15) == 143
        for _ in range(50):
            try:
                os.kill(grand, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            raise AssertionError("grandchild survived parent TERM")
    finally:
        if p.poll() is None:
            p.kill()


def test_help_exits_fast_without_running(tmp_path):
    """-h/--help/unknown args must print usage and exit 2 WITHOUT starting
    a run."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for arg in ("--help", "-h", "--typo-flag"):
        r = subprocess.run(
            [_sys.executable, os.path.join(repo, "bench.py"), arg],
            capture_output=True,
            text=True,
            timeout=30,
        )
        assert r.returncode == 2, (arg, r.returncode, r.stderr[-500:])
        assert "usage:" in r.stderr




def test_scaling_target_from_this_run(monkeypatch):
    """Efficiency and the ≥ 0.8 target come from this run's rounds: the
    median of per-round N→4N ratios, nothing read from disk."""
    secs = {4: [100.0, 100.0, 100.0], 16: [40.0, 25.0, 30.0]}

    def fake_worker(cpus, n_trials=None, n_docs=None):
        return {"cpus": cpus, "n_pages": 1000, "sec": secs[cpus].pop(0)}

    monkeypatch.setattr(bench, "_run_worker", fake_worker)
    monkeypatch.setattr(bench, "SCALE_CPUS", (4, 16))
    monkeypatch.setattr(bench, "SCALE_TRIALS", 3)
    s = bench.run_scaling()
    assert s["round_ratios"] == [0.625, 1.0, 0.833]
    assert s["scaling_efficiency_n_to_4n"] == 0.833
    assert s["target"] == 0.8 and s["target_met"] is True
    assert s["n_trials"] == [100.0, 100.0, 100.0]
    assert s["4n_trials"] == [40.0, 25.0, 30.0]

    secs.update({4: [100.0], 16: [50.0]})
    monkeypatch.setattr(bench, "SCALE_TRIALS", 1)
    s = bench.run_scaling()
    assert s["scaling_efficiency_n_to_4n"] == 0.5 and s["target_met"] is False


def test_bench_md_reports_only_this_run(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    payload = {
        "value": 12.5,
        "queries": {"q": 1.0},
        "sf": "sf",
        "bench_docs": 1000,
        "pages_per_sec": 80.0,
        "headline_trials": [12.0, 12.5],
        "headline_cpus": 8,
        "scaling": {
            "cpus_n": 1,
            "cpus_4n": 4,
            "n_trials": [40.0],
            "4n_trials": [20.0],
            "scaling_efficiency_n_to_4n": 0.5,
            "target": 0.8,
            "target_met": False,
            "round_ratios": [0.5],
        },
    }
    bench.write_bench_md(payload)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "**Scaling efficiency N→4N: 0.5** — target ≥ 0.8 not met" in md
    assert "| headline | local[8] | 12.0, 12.5 | 12.2 |" in md
    assert "| scaling | local[4] | 20.0 | 20.0 |" in md
    assert "best" not in md.lower()


def _session_groups(sid: int) -> set[int]:
    """Process groups of the live processes in session ``sid``."""
    groups = set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    groups.add(os.getpgid(int(d)))
            except OSError:
                pass
    return groups


def test_launch_signals_no_foreign_process(tmp_path):
    """A scripted launch — a wrapper shell around `timeout … python
    bench.py` — must leave alive every process it did not start: here an
    unrelated process whose command line mentions bench.py, and the
    wrapper shell itself."""
    sentinel = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(120)", "bench.py"],
        start_new_session=True,
    )
    wrapper = subprocess.Popen(
        ["bash", "-c", f"timeout 60 {sys.executable} bench.py; echo rc=$?"],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        env=dict(
            os.environ,
            SPARK_GRAFT_BENCH_DIR=str(tmp_path),
            SPARK_GRAFT_DRIVER_MEM="1g",
        ),
        start_new_session=True,
    )
    try:
        time.sleep(5)
        assert sentinel.poll() is None, "sentinel was signalled"
        assert wrapper.poll() is None, "wrapper shell was signalled"
    finally:
        # `timeout` moves itself into its own process group: kill every
        # group in the wrapper's session, not only the wrapper's
        for _ in range(3):
            groups = _session_groups(wrapper.pid)
            if not groups:
                break
            for pgid in groups:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.5)
        wrapper.wait(timeout=10)
        sentinel.kill()
        sentinel.wait(timeout=10)


def test_import_writes_nothing_under_bench():
    bench_dir = os.path.join(REPO, "BENCH")

    def snapshot() -> dict:
        if not os.path.isdir(bench_dir):
            return {}
        return {
            n: os.stat(os.path.join(bench_dir, n)).st_mtime_ns
            for n in os.listdir(bench_dir)
        }

    before = snapshot()
    r = subprocess.run(
        [sys.executable, "-c", "import bench"], cwd=REPO, timeout=60
    )
    assert r.returncode == 0
    assert snapshot() == before
