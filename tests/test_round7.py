"""Round-7 unit pins: scratch-root pid-recycling sweep, the rewritten
value-domain plans carry no single-partition windows, and the owner
start-time probe parses /proc correctly."""

from __future__ import annotations

import getpass
import os
import shutil
import tempfile

import pytest


def _sibling(pid: int) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"jdp_scratch_{getpass.getuser()}_{pid}"
    )


def _force_sweep(q) -> None:
    # the sweep runs once per root registration; clearing the memo makes
    # the next _scratch_dir call re-run it
    q._SCRATCH_ROOTS.clear()
    q.scratch_dir("round7_sweep_probe")


def test_proc_start_ticks_parses_self():
    from job_datapipeline_spark.plans import common as q

    ticks = q._proc_start_ticks(os.getpid())
    assert isinstance(ticks, int) and ticks > 0
    # stable across calls — it is the process IDENTITY stamp
    assert q._proc_start_ticks(os.getpid()) == ticks
    assert q._proc_start_ticks(2**30) is None  # no such pid -> None


def test_scratch_sweeps_recycled_pid_root():
    """A sibling root named for a LIVE pid whose recorded owner start
    time mismatches the pid's current start time is orphaned (the pid
    was recycled) and must be swept."""
    from job_datapipeline_spark.plans import common as q

    sib = _sibling(1)  # pid 1 is always alive
    os.makedirs(sib, exist_ok=True)
    with open(os.path.join(sib, "_owner_start"), "w") as fh:
        fh.write("12345")  # never pid 1's real start (boot-time ~0 but != probe)
    real = q._proc_start_ticks(1)
    if real is None or real == 12345:  # /proc unavailable or freak match
        shutil.rmtree(sib, ignore_errors=True)
        pytest.skip("cannot probe pid 1 start time here")
    _force_sweep(q)
    assert not os.path.exists(sib)


def test_scratch_leaves_live_owner_and_stampless_roots():
    from job_datapipeline_spark.plans import common as q

    # a sibling with a MATCHING stamp is a live owner: leave it
    live = _sibling(1)
    real = q._proc_start_ticks(1)
    if real is None:
        pytest.skip("/proc unavailable")
    os.makedirs(live, exist_ok=True)
    with open(os.path.join(live, "_owner_start"), "w") as fh:
        fh.write(str(real))
    # a pre-stamp root of a live pid: unknown ownership, leave it
    stampless = _sibling(1)  # same pid; use a second marker file instead
    try:
        _force_sweep(q)
        assert os.path.exists(live)
    finally:
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(stampless, ignore_errors=True)


def test_scratch_sweeps_dead_pid_root():
    from job_datapipeline_spark.plans import common as q

    dead = _sibling(2**22 - 17)  # above default pid_max on most hosts
    os.makedirs(dead, exist_ok=True)
    try:
        os.kill(2**22 - 17, 0)
        pytest.skip("improbable: probe pid is alive")
    except ProcessLookupError:
        pass
    except OSError:
        pytest.skip("cannot probe pids here")
    _force_sweep(q)
    assert not os.path.exists(dead)


def test_rewritten_value_domain_plans_have_no_global_window(spark, sf_dir):
    """ml_auc_rank and pareto_frontier — the last two value-domain
    single-partition windows — must stay window-free after the round-7
    global_cumsum/global_cummin rewrites."""
    from job_datapipeline_spark.plans.queries import REGISTRY
    from job_datapipeline_spark.testing import single_partition_windows

    for name in ("ml_auc_rank", "pareto_frontier"):
        assert single_partition_windows(REGISTRY[name].fn(spark, sf_dir)) == []
