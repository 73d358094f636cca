"""bench.py's admission protocol: a stage's min-of-2 pair is admitted when
its runs reproduce within ARM_REPRO_MAX and the in-flight host probe clears
HEALTH_FLOOR_MBPS; a spread pair retries at once, a failed probe waits for
the host, and a stage that never qualifies is flagged inadmissible. The
probe is stubbed, so nothing here sleeps, allocates or starts Spark."""

import pytest

import bench


@pytest.fixture
def host(monkeypatch):
    """``host["mbps"]`` is what every probe reads; ``host["waits"]`` counts
    the runner's waits for a healthy window. The prober thread takes no
    samples of its own: the one in-window sample is the runner's."""
    state = {"mbps": 3000.0, "waits": 0}
    monkeypatch.setattr(bench, "host_fault_mbps", lambda mb=100: state["mbps"])
    monkeypatch.setattr(bench._ArmProber, "_loop", lambda self, interval: None)

    def wait(self):
        state["waits"] += 1

    monkeypatch.setattr(bench.StageRunner, "_wait_for_healthy_window", wait)
    return state


def _stage(times):
    it = iter(times)
    return lambda: next(it)


def test_reproducing_pair_admitted_on_first_attempt(host):
    runner = bench.StageRunner()
    runner.run("s", _stage([1.0, 1.2]))
    assert 1.2 <= bench.ARM_REPRO_MAX
    assert runner.admission["s"] == {
        "probe_mbps_median": 3000.0,
        "spread": 1.2,
        "admissible": True,
        "attempts": 1,
    }
    assert runner.timings == {"s": 1.0}
    assert runner.run_pairs == {"s": [1.0, 1.2]}
    assert host["waits"] == 0


def test_spread_pair_with_healthy_probe_retries_without_waiting(host):
    runner = bench.StageRunner()
    runs = [
        {"a": 1.0, "b": 1.0}, {"a": 1.0, "b": 3.0},  # attempt 1: spread 2.0
        {"a": 1.0, "b": 1.0}, {"a": 1.5, "b": 0.5},  # attempt 2: spread 1.0
    ]
    runner.run("s", _stage(runs))
    assert runner.admission["s"] == {
        "probe_mbps_median": 3000.0,
        "spread": 1.0,
        "admissible": True,
        "attempts": 2,
    }
    assert runner.timings == {"a": 1.0, "b": 0.5}  # per-key min of the admitted pair
    assert runner.run_pairs == {"a": [1.0, 1.5], "b": [1.0, 0.5]}
    assert host["waits"] == 0


def test_unhealthy_probe_is_inadmissible_after_max_attempts(host):
    host["mbps"] = bench.HEALTH_FLOOR_MBPS / 5
    runner = bench.StageRunner()
    runner.run("s", _stage([1.0] * (2 * bench.MAX_ATTEMPTS)))
    assert runner.admission["s"] == {
        "probe_mbps_median": bench.HEALTH_FLOOR_MBPS / 5,
        "spread": 1.0,
        "admissible": False,
        "attempts": bench.MAX_ATTEMPTS,
    }
    assert runner.timings == {"s": 1.0}  # the best attempt is still reported
    assert host["waits"] == bench.MAX_ATTEMPTS - 1
