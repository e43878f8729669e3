"""Gate-tooling tests (no Spark): the bench_trend regression gate
(VERDICT r5 #5 — promoted from FYI to a failing gate), its run_gates
wiring, and the run info bench.py records."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREND = os.path.join(ROOT, "tools", "bench_trend.py")


def _history(tmp_path, latest_q_slow: float):
    """Two same-(sf,cpus) records; q_slow's min is 1.0. Several
    stable queries so the drift normalizer's median reflects the
    run, not the outlier under test."""
    stable_old = {f"q_ok{i}": 2.0 for i in range(6)}
    stable_new = {f"q_ok{i}": 2.1 for i in range(6)}
    recs = [
        {"sf": 0.1, "_cpus": 16, "queries": stable_old | {"q_slow": 1.0}},
        {"sf": 0.1, "_cpus": 16,
         "queries": stable_new | {"q_slow": latest_q_slow}},
    ]
    p = tmp_path / "hist.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    return str(p)


def _run(args):
    return subprocess.run(
        [sys.executable, TREND, *args], capture_output=True, text=True
    )


def test_trend_gate_fails_on_slowed_query(tmp_path):
    """A deliberately-slowed query (latest 3x its historical min)
    fails the gate and is named in the output."""
    hist = _history(tmp_path, 3.0)
    p = _run(["--history", hist, "--gate", "--factor", "2.0"])
    assert p.returncode == 1
    assert "GATE FAIL" in p.stdout and "q_slow" in p.stdout


def test_trend_gate_passes_within_factor(tmp_path):
    hist = _history(tmp_path, 1.9)
    p = _run(["--history", hist, "--gate", "--factor", "2.0"])
    assert p.returncode == 0


def test_trend_gate_respects_exempt_list(tmp_path):
    """The documented flaky list is printed but never gates."""
    hist = _history(tmp_path, 3.0)
    p = _run(["--history", hist, "--gate", "--factor", "2.0",
              "--exempt", "q_slow"])
    assert p.returncode == 0
    assert "exempt" in p.stdout


def test_trend_without_gate_flag_never_fails(tmp_path):
    """Standalone triage use keeps exit 0 (gating is opt-in)."""
    hist = _history(tmp_path, 5.0)
    p = _run(["--history", hist])
    assert p.returncode == 0
    assert "flagged" in p.stdout


def test_trend_single_run_never_gates(tmp_path):
    """One record = no history to regress against: a query seen once
    (a brand-new bench entry) must not gate."""
    rec = {"sf": 0.1, "_cpus": 16, "queries": {"q_new": 9.9}}
    p_hist = tmp_path / "hist.jsonl"
    p_hist.write_text(json.dumps(rec) + "\n")
    p = _run(["--history", str(p_hist), "--gate", "--factor", "2.0"])
    assert p.returncode == 0


def test_run_gates_wires_trend_as_gate():
    """run_gates must invoke bench_trend with --gate + the exempt
    list and record a 'bench_trend' failure on nonzero exit (the
    full chain is a 20-minute run; the gating unit is subprocess-
    tested above, this pins the wiring)."""
    src = open(os.path.join(ROOT, "tools", "run_gates.py")).read()
    assert '"--gate"' in src
    assert "TREND_EXEMPT" in src
    assert 'failures.append("bench_trend")' in src
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_gates", os.path.join(ROOT, "tools", "run_gates.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    assert "grinch_flat_clusters" in m.TREND_EXEMPT


COMPARE = os.path.join(ROOT, "tools", "bench_compare.py")


def _cmp_records(tmp_path, old_q: dict, new_q: dict):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps({"sf": 0.1, "value": 1.0, "queries": old_q}))
    pn.write_text(json.dumps({"sf": 0.1, "value": 1.0, "queries": new_q}))
    return str(po), str(pn)


def _run_cmp(args):
    return subprocess.run(
        [sys.executable, COMPARE, *args], capture_output=True, text=True
    )


def test_compare_gates_single_outlier_regression(tmp_path):
    """One query regressing 3x while the rest hold is a REAL
    regression and gates (median ratio ~1 -> no drift adjustment)."""
    old = {f"q{i}": 4.0 for i in range(9)} | {"q_bad": 4.0}
    new = {f"q{i}": 4.2 for i in range(9)} | {"q_bad": 12.0}
    po, pn = _cmp_records(tmp_path, old, new)
    p = _run_cmp([po, pn])
    assert p.returncode == 1 and "q_bad" in p.stdout


def test_compare_drift_normalizes_uniform_slowdown(tmp_path):
    """A uniform 2x whole-run slowdown is a HOST WINDOW, not a
    regression: the median-ratio adjustment keeps the gate green
    (the r6 ratchet: a fast-window baseline otherwise fails every
    later run, and failed runs never become baselines)."""
    old = {f"q{i}": 4.0 for i in range(10)}
    new = {f"q{i}": 8.0 for i in range(10)}
    po, pn = _cmp_records(tmp_path, old, new)
    p = _run_cmp([po, pn])
    assert p.returncode == 0
    assert "host-window drift" in p.stdout


def test_compare_subsecond_queries_never_gate(tmp_path):
    """Job-overhead-dominated sub-second queries swing 2-3x with the
    host window alone — floored out of the gate (still printed)."""
    old = {f"q{i}": 4.0 for i in range(9)} | {"q_tiny": 0.4}
    new = {f"q{i}": 4.0 for i in range(9)} | {"q_tiny": 1.3}
    po, pn = _cmp_records(tmp_path, old, new)
    p = _run_cmp([po, pn])
    assert p.returncode == 0


def test_compare_still_gates_broke_and_dropped(tmp_path):
    old = {"q1": 4.0, "q2": 4.0}
    new = {"q1": 4.0, "q2": -1.0}
    po, pn = _cmp_records(tmp_path, old, new)
    assert _run_cmp([po, pn]).returncode == 1  # broke
    old = {"q1": 4.0, "q2": 4.0}
    new = {"q1": 4.0}
    po, pn = _cmp_records(tmp_path, old, new)
    assert _run_cmp([po, pn]).returncode == 1  # dropped
    assert _run_cmp([po, pn, "--allow-dropped", "q2"]).returncode == 0


def test_trend_subsecond_floor(tmp_path):
    """latest 3x its min but under --min-sec: never flagged (host
    windows alone swing sub-second kernels this much)."""
    recs = [
        {"sf": 0.1, "_cpus": 16, "queries": {"q_tiny": 0.4}},
        {"sf": 0.1, "_cpus": 16, "queries": {"q_tiny": 1.3}},
    ]
    p2 = tmp_path / "hist2.jsonl"
    p2.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    p = _run(["--history", str(p2), "--gate", "--factor", "2.0"])
    assert p.returncode == 0


def test_trend_drift_normalizes_uniform_slowdown(tmp_path):
    """Every query 2.5x its min = a slow host window, not a
    regression — the median normalization keeps the gate green."""
    old = {f"q{i}": 2.0 for i in range(8)}
    new = {f"q{i}": 5.0 for i in range(8)}
    recs = [
        {"sf": 0.1, "_cpus": 16, "queries": old},
        {"sf": 0.1, "_cpus": 16, "queries": new},
    ]
    p2 = tmp_path / "hist3.jsonl"
    p2.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    p = _run(["--history", str(p2), "--gate", "--factor", "2.0"])
    assert p.returncode == 0
    assert "host-window drift" in p.stdout


def test_bench_run_info_keys(tmp_path):
    """bench.py records the host context of every run: the resolved
    core count, the load average, and the checkout's commit (null
    outside a git repository)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    info = bench.run_info(4)
    assert set(info) == {"cpus", "loadavg", "git_sha"}
    assert info["cpus"] == 4
    assert len(info["loadavg"]) == 3 and all(x >= 0 for x in info["loadavg"])
    assert info["git_sha"] is None or len(info["git_sha"]) == 40
    assert bench.run_info(4, repo=str(tmp_path))["git_sha"] is None
    assert len(json.dumps(info)) < 200  # leaves the <2 KB stdout line room
