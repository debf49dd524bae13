"""bench.py's round-over-round regression gate compares like with like:
prior medians taken at another ``sf``, ``runs_per_query`` or
``timing_mode`` are skipped with a log line naming both configs, never
diffed."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _side(tmp_path, sf, runs, timing_mode="forced"):
    path = tmp_path / "bench_queries.json"
    prior = {"sf": sf, "runs_per_query": runs,
             "queries": {"q_slow": 1.0, "q_same": 2.0}}
    if timing_mode is not None:
        prior["timing_mode"] = timing_mode
    path.write_text(json.dumps(prior))
    return str(path)


TIMINGS = {"q_slow": 5.0, "q_same": 2.0}  # q_slow: +4s and 5x


def test_regression_gate_skips_mismatched_prior_config(tmp_path, capsys):
    bench = _bench()
    for sf, runs in (("0.01", 3), ("0.1", 5)):
        side = _side(tmp_path, sf, runs)
        assert bench.regression_gate(side, TIMINGS, "0.1", 3) == {}
        err = capsys.readouterr().err
        assert "config mismatch" in err
        assert f"'sf': '{sf}'" in err and f"'runs_per_query': {runs}" in err
        assert "'sf': '0.1'" in err and "'runs_per_query': 3" in err
        assert "REGRESSION" not in err


def test_regression_gate_flags_like_config_regression(tmp_path, capsys):
    bench = _bench()
    side = _side(tmp_path, "0.1", 3)
    assert bench.regression_gate(side, TIMINGS, "0.1", 3) == {
        "q_slow": [1.0, 5.0]}
    assert "REGRESSION vs prev round: q_slow" in capsys.readouterr().err


def test_regression_gate_skips_prior_with_other_timing_mode(tmp_path, capsys):
    bench = _bench()
    for mode in ("count", None):  # None: a file from before the stamp
        side = _side(tmp_path, "0.1", 3, timing_mode=mode)
        assert bench.regression_gate(side, TIMINGS, "0.1", 3) == {}
        err = capsys.readouterr().err
        assert "config mismatch" in err
        assert f"'timing_mode': {mode!r}" in err
        assert "'timing_mode': 'forced'" in err
        assert "REGRESSION" not in err
