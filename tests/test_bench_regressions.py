"""Unit tests for bench.py's host-normalized regression detector."""

from __future__ import annotations

import importlib.util
import json
import os


def _bench():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _baseline(tmp_path, queries, duckdb_total=10.0, sf=0.1):
    p = tmp_path / "BASELINE.json"
    p.write_text(
        json.dumps({"sf": sf, "queries": queries, "duckdb_total": duckdb_total})
        + "\n"
    )
    return str(p)


def test_flags_genuine_regression_and_ignores_jitter(tmp_path):
    b = _bench()
    base = _baseline(tmp_path, {"q1": 0.5, "q2": 0.4, "q3": 2.0})
    times = {
        "q1": 5.0,   # 10x: a real plan regression
        "q2": 0.55,  # 1.4x sub-second jitter: under the 1.5x line
        "q3": 2.1,   # basically unchanged
    }
    out = b.baseline_regressions(times, 0.1, duckdb_total=10.0, base_path=base)
    assert out == {"q1": [0.5, 5.0]}


def test_host_inflation_is_normalized_out(tmp_path):
    """A uniformly 1.8x-slower host (duckdb side inflated identically)
    must flag nothing, while the same times with a FAST duckdb run (no
    host excuse) flag everything eligible."""
    b = _bench()
    queries = {"q1": 0.5, "q2": 1.0}
    base = _baseline(tmp_path, queries, duckdb_total=10.0)
    inflated = {"q1": 0.9, "q2": 1.8}
    assert (
        b.baseline_regressions(inflated, 0.1, duckdb_total=18.0, base_path=base)
        == {}
    )
    flagged = b.baseline_regressions(
        inflated, 0.1, duckdb_total=10.0, base_path=base
    )
    assert set(flagged) == {"q1", "q2"}


def test_absolute_excess_floor_and_sf_mismatch(tmp_path):
    b = _bench()
    base = _baseline(tmp_path, {"q1": 0.21})
    # 1.67x relative but only 0.14s excess: under the 0.2s absolute floor
    assert (
        b.baseline_regressions({"q1": 0.35}, 0.1, duckdb_total=10.0, base_path=base)
        == {}
    )
    # sf mismatch: not comparable, never flags
    assert (
        b.baseline_regressions({"q1": 9.9}, 0.01, duckdb_total=10.0, base_path=base)
        == {}
    )
    # missing baseline file: silent no-op
    assert (
        b.baseline_regressions({"q1": 9.9}, 0.1, base_path=str(tmp_path / "nope"))
        == {}
    )


def test_tuned_mode_summary_skips_regressions(tmp_path, monkeypatch):
    """Regression (round-7 advice): in SPARK_GRAFT_BENCH_MODE=tuned the
    summary's ``queries`` hold TUNED-conf times; comparing them against
    BASELINE.json's default-conf column would mix configs and flag
    phantom regressions (or hide real ones). The summary must omit the
    field entirely in tuned mode and compute it in default/both."""
    b = _bench()
    base = _baseline(tmp_path, {"q1_x": 0.5})
    out = {
        "sf": 0.1,
        "value": 5.0,
        "queries": {"q1_x": 5.0},  # 10x the baseline: a flaggable delta
        "duckdb_total": 10.0,
    }
    tuned = b.build_summary(out, "tuned", base_path=base)
    assert "regressions" not in tuned
    for mode in ("default", "both"):
        s = b.build_summary(out, mode, base_path=base)
        assert s["regressions"] == {"q1": [0.5, 5.0]}


def test_summary_ratios_and_compact_per_query_dict(tmp_path):
    b = _bench()
    out = {
        "sf": 0.1,
        "value": 12.0,
        "queries": {"q33_minhash_lsh_pairs": 12.345},
        "duckdb_total": 10.0,
        "tuned": {"total": 8.0},
    }
    s = b.build_summary(out, "both", base_path=str(tmp_path / "nope"))
    # Driver contract: the parsed final line must carry the per-query
    # dict (the lower-core scaling run reads it) — in the r10–r13 compact
    # form: SHORT keys, 2-dp values. Boundedness is enforced by
    # test_summary_line_stays_bounded, not by dropping the dict.
    assert s["queries"] == {"q33": 12.3}  # >=10 s rows round to 1 dp
    assert s["n_queries"] == 1
    assert s["ratio_default"] == 1.2
    assert s["ratio_tuned"] == 0.8
    assert s["tuned_total"] == 8.0


def test_summary_line_stays_bounded(tmp_path):
    """The final stdout line — WITH the contract-required 120-row
    per-query dict — must stay under the driver's ~2,000-char stdout
    tail even when every query flags as a regression and every time is
    a pathological 4-digit number (the r14 live line was 2,594 chars
    and the driver recorded ``parsed: null``; r15 ADVICE asked for
    4-digit headroom — >=100 s values round to integers, so the entry
    width is capped at 4 digits + key)."""
    b = _bench()
    queries = {f"q{i}_some_longish_query_name": 11.111 for i in range(1, 121)}
    base = _baseline(
        tmp_path, {k: 0.5 for k in queries}, duckdb_total=10.0
    )
    current = {k: 1111.111 for k in queries}  # 2222x everywhere: all flag
    out = {
        "metric": "sum of per-query best-of-3 wall sec, full query "
        "inventory (noop sink, warm session, ENGINE-DEFAULT conf: AQE on; "
        "INTERLEAVED protocol: default/tuned/duckdb measured back-to-back "
        "per query, one shared session + artifact stage)",
        "sf": 0.1,
        "protocol": "interleaved",
        "value": 13333.3,
        "queries": current,
        "artifact_build": 12.345,
        "duckdb_total": 10.0,
        "tuned": {"total": 8.0},
    }
    line = b.summary_line(out, "both", base_path=base)
    assert len(line) < 1950, f"summary line is {len(line)} chars"
    s = json.loads(line)
    assert s["n_regressions_total"] == 120
    assert len(s["regressions"]) == 5
    assert len(s["queries"]) == 120  # contract: per-query dict present
    assert s["queries"]["q1"] == 1111  # >=100 s rows round to integers


def test_summary_regressions_capped_worst_first(tmp_path):
    b = _bench()
    queries = {f"q{i}_x": 0.5 for i in range(1, 21)}
    base = _baseline(tmp_path, queries, duckdb_total=10.0)
    # q20 has the largest absolute excess, descending from there
    current = {f"q{i}_x": 0.5 + 0.5 * i for i in range(1, 21)}
    out = {"sf": 0.1, "value": 1.0, "queries": current, "duckdb_total": 10.0}
    s = b.build_summary(out, "both", base_path=base)
    assert s["n_regressions_total"] == 20
    assert list(s["regressions"]) == [f"q{i}" for i in range(20, 15, -1)]


def test_cli_help_and_unknown_flag(tmp_path):
    """r14 verdict: `bench.py --help` used to silently run the full
    ~14-minute bench. argparse must make --help exit 0 fast and an
    unknown flag exit 2, neither touching Spark."""
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = os.path.join(root, "bench.py")
    r = subprocess.run(
        [_sys.executable, bench, "--help"], capture_output=True, timeout=60
    )
    assert r.returncode == 0
    assert b"interleaved" in r.stdout
    r = subprocess.run(
        [_sys.executable, bench, "--duckdb"], capture_output=True, timeout=60
    )
    assert r.returncode == 2
    assert b"unrecognized" in r.stderr


def test_cli_defaults():
    b = _bench()
    args = b.parse_args([])
    assert args.protocol == "interleaved"
    assert args.mode == "both"
    assert args.runs == 3
    assert args.no_duckdb is False
    args = b.parse_args(["--no-duckdb", "--runs", "1"])
    assert args.no_duckdb is True
    assert args.runs == 1


def test_detector_parses_the_indented_baseline_format(tmp_path):
    """r14 finding: the loader read only the FIRST LINE of BASELINE.json;
    the r12 re-pin switched the file to json.dump(indent=1), the parse
    raised, the except swallowed it, and every bench's `regressions`
    field was a vacuous {} for three rounds. The detector must parse the
    indented multi-line format (and the tests above must not be the only
    coverage, since they fed it single-line synthetics)."""
    b = _bench()
    p = tmp_path / "BASELINE.json"
    p.write_text(
        json.dumps(
            {"sf": 0.1, "queries": {"q1": 0.5}, "duckdb_total": 10.0},
            indent=1,
        )
    )
    out = b.baseline_regressions(
        {"q1": 5.0}, 0.1, duckdb_total=10.0, base_path=str(p)
    )
    assert out == {"q1": [0.5, 5.0]}, "multi-line baseline must parse"


def test_detector_parses_the_live_repo_baseline():
    """Format drift guard on the REAL artifact: whatever format the repo's
    BASELINE.json is re-pinned in, a planted 3x row must flag. If this
    fails after a re-pin, the detector is silently dead again."""
    b = _bench()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "BASELINE.json")
    with open(path) as f:
        head = json.load(f)
    name, ref = next(iter(head["queries"].items()))
    out = b.baseline_regressions(
        {name: max(0.31, ref * 3 + 0.3)},
        head["sf"],
        duckdb_total=head.get("duckdb_total"),
        base_path=path,
    )
    assert name in out, "live BASELINE.json format must be parseable"


def test_detector_first_line_fallback_for_bench_output(tmp_path):
    """Explicit base_path may point at a bench OUTPUT file (detail JSON on
    line 1, summary on line 2): the fallback must read line 1."""
    b = _bench()
    p = tmp_path / "bench_out.json"
    p.write_text(
        json.dumps({"sf": 0.1, "queries": {"q1": 0.5}, "duckdb_total": 10.0})
        + "\n" + json.dumps({"metric": "summary"}) + "\n"
    )
    out = b.baseline_regressions(
        {"q1": 5.0}, 0.1, duckdb_total=10.0, base_path=str(p)
    )
    assert out == {"q1": [0.5, 5.0]}
