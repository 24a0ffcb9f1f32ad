"""Length-lock for bench.py's final stdout line.

Round 4's bench line grew to 2,883 chars; the recording harness keeps
only the LAST 2,000 chars of stdout, so the line head was truncated
and BENCH_r04.json recorded ``parsed: null`` — a full round of perf
signal lost. These tests lock the fix: :func:`bench.compact_line`
must stay under bench.LINE_LIMIT (1,900) for the real headline set,
for a far larger synthetic set, and a driver simulation must recover
the JSON from the last 2,000 chars of a realistic stdout stream.

No Spark session needed — pure string/JSON tests.
"""

from __future__ import annotations

import json

import bench


def _fake_out(names, detail=True):
    timings = {n: round(0.05 + (i % 97) * 0.113, 3) for i, n in enumerate(names)}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
    }
    if detail:
        out["detail_file"] = bench.DETAIL_FILE
    # the load sentinel is in every real emission dict but must ride
    # the DETAIL FILE only (round-11: bought the bytes that let the
    # full headline set fit the line deterministically)
    out["load"] = {
        "start": {"load1": 99.99, "load5": 99.99, "procs_running": 9999},
        "end": {"load1": 99.99, "load5": 99.99, "procs_running": 9999},
    }
    return out


def test_real_headline_under_limit():
    # The actual headline + secondary names with worst-plausible times
    # (5 digits before the decimal) — the backstop drop loop must still
    # yield a parseable line even for this pathological payload.
    names = list(bench.HEADLINE) + list(bench.SECONDARY)
    out = _fake_out(names)
    out["queries"] = {n: 99999.999 for n in names}
    line = bench.compact_line(out)
    assert len(line) < bench.LINE_LIMIT
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["detail_file"] == bench.DETAIL_FILE
    assert parsed["queries_total"] == len(names)
    assert parsed["queries_in_line"] == len(parsed["queries"])
    assert "load" not in parsed  # detail-file only since round 11


def test_full_headline_always_in_line():
    """Deterministic membership (round-10 verdict #3): with every
    per-query time under 100 s — the slowest real headline query is
    ~8 s, so this is >10x headroom — the line carries the ENTIRE
    headline set, so two consecutive rounds' lines always hold the
    same query set and PERF never reports phantom drops."""
    out = _fake_out(list(bench.HEADLINE))
    out["queries"] = {n: 99.99 for n in bench.HEADLINE}
    line = bench.compact_line(out)
    assert len(line) < bench.LINE_LIMIT
    parsed = json.loads(line)
    assert parsed["queries_in_line"] == parsed["queries_total"] == len(
        bench.HEADLINE
    )
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_load_sentinel_shape():
    s = bench.load_sentinel()
    assert set(s) == {"load1", "load5", "procs_running"}
    assert s["load1"] >= 0 and s["load5"] >= 0
    # this test process is running, so at least one R-state process
    assert s["procs_running"] >= 1


def test_pathological_many_long_names_under_limit():
    names = [f"q{i:04d}_extremely_long_operator_family_name_{i}" for i in range(400)]
    line = bench.compact_line(_fake_out(names))
    assert len(line) < bench.LINE_LIMIT
    assert json.loads(line)["queries_total"] == 400


def test_backstop_drop_is_marked_and_reported(capsys):
    """A payload that overflows the line sets ``truncated`` and names
    every dropped query on stderr; a line that fits is unchanged
    (no marker, no stderr, byte-identical to the plain serialization)."""
    names = [f"q{i:04d}_extremely_long_operator_family_name_{i}" for i in range(400)]
    out = _fake_out(names)
    out["queries"] = {n: 99999.999 for n in names}
    line = bench.compact_line(out)
    assert len(line) < bench.LINE_LIMIT
    parsed = json.loads(line)
    assert parsed["truncated"] is True
    assert parsed["queries_in_line"] == len(parsed["queries"]) < 400
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1
    dropped = [n for n in names if n not in parsed["queries"]]
    assert err[0].startswith(f"bench: line backstop dropped {len(dropped)} queries: ")
    assert err[0].endswith(", ".join(dropped))

    out = _fake_out(list(bench.HEADLINE))
    line = bench.compact_line(out)
    assert "truncated" not in json.loads(line)
    assert capsys.readouterr().err == ""
    ranked = sorted(out["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    plain = {
        k: v for k, v in out.items() if k not in ("queries", "scale_check", "load")
    }
    plain["queries_total"] = len(ranked)
    plain["queries"] = {n: round(t, 2) for n, t in ranked}
    plain["queries_in_line"] = len(ranked)
    assert line == json.dumps(plain, separators=(",", ":"))


def test_keeps_slowest_queries_in_line():
    names = [f"q{i:03d}_op" for i in range(200)]
    out = _fake_out(names)
    out["queries"] = {n: float(i) for i, n in enumerate(names)}
    parsed = json.loads(bench.compact_line(out))
    kept_times = set(parsed["queries"].values())
    dropped_times = {
        v for n, v in out["queries"].items() if n not in parsed["queries"]
    }
    # every kept entry is at least as slow as every dropped one
    assert not kept_times or not dropped_times or min(kept_times) >= max(
        dropped_times
    )
    # and the headline total is the FULL total, not the in-line subset
    assert parsed["value"] == out["value"]


def test_scale_check_never_rides_the_line():
    out = _fake_out(["q01_pricing_summary"])
    out["scale_check"] = {"minhash_lsh": {"ratio": 3.1, "huge": "x" * 5000}}
    line = bench.compact_line(out)
    assert "scale_check" not in json.loads(line)
    assert len(line) < bench.LINE_LIMIT


def test_driver_sim_tail_2000_recovers_json():
    """Simulate the recorder: noisy stdout, keep last 2,000 chars,
    parse the last non-empty line."""
    names = list(bench.HEADLINE) + list(bench.SECONDARY)
    out = _fake_out(names)
    out["queries"] = {n: 12345.678 for n in names}
    stdout = (
        "25/08/14 12:00:00 WARN NativeCodeLoader: blah\n" * 50
        + bench.compact_line(out)
        + "\n"
    )
    tail = stdout[-2000:]
    last_line = [ln for ln in tail.splitlines() if ln.strip()][-1]
    parsed = json.loads(last_line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == out["value"]
    assert parsed["sf"] == 0.1


def test_headline_secondary_disjoint_and_registered():
    assert not set(bench.HEADLINE) & set(bench.SECONDARY)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in list(bench.HEADLINE) + list(bench.SECONDARY):
        assert name in qs, name
