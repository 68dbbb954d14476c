"""Bench record policy (`bench.resolve_record`) — pure-Python, no Spark.

Two shipped mistakes are pinned here: a noisy run clobbering a faster quiet
record of the same workload (round 6), and a different-scale-factor run
silently clobbering the default record file (round 7, commit 74b1f0f)."""

from __future__ import annotations

import json
import os

from bench import resolve_record

TIMINGS = {"q1": 1.0, "q2": 2.0}


def _write(path, sf, value, queries=TIMINGS):
    with open(path, "w") as f:
        json.dump({"sf": sf, "value": value, "queries": queries}, f)


def test_fresh_record_goes_to_default(tmp_path):
    path, keep, notes = resolve_record(
        0.1, 3.0, TIMINGS, False, repo=str(tmp_path), env={}
    )
    assert path == str(tmp_path / "BENCH_LOCAL.json")
    assert not keep and notes == {}


def test_different_sf_never_overwrites_default(tmp_path):
    # the round-7 hole: an sf0.01 run must not clobber the sf0.1 record
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 37.0)
    path, keep, notes = resolve_record(
        0.01, 3.0, TIMINGS, False, repo=str(tmp_path), env={}
    )
    assert path == str(tmp_path / "BENCH_LOCAL_sf0.01.json")
    assert not keep
    assert notes["record_redirect"]["file"] == "BENCH_LOCAL_sf0.01.json"
    # the default record is untouched by construction (different path)
    assert json.load(open(tmp_path / "BENCH_LOCAL.json"))["value"] == 37.0


def test_same_sf_quiet_overwrites(tmp_path):
    # quiet runs always overwrite — a regression can't hide behind a stale
    # fast record
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 30.0)
    path, keep, notes = resolve_record(
        0.1, 50.0, TIMINGS, False, repo=str(tmp_path), env={}
    )
    assert path == str(tmp_path / "BENCH_LOCAL.json")
    assert not keep


def test_noisy_keeps_faster_identical_workload(tmp_path):
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 30.0)
    path, keep, notes = resolve_record(
        0.1, 50.0, TIMINGS, True, repo=str(tmp_path), env={}
    )
    assert keep
    assert notes["kept_quiet_record"]["value"] == 30.0


def test_noisy_overwrites_when_faster(tmp_path):
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 60.0)
    _, keep, _ = resolve_record(
        0.1, 50.0, TIMINGS, True, repo=str(tmp_path), env={}
    )
    assert not keep


def test_noisy_different_queryset_overwrites_after_redirect_check(tmp_path):
    # same sf but a changed query set = new workload: overwrite (the set
    # grows when queries are added round over round)
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 30.0, queries={"q1": 1.0})
    path, keep, _ = resolve_record(
        0.1, 50.0, TIMINGS, True, repo=str(tmp_path), env={}
    )
    assert path == str(tmp_path / "BENCH_LOCAL.json")
    assert not keep


def test_explicit_out_is_never_redirected(tmp_path):
    # SPARK_GRAFT_BENCH_OUT goes exactly where the caller said, even when
    # the default record holds a different sf
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 37.0)
    env = {"SPARK_GRAFT_BENCH_OUT": "custom.json"}
    path, keep, notes = resolve_record(
        0.01, 3.0, TIMINGS, False, repo=str(tmp_path), env=env
    )
    assert path == str(tmp_path / "custom.json")
    assert "record_redirect" not in notes


def test_redirected_record_still_gets_noisy_protection(tmp_path):
    # the sf-suffixed sibling inherits the quiet-keep policy
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 37.0)
    _write(tmp_path / "BENCH_LOCAL_sf0.01.json", 0.01, 3.0)
    path, keep, notes = resolve_record(
        0.01, 9.0, TIMINGS, True, repo=str(tmp_path), env={}
    )
    assert path == str(tmp_path / "BENCH_LOCAL_sf0.01.json")
    assert keep


def test_wait_for_quiet_returns_immediately_on_quiet_host():
    from bench import wait_for_quiet

    calls = []
    notes = wait_for_quiet(
        600, probe=lambda: (0.1, 0.0), sleep=lambda s: calls.append(s)
    )
    assert notes["quiet_at_start"] and notes["waited_s"] == 0.0
    assert calls == []


def test_wait_for_quiet_waits_out_transient_load():
    from bench import wait_for_quiet

    # load decays below the threshold on the third probe
    seq = iter([(5.0, 0.0), (3.0, 0.0), (1.2, 0.5)])
    slept = []
    notes = wait_for_quiet(
        600, probe=lambda: next(seq), sleep=slept.append, interval_s=15.0
    )
    assert notes["quiet_at_start"]
    assert notes["waited_s"] == 30.0 and slept == [15.0, 15.0]
    assert notes["load_at_start"] == 1.2


def test_wait_for_quiet_never_blocks_past_the_bound():
    from bench import wait_for_quiet

    slept = []
    notes = wait_for_quiet(
        40, probe=lambda: (9.0, 8.0), sleep=slept.append, interval_s=15.0
    )
    # 15 + 15 + 10 = exactly the bound, then proceed noisy-flagged
    assert slept == [15.0, 15.0, 10.0]
    assert notes["waited_s"] == 40.0
    assert not notes["quiet_at_start"]


def test_wait_for_quiet_flags_steal_even_at_low_load():
    from bench import wait_for_quiet

    notes = wait_for_quiet(0.0, probe=lambda: (0.1, 7.5), sleep=lambda s: None)
    assert not notes["quiet_at_start"]
    assert notes["steal_at_start_pct"] == 7.5


def test_steal_retry_quiet_first_attempt_runs_once():
    from bench import run_with_steal_retries

    calls = []

    def attempt():
        calls.append(1)
        return {"q1": 1.0, "q2": 2.0}, {"q1": 0.1, "q2": 0.2}

    t, s, noisy, load, log = run_with_steal_retries(attempt, 0.5)
    assert len(calls) == 1 and not noisy
    assert t == {"q1": 1.0, "q2": 2.0}
    assert log == [
        {
            "total": 3.0,
            "steal_pct_max": 0.2,
            "loadavg_start": 0.5,
            "noisy": False,
        }
    ]


def test_steal_retry_reruns_until_quiet_and_keeps_quiet_attempt():
    from bench import run_with_steal_retries

    # attempt 1: stolen-from (6%); attempt 2: quiet — its timings win even
    # though the noisy attempt happened to read faster
    seq = iter(
        [
            ({"q1": 0.9}, {"q1": 6.0}),
            ({"q1": 1.1}, {"q1": 0.3}),
        ]
    )
    waits = []
    t, s, noisy, load, log = run_with_steal_retries(
        lambda: next(seq),
        0.4,
        wait_fn=lambda: waits.append(1) or {"waited_s": 30.0},
        load_fn=lambda: 0.6,
    )
    assert not noisy and t == {"q1": 1.1} and s == {"q1": 0.3}
    assert len(log) == 2 and log[0]["noisy"] and not log[1]["noisy"]
    assert log[0]["retry_quiet_wait"] == {"waited_s": 30.0}
    assert waits == [1]


def test_steal_retry_exhausted_merges_best_of_and_stays_noisy():
    from bench import run_with_steal_retries

    seq = iter(
        [
            ({"q1": 2.0, "q2": 5.0}, {"q1": 6.0, "q2": 1.0}),
            ({"q1": 1.5, "q2": 6.0}, {"q1": 4.0, "q2": 2.0}),
            ({"q1": 3.0, "q2": 4.5}, {"q1": 9.0, "q2": 0.5}),
        ]
    )
    t, s, noisy, load, log = run_with_steal_retries(
        lambda: next(seq), 0.4, max_retries=2, load_fn=lambda: 0.6
    )
    assert noisy and len(log) == 3 and all(a["noisy"] for a in log)
    # per-query MIN timings, per-query MAX steal
    assert t == {"q1": 1.5, "q2": 4.5}
    assert s == {"q1": 9.0, "q2": 2.0}


def test_steal_retry_foreign_load_alone_triggers_retry():
    from bench import run_with_steal_retries

    seq = iter([({"q1": 1.0}, {"q1": 0.1}), ({"q1": 1.0}, {"q1": 0.1})])
    t, s, noisy, load, log = run_with_steal_retries(
        lambda: next(seq), 4.2, load_fn=lambda: 0.3
    )
    # first attempt noisy purely on pre-session loadavg; retry quiet
    assert not noisy and len(log) == 2
    assert log[0]["noisy"] and log[0]["loadavg_start"] == 4.2
    assert log[1]["loadavg_start"] == 0.3


def test_cpu_calibration_deterministic_workload_and_positive():
    from bench import cpu_calibration

    # Tiny workload (16 MiB) keeps the unit test fast; the probe must be
    # positive and two back-to-back readings of the same fixed workload
    # must sit within a sane band of each other (it's a thermometer, not
    # a random number). Wide 5x tolerance: CI boxes are noisy.
    a = cpu_calibration(mib=16)
    b = cpu_calibration(mib=16)
    assert a > 0 and b > 0
    assert max(a, b) / min(a, b) < 5.0


def test_bench_summary_line_carries_queries_and_fits_tail_capture():
    # The driver parses the LAST stdout line; it must contain the per-query
    # map (round-14 PERF had per_query={}) and stay under the ~3 KB tail
    # capture window even at the full 95-query headline with long names.
    import json as _json

    from bench import HEADLINE, summary_line

    # the REAL headline names at a pessimistic 3-decimal reading each
    queries = {name: 12.345 for name in HEADLINE}
    line = summary_line(
        {
            "metric": "headline_queries_total",
            "value": 86.2,
            "unit": "sec",
            "queries": queries,
            "sf": 0.1,
            # the bulky noise block the summary must leave to the record
            "noise": {"noisy": False, "steal_pct_max": 0.0, "attempts": [{}] * 500},
        }
    )
    assert len(line) < 3000
    parsed = _json.loads(line)
    assert parsed["queries"] == queries and parsed["value"] == 86.2


def test_different_cpus_never_overwrites_default(tmp_path):
    # the round-14 hole: the driver's 8-core scaling run (faster wall
    # clock on a latency-bound bench) clobbered the quiet 32-core record
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 87.4)
    with open(tmp_path / "BENCH_LOCAL.json") as f:
        rec = json.load(f)
    rec["cpus"] = 32
    with open(tmp_path / "BENCH_LOCAL.json", "w") as f:
        json.dump(rec, f)
    path, keep, notes = resolve_record(
        0.1, 75.0, TIMINGS, False, repo=str(tmp_path), env={}, cpus=8
    )
    assert path == str(tmp_path / "BENCH_LOCAL_c8.json")
    assert not keep
    assert notes["record_redirect"]["file"] == "BENCH_LOCAL_c8.json"
    assert json.load(open(tmp_path / "BENCH_LOCAL.json"))["value"] == 87.4


def test_same_cpus_and_legacy_record_without_cpus_take_default_path(tmp_path):
    # same core count → normal overwrite; a pre-round-15 record without a
    # cpus field can't be distinguished, so the old policy applies
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 87.4)
    path, _, notes = resolve_record(
        0.1, 80.0, TIMINGS, False, repo=str(tmp_path), env={}, cpus=8
    )
    assert path == str(tmp_path / "BENCH_LOCAL.json") and "record_redirect" not in notes
    with open(tmp_path / "BENCH_LOCAL.json") as f:
        rec = json.load(f)
    rec["cpus"] = 32
    with open(tmp_path / "BENCH_LOCAL.json", "w") as f:
        json.dump(rec, f)
    path, _, notes = resolve_record(
        0.1, 80.0, TIMINGS, False, repo=str(tmp_path), env={}, cpus=32
    )
    assert path == str(tmp_path / "BENCH_LOCAL.json") and "record_redirect" not in notes


def test_different_sf_and_cpus_compose_both_suffixes(tmp_path):
    # an sf0.01 run on 4 cores against a 32-core sf0.1 default record must
    # not land in the plain sf sibling, where another core count may live
    _write(tmp_path / "BENCH_LOCAL.json", 0.1, 87.4)
    with open(tmp_path / "BENCH_LOCAL.json") as f:
        rec = json.load(f)
    rec["cpus"] = 32
    with open(tmp_path / "BENCH_LOCAL.json", "w") as f:
        json.dump(rec, f)
    path, keep, notes = resolve_record(
        0.01, 20.0, TIMINGS, False, repo=str(tmp_path), env={}, cpus=4
    )
    assert path == str(tmp_path / "BENCH_LOCAL_sf0.01_c4.json")
    assert not keep
    assert notes["record_redirect"]["file"] == "BENCH_LOCAL_sf0.01_c4.json"
