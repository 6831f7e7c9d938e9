"""Pin the bench stdout contract: the driver captures only the last ~2,000
characters of stdout, so the final printed JSON line must stay far below
that — rounds 2 and 3 were unparseable because per-query timing maps
(~4 KB for 148 queries) were embedded in the line."""

import json

import bench


def test_summary_line_fits_driver_tail_capture():
    payload = bench.summary_payload(
        total=12345.678, sf=0.1, n_queries=9999, reps=99,
        artifact_state="pinned-env")
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < 1500, len(line)
    # scalars only — a per-query dict here would regrow past the window
    assert all(not isinstance(v, (dict, list)) for v in payload.values())
    assert payload["metric"] == "total_query_wall_seconds"
    assert payload["unit"] == "sec"
    assert payload["per_query_file"] == bench.PER_QUERY_FILE


def test_summary_has_no_queries_key():
    payload = bench.summary_payload(1.0, 0.01, 148, 2, "cold")
    assert "queries" not in payload


def test_sentinel_accepts_quiet_box():
    v = bench.sentinel_verdict([1.00, 1.12, 0.95])
    assert v.quiet
    assert v.spread == round(1.12 / 0.95, 3)
    assert v.full_spread == v.spread
    assert not v.warmup_carveout


def test_sentinel_refuses_contended_box():
    # the round-6 failure shape: the box slowed mid-run (d11 0.9s -> 7.5s
    # class drift); the anchor sees it and the artifact must be refused
    v = bench.sentinel_verdict([1.0, 2.4, 1.1])
    assert not v.quiet
    assert v.spread == 2.4


def test_sentinel_boundary_and_degenerate_inputs():
    # exactly at the threshold is still quiet (<=)
    assert bench.sentinel_verdict([1.0, 1.5]).quiet
    # too few samples / zero floor: no positive evidence -> quiet
    for degenerate in ([], [1.0], [0.0, 5.0]):
        v = bench.sentinel_verdict(degenerate)
        assert (v.quiet, v.spread) == (True, 1.0)
        assert not v.warmup_carveout


def test_summary_carries_sentinel_fields():
    payload = bench.summary_payload(1.0, 0.01, 148, 2, "cold",
                                    sentinel_spread=1.8,
                                    artifact_written=False)
    assert payload["sentinel_spread"] == 1.8
    assert payload["artifact_written"] is False


def _run(total, q, spread=1.1):
    return {"sf": 0.1, "reps": 2, "total_sec": total,
            "sentinel_spread": spread, "queries": q}


def test_merge_refuses_unverified_runs():
    import pytest

    from tools.merge_bench import merge

    good = _run(1.0, {"q01": 1.0})
    for bad in (_run(1.0, {"q01": 0.5}, spread=None),
                _run(1.0, {"q01": 0.5}, spread=1.7)):
        with pytest.raises(SystemExit, match="refusing to merge run"):
            merge([good, bad])
        # explicit override still merges (and the cheap bad run wins the min)
        assert merge([good, bad], allow_unverified=True)["queries"]["q01"] \
            == 0.5


def test_merge_carries_min_and_median():
    from tools.merge_bench import merge

    runs = [_run(1.0, {"q01": 1.0, "q02": 3.0}),
            _run(1.2, {"q01": 1.2, "q02": 2.0}),
            _run(1.4, {"q01": 1.4, "q02": 2.5})]
    m = merge(runs)
    assert m["queries"] == {"q01": 1.0, "q02": 2.0}
    assert m["queries_median"] == {"q01": 1.2, "q02": 2.5}
    assert m["total_sec"] == 3.0
    assert m["total_median_sec"] == 3.7


def test_run_file_is_stamped_and_gitignored_dir():
    # bench.py writes each run under bench_runs/ (gitignored); only
    # tools/merge_bench.py writes the committed BENCH_QUERIES.json —
    # a driver-invoked run must never shadow the merged floor artifact
    # in the working tree (VERDICT r8 item 4).
    import os

    p = bench.run_file_name(1755000000)
    assert p == os.path.join("bench_runs", "run_1755000000.json")
    gitignore = open(
        os.path.join(os.path.dirname(bench.__file__), ".gitignore")).read()
    assert "bench_runs/" in gitignore.split()


def test_summary_points_at_run_file_when_given():
    payload = bench.summary_payload(1.0, 0.1, 234, 2, "cold",
                                    per_query_file="bench_runs/run_1.json")
    assert payload["per_query_file"] == "bench_runs/run_1.json"
    # written run with no explicit path: the committed artifact name
    assert bench.summary_payload(1.0, 0.1, 234, 2, "cold")[
        "per_query_file"] == bench.PER_QUERY_FILE
    # refused run (artifact_written=False) wrote nothing — must emit
    # null, never the committed merge's name (r9 ADVICE)
    assert bench.summary_payload(1.0, 0.1, 234, 2, "cold",
                                 artifact_written=False)[
        "per_query_file"] is None


def test_bench_slice_partitions_exactly():
    names = [f"q{i}" for i in range(10)]
    for n in (1, 2, 3, 4, 10):
        parts = [bench.bench_slice(names, f"{i}/{n}")
                 for i in range(1, n + 1)]
        flat = [x for p in parts for x in p]
        assert flat == names, (n, flat)
    import pytest
    with pytest.raises(SystemExit):
        bench.bench_slice(names, "0/4")
    with pytest.raises(SystemExit):
        bench.bench_slice(names, "5/4")


def test_union_runs_assembles_disjoint_slices():
    import pytest

    from tools.merge_bench import union_runs

    s1 = dict(_run(1.0, {"q01": 1.0}), slice="1/2")
    s2 = dict(_run(2.0, {"q02": 2.0}), slice="2/2")
    u = union_runs([s1, s2])
    assert u["queries"] == {"q01": 1.0, "q02": 2.0}
    assert u["total_sec"] == 3.0
    assert u["slices"] == ["1/2", "2/2"]
    # overlapping slices are a mis-specification, refuse
    with pytest.raises(SystemExit, match="re-times"):
        union_runs([s1, dict(_run(1.0, {"q01": 0.9}), slice="1/2")])
    # a contaminated slice poisons nothing — refused like any run
    with pytest.raises(SystemExit, match="refusing slice"):
        union_runs([s1, dict(_run(2.0, {"q02": 2.0}, spread=1.9),
                             slice="2/2")])


def test_fold_repairs_floors_and_grows_surface():
    import pytest

    from tools.merge_bench import fold

    committed = {"sf": 0.1, "reps": 1, "merged_runs": 4,
                 "sentinel_spreads": [1.1] * 4,
                 "run_totals_sec": [9.0] * 4,
                 "queries": {"q01": 1.0, "q02": 8.0, "gone": 1.0},
                 "queries_median": {"q01": 1.2},
                 "total_sec": 10.0}
    new = _run(5.5, {"q01": 1.5, "q02": 3.0, "new1": 1.0})
    out = fold(new, committed)
    # min on common, fresh value for new, stale query dropped
    assert out["queries"] == {"q01": 1.0, "q02": 3.0, "new1": 1.0}
    assert out["total_sec"] == 5.0
    assert out["merged_runs"] == 5
    assert out["folded"][0]["improved"] == 1
    assert out["folded"][0]["new_queries"] == ["new1"]
    assert out["folded"][0]["dropped_queries"] == ["gone"]
    # medians over mismatched surfaces must not survive the fold
    assert "queries_median" not in out
    with pytest.raises(SystemExit, match="not sentinel-clean"):
        fold(_run(5.5, {"q01": 1.5}, spread=1.9), committed)


def test_sentinel_warmup_carveout():
    # slow START with quiet rest = residual warmup -> accepted on the
    # rest's spread (r9 diagnosis; two r10 runs died on this)
    v = bench.sentinel_verdict([1.58, 1.01, 1.05, 1.02])
    assert v.quiet and v.spread < 1.1
    # ...but FLAGGED, and the full start-inclusive spread is carried so
    # downstream consumers can see the hot start (r10 ADVICE, medium)
    assert v.warmup_carveout
    assert v.full_spread == round(1.58 / 1.01, 3)
    # the REVERSE (late inflation) is real contention -> still refused
    assert not bench.sentinel_verdict([1.0, 1.02, 2.6]).quiet
    # slow start AND noisy rest -> refused
    assert not bench.sentinel_verdict([2.0, 1.0, 1.6]).quiet
    # two samples only: no rest to judge -> refused as before
    assert not bench.sentinel_verdict([1.58, 1.0]).quiet


def test_sentinel_carveout_requires_strict_unique_max():
    # a later anchor that exactly TIES the start never fires the
    # CARVE-OUT (the docstring requires the start be the UNIQUE
    # maximum; r10 ADVICE asked the code to match strictly). A tied
    # max means full spread == rest spread, so such a run is judged
    # on the plain-spread path: quiet here, with no carveout flag.
    v = bench.sentinel_verdict([2.0, 1.4, 2.0])
    assert v.quiet and not v.warmup_carveout
    # strictly-above start with a quiet rest passes via the carve-out
    assert bench.sentinel_verdict([2.2, 1.4, 1.5]).warmup_carveout
    # ...and a strictly-above start with a noisy rest is still refused
    assert not bench.sentinel_verdict([2.2, 1.3, 2.0]).quiet


def test_summary_carries_warmup_carveout_flag():
    p = bench.summary_payload(1.0, 0.1, 244, 2, "cold",
                              sentinel_spread=1.05,
                              warmup_carveout=True,
                              start_anchor_spread=1.56)
    assert p["warmup_carveout"] is True
    assert p["start_anchor_spread"] == 1.56
    # a clean run carries neither key (the summary stays minimal)
    clean = bench.summary_payload(1.0, 0.1, 244, 2, "cold")
    assert "warmup_carveout" not in clean
    assert "start_anchor_spread" not in clean


def test_driver_heap_default_fits_the_host(monkeypatch):
    """Unpinned, the driver heap is half the host's memory capped at
    24g: 7g on a 15 GiB host (a flat 24g default would exceed it), 24g
    on a 128 GiB one."""
    monkeypatch.setattr(bench, "mem_total_bytes", lambda: 15 * 2 ** 30)
    assert bench.default_driver_mem() == "7g"
    monkeypatch.setattr(bench, "mem_total_bytes", lambda: 128 * 2 ** 30)
    assert bench.default_driver_mem() == "24g"


def test_run_file_records_codegen_compiles_next_to_walls():
    """Each query's codegen layer: classes compiled in its cold rep and
    in each warm rep, keyed like the walls; merge tooling still reads
    the walls of such a run."""
    from tools.merge_bench import merge

    layer = bench.codegen_layer({"q01": [17, 0, 0], "d71": [40, 2, 0]})
    assert layer == {"q01": {"cold": 17, "warm": [0, 0]},
                     "d71": {"cold": 40, "warm": [2, 0]}}
    run = dict(_run(2.0, {"q01": 1.0, "d71": 1.0}), codegen_compiles=layer)
    assert merge([run])["queries"] == {"q01": 1.0, "d71": 1.0}


def test_time_query_counts_compiles_per_rep(spark):
    """A plan no earlier query generated compiles in its cold rep and,
    reused from the codegen cache, in no warm rep."""
    class Spec:
        @staticmethod
        def builder(spark, sf_dir):
            return spark.range(1).selectExpr("id * 7919 + 104729 AS v")

    wall, compiles = bench.time_query(spark, "", Spec, 3)
    assert wall > 0
    assert len(compiles) == 3
    assert compiles[0] >= 1
    assert compiles[1:] == [0, 0]
