"""Physical-plan regression tests — the scale contract, checked.

Correctness says WHAT a query returns; these assert HOW it executes:
filters reach the parquet scan, projections prune columns, small dims
broadcast (no fact shuffle), aggregations are partial. A regression here
is invisible at sf0.01 and catastrophic at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from etl_docker_spark.plans import QUERIES
from tests.conftest import SF_SMOKE


def formatted_plan(spark, name: str) -> str:
    df = QUERIES[name].builder(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def scan_read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan)


def tree_ops(plan: str) -> list[str]:
    """Operator names from the numbered detail headers (each appears once)."""
    return re.findall(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)


def test_q06_filter_pushdown(spark):
    plan = formatted_plan(spark, "q06_discount_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan   # date window pushed to scan
    assert "LessThan(l_quantity" in plan
    schemas = scan_read_schemas(plan)
    # column pruning: exactly the 4 needed lineitem columns are read
    assert any(s.count(":") == 4 and "l_discount" in s for s in schemas), schemas


def test_q02_broadcasts_dims(spark):
    plan = formatted_plan(spark, "q02_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # the region/nation/customer chain must not shuffle the lineitem side
    assert "SortMergeJoin" not in plan


def test_q20_two_broadcast_hops_no_shuffle_join(spark):
    plan = formatted_plan(spark, "q20_supplier_nation_revenue")
    assert tree_ops(plan).count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # lineitem scan pruned to join key + the two money columns
    schemas = scan_read_schemas(plan)
    assert any(s == "struct<l_suppkey:bigint,l_extendedprice:double,l_discount:double>"
               for s in schemas), schemas


def test_q01_partial_aggregation(spark):
    ops = tree_ops(formatted_plan(spark, "q01_pricing_summary"))
    # partial (map-side) agg before the single exchange, final after
    assert ops.count("HashAggregate") == 2
    assert ops.count("Exchange") == 1


def test_q14_single_window_shuffle(spark):
    ops = tree_ops(formatted_plan(spark, "q14_running_spend"))
    assert "Window" in ops
    assert ops.count("Exchange") == 1  # one shuffle on the partition key


def test_d01_narrow_dedup_shuffle(spark):
    plan = formatted_plan(spark, "d01_exact_dedup")
    # shuffle rows are (digest, id), never the document text
    assert re.search(r"hashpartitioning\(fp", plan), plan[:500]


def _operator_plan(spark, name: str) -> str:
    """Plan of the RAW LSH operator over the smoke documents table.

    The registry queries (d06/d11) now serve a per-session memoized frame
    (llm/index_cache) whose plan is just the checkpoint scan; these tests
    pin the plan of the pipeline that BUILDS that frame, so they call the
    operator directly."""
    from etl_docker_spark.llm.dedup import (minhash_lsh_pairs,
                                            simhash_near_dup_pairs)
    from etl_docker_spark.plans._util import t

    docs = t(spark, SF_SMOKE, "documents")
    if name == "d06_minhash_pairs":
        df = minhash_lsh_pairs(docs, "doc_id", "text")
    else:
        df = simhash_near_dup_pairs(docs, "doc_id", "text")
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_no_cartesian_products(spark):
    for name in ("d06_minhash_pairs", "e02_bucketed_near_dup", "q23_asof_last_order"):
        plan = (_operator_plan(spark, name) if name == "d06_minhash_pairs"
                else formatted_plan(spark, name))
        assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize("name", ["q04_priority_with_returns", "q05_customers_without_orders"])
def test_semi_anti_stay_joins(spark, name):
    plan = formatted_plan(spark, name)
    # membership tests must be joins, not collected driver-side IN lists
    assert "Join" in plan


@pytest.mark.parametrize("name", ["d06_minhash_pairs", "d11_simhash_pairs"])
def test_lsh_single_corpus_pass(spark, name):
    """The LSH pipelines materialize one per-doc frame (localCheckpoint) and
    every downstream branch reads it: at most ONE shuffle Exchange (the
    id fan-out) and zero recomputation of the scan+hash corpus pass."""
    plan = _operator_plan(spark, name)
    ops = tree_ops(plan)
    assert ops.count("Exchange") <= 1, plan
    assert ops.count("Scan parquet") <= 1, plan
    # candidate + verification joins all broadcast the tiny per-doc frames
    assert not [o for o in ops if "SortMergeJoin" in o], plan


def test_fan_out_noop_on_wide_input(spark):
    """fan_out must not inject a RoundRobin exchange when the corpus is
    already at cluster parallelism — at 100 TB the scan arrives parallel
    and an unconditional repartition is a full shuffle of raw vectors."""
    from pyspark.sql import functions as F

    from etl_docker_spark.llm.similarity import brute_force_knn, fan_out

    target = spark.sparkContext.defaultParallelism
    wide = (spark.range(200)
            .select(F.col("id").alias("vec_id"),
                    F.array(*[(F.col("id") * (i + 1) % 7).cast("float")
                              for i in range(4)]).alias("embedding"))
            .repartition(target))
    assert fan_out(wide) is wide
    q = wide.filter(F.col("vec_id") < 2)
    explain = lambda df: df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    # the only RoundRobin in the knn plan is the fixture's own repartition —
    # the operator adds none on top
    baseline = explain(wide).count("RoundRobinPartitioning")
    plan = explain(brute_force_knn(wide, q, k=3))
    assert plan.count("RoundRobinPartitioning") == baseline, plan


def test_fan_out_widens_narrow_input(spark):
    from etl_docker_spark.llm.similarity import fan_out

    narrow = spark.range(100).coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def test_registry_complete_and_oracle_backed(spark):
    """Every registered query must carry an oracle (the driver's correctness
    gate enumerates queries(); a registration without an oracle silently
    downgrades to rows-only — q31 missed round 1's gate this way). Pin the
    full name set so additions/removals are always a conscious diff."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rows_only_allowed = set()  # every current query is SQL-expressible
    missing = set(qs) - set(oracles) - rows_only_allowed
    assert not missing, f"queries without an oracle: {sorted(missing)}"
    expected = {
        *(f"q{i:02d}" for i in range(1, 106)),
        *(f"d{i:02d}" for i in range(1, 76)),
        *(f"e{i:02d}" for i in range(1, 25)),
        *(f"s{i:02d}" for i in range(1, 34)),
        "g01", "g02", "g03", "g04", "g05", "g06", "g07", "g08", "g09",
    }
    assert {n.split("_")[0] for n in qs} == expected


def test_gate_window_samples_every_round(spark):
    """The external gate checks the FIRST 50 registry entries only; pin
    that the window IS registry._GATE_WINDOW (build order must not leak
    in ahead of it) and the invariants that make the window useful:
    every never-externally-verified registration from the two newest
    rounds is under the gate, round-1 anchors stay sampled, and every
    query family is represented. The window policy is the rule stated
    above registry._GATE_WINDOW; the list itself lives only there, so
    this test pins invariants instead of repeating it."""
    import __spark_entry__ as entrymod
    from etl_docker_spark.plans import registry

    first50 = list(entrymod.queries())[:50]
    assert first50 == list(registry._GATE_WINDOW)
    window = set(first50)
    # newest registrations (never externally verified) MUST be gated
    assert {"d74_topk_state_lifecycle",
            "g09_recursive_path_cost",
            "d75_transposed_typo_dedup",
            "q105_validate_utf8_battery"} <= window
    # previous round's registrations stay gated one more round
    assert {"d72_token_transposition_dedup",
            "s33_stream_json_quarantine",
            "d73_low_entropy_fuzzy_dedup",
            "q103_stats_battery", "q104_time_battery",
            "g08_recursive_reachability"} <= window
    # round-1 anchors still sampled
    assert {"q01_pricing_summary", "s01_stream_tumbling"} <= window
    # once-red family reps stay pinned (HUGEINT oracle casts /
    # global-window rewrites of round 4)
    assert {"e08_hybrid_rrf", "d24_perplexity_buckets"} <= window
    # the window spans every query family, not just the newest round
    assert {"q", "d", "e", "s", "g"} <= {n[0] for n in window}


def test_plans_are_grouped_by_family():
    """plans/ holds one module per query family (q, s, d, e, g) next to
    registry and _util, and no module named after a build round; every
    builder lives in the module of its name's family letter."""
    import pkgutil

    import etl_docker_spark.plans as plans

    modules = {m.name for m in pkgutil.iter_modules(plans.__path__)}
    assert not [m for m in modules if m.startswith("round")], modules
    for name, spec in QUERIES.items():
        assert spec.builder.__module__ == f"etl_docker_spark.plans.{name[0]}", name


@pytest.mark.parametrize("name", [
    "d21_bm25_search", "e08_hybrid_rrf", "d24_perplexity_buckets",
    "d25_sequence_packing", "q43_zonemap_layout", "d31_weighted_sample",
    "q14_running_spend", "d18_token_budget_curation",
    "d61_threshold_yield_curve",
])
def test_no_unbounded_global_window(spark, name):
    """Round-3 verdict: three queries still ranked/tiled through an
    unpartitioned window over a corpus-sized frame — a single task sorts
    everything at 100 TB. All were rewritten two-phase (round 4); this
    pins the plan shape for them plus the queries that always used the
    distributed form. The audit rule lives in tools/plan_audit.py and
    renders as the PLANS.md global-window column."""
    from tools.plan_audit import unbounded_global_windows

    assert unbounded_global_windows(formatted_plan(spark, name)) == 0, name


def test_q42_q58_no_expand(spark):
    """Regression pin for the multi-distinct Expand removal: both queries
    pre-aggregate to the distinct key grain, so Catalyst must not plan an
    Expand node (which would duplicate every fact row per distinct set)."""
    for name in ("q42_sole_late_supplier", "q58_approx_distinct"):
        plan = formatted_plan(spark, name)
        assert "Expand" not in tree_ops(plan), name


def test_d37_d38_prune_documents_scan(spark):
    """The curation queries never need the text column — the documents
    scan must not read it (at 100 TB text IS the table)."""
    for name in ("d37_hash_split", "d38_source_quota"):
        plan = formatted_plan(spark, name)
        for s in scan_read_schemas(plan):
            assert "text" not in s, (name, s)


def test_q62_interval_join_is_hash_not_nested_loop(spark):
    """The bucketized interval join must plan an equi hash join on the
    day key — a BETWEEN-only formulation degrades to a nested loop that
    probes every event against every window."""
    plan = formatted_plan(spark, "q62_interval_join")
    ops = tree_ops(plan)
    assert "BroadcastNestedLoopJoin" not in ops and            "CartesianProduct" not in ops, ops
    assert "BroadcastHashJoin" in ops, ops


def test_g05_prunes_part_scan_and_single_shuffle(spark):
    """Path-enumeration rollup: the part scan must read only the key and
    the rolled-up measure (at scale the dim's text columns dwarf them),
    and the whole rollup is ONE aggregation shuffle — no joins, no
    iteration."""
    plan = formatted_plan(spark, "g05_hierarchy_rollup")
    for s in scan_read_schemas(plan):
        assert "p_name" not in s and "p_type" not in s, s
    ops = tree_ops(plan)
    assert ops.count("Exchange") == 1, ops
    assert not [o for o in ops if "Join" in o], ops


def test_q71_broadcasts_universe_and_dim(spark):
    """Division-by-counting: the per-customer frame joins a 1-row
    universe and the customer dim — both broadcast; the orders fact must
    never reach a shuffle join."""
    plan = formatted_plan(spark, "q71_relational_division")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_e19_exact_work_is_shortlist_bounded(spark):
    """Two-stage serving: raw embeddings enter only through the
    shortlist join (refinement cost independent of corpus size) — the
    plan must show hash joins, never a nested-loop scan of the corpus
    against queries."""
    plan = formatted_plan(spark, "e19_adc_exact_rerank")
    assert "CartesianProduct" not in plan


def test_finish_stream_raises_and_stops_a_cut_off_run():
    """A gate stream that did not finish within its bound has landed only
    part of its input: `finish_stream` must stop it and raise, naming the
    query, instead of returning the partial sink."""
    from etl_docker_spark.plans._util import finish_stream

    class FakeQuery:
        def __init__(self, finished: bool):
            self.finished, self.stopped = finished, False

        def awaitTermination(self, timeout):
            return self.finished

        def stop(self):
            self.stopped = True

    cut = FakeQuery(finished=False)
    with pytest.raises(RuntimeError, match="s99"):
        finish_stream(cut, "s99")
    assert cut.stopped
    done = FakeQuery(finished=True)
    assert finish_stream(done, "s99") is done and done.stopped


def test_gate_streams_finish_through_util():
    """Every gate stream in plans/ is started, awaited and stopped by
    `_util.finish_stream` (which raises when a run does not finish), and
    s.py stages its temp dirs through `tempfile.TemporaryDirectory`."""
    import os

    import etl_docker_spark.plans as plans_pkg

    plans_dir = os.path.dirname(plans_pkg.__file__)
    offenders = []
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py") or fname == "_util.py":
            continue
        banned = ["awaitTermination(", "trigger(availableNow=True)"]
        if fname == "s.py":
            banned.append("tempfile.mkdtemp(")
        with open(os.path.join(plans_dir, fname)) as f:
            for lineno, line in enumerate(f, 1):
                if any(b in line for b in banned):
                    offenders.append(f"{fname}:{lineno}: {line.strip()}")
    assert not offenders, offenders


def test_table_rewrites_go_through_overwrite_parquet():
    """Every full parquet table rewrite goes through
    `sinks.writers.overwrite_parquet`'s swap: no module under operators/,
    streaming/ or pipelines/, nor jobs.py, writes with mode("overwrite")
    itself (`skew.write_bucketed`'s saveAsTable writes a catalog table),
    and merge.py no longer pins its snapshot with localCheckpoint."""
    import ast
    import os

    import etl_docker_spark as pkg

    root = os.path.dirname(pkg.__file__)
    files = ["jobs.py"] + [
        os.path.join(d, f) for d in ("operators", "streaming", "pipelines")
        for f in sorted(os.listdir(os.path.join(root, d))) if f.endswith(".py")]
    offenders = []
    for rel in files:
        with open(os.path.join(root, rel)) as f:
            tree = ast.parse(f.read())
        exempt = [range(n.lineno, n.end_lineno + 1) for n in ast.walk(tree)
                  if rel == os.path.join("operators", "skew.py")
                  and isinstance(n, ast.FunctionDef) and n.name == "write_bucketed"]
        for n in ast.walk(tree):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "mode" and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and n.args[0].value == "overwrite"
                    and not any(n.lineno in r for r in exempt)):
                offenders.append(f"{rel}:{n.lineno}")
    assert not offenders, offenders
    with open(os.path.join(root, "operators", "merge.py")) as f:
        assert "localCheckpoint(" not in f.read()


def test_no_bare_conf_set_outside_util():
    """The grep-auditability contract `session_conf`'s docstring states:
    all runtime-conf mutation in plans/ goes through `_util.scoped_conf`
    / `_util.session_conf` / `_util.stream_state_partitions`, so one
    grep of _util.py audits every mutation site. A bare
    `spark.conf.set(...)` in a plan file escapes restore-discipline
    review (the round-6 s24 finding)."""
    import os

    import etl_docker_spark.plans as plans_pkg

    plans_dir = os.path.dirname(plans_pkg.__file__)
    offenders = []
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py") or fname == "_util.py":
            continue
        with open(os.path.join(plans_dir, fname)) as f:
            for lineno, line in enumerate(f, 1):
                if ".conf.set(" in line or ".conf.unset(" in line:
                    offenders.append(f"{fname}:{lineno}: {line.strip()}")
    assert not offenders, offenders



# ROADMAP item 6's count of repeated plan code may not rise above this
# ceiling (lower it when a change shares more).
_REPEATED_WINDOW_CEILING = 52


def test_repeated_plan_windows_stay_under_ceiling():
    """The lines of plans/*.py covered by a repeated 6-line window:
    stripped lines, at least 5 of the 6 non-trivial (not blank, not a
    comment, not punctuation only), and occurring twice or more in the
    same module. A fragment written twice should be one helper or
    constant, so the total may only go down."""
    import os

    import etl_docker_spark.plans as plans_pkg

    def trivial(line: str) -> bool:
        return (not line or line.startswith("#")
                or not re.sub(r"[\W_]", "", line))

    plans_dir = os.path.dirname(plans_pkg.__file__)
    covered = {}
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(plans_dir, fname)) as f:
            lines = [line.strip() for line in f]
        starts: dict[tuple[str, ...], list[int]] = {}
        for i in range(len(lines) - 5):
            window = tuple(lines[i:i + 6])
            if sum(not trivial(line) for line in window) >= 5:
                starts.setdefault(window, []).append(i)
        covered[fname] = len({i + j for found in starts.values()
                              if len(found) > 1
                              for i in found for j in range(6)})
    assert sum(covered.values()) <= _REPEATED_WINDOW_CEILING, covered


def test_no_round_test_files_or_single_use_engine_names():
    """Tests are grouped by family or module, never by the round that
    wrote them (test_round3.py is the last still to fold in, and no other
    `test_round*.py` may appear); and every top-level function, class or
    constant under etl_docker_spark/ is used: its name occurs
    (word-bounded) at least twice across the tree's .py files,
    `__init__.py` re-exports not counted, so a definition nothing reads
    shows up here."""
    import ast
    import collections
    import glob
    import os

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(tests_dir)
    round_files = {os.path.basename(p) for p in
                   glob.glob(os.path.join(tests_dir, "test_round*.py"))}
    assert round_files <= {"test_round3.py"}, round_files

    sources = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith(".") and d != "__pycache__"]
        for fname in filenames:
            if fname.endswith(".py") and fname != "__init__.py":
                path = os.path.join(dirpath, fname)
                with open(path, encoding="utf-8") as f:
                    sources[path] = f.read()
    engine_dir = os.path.join(root, "etl_docker_spark") + os.sep
    defined = set()
    for path, src in sources.items():
        if not path.startswith(engine_dir):
            continue
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defined.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                defined.update(n.id for tgt in targets for n in ast.walk(tgt)
                               if isinstance(n, ast.Name))
    counts = collections.Counter(
        re.findall(r"\w+", "\n".join(sources.values())))
    single_use = sorted(n for n in defined
                        if not n.startswith("__") and counts[n] < 2)
    assert not single_use, single_use


def test_state_partitions_for_sizes_by_source_bytes(spark, tmp_path):
    """~512 KB of events parquet per state store, clamped to [1, cores]:
    one store on the smoke corpus, `min(cores, k)` for a ~k x 512 KB
    events.parquet directory. `stream_state_partitions` scopes that count
    as the shuffle width, or the session's with `session_width=True`."""
    from etl_docker_spark.plans._util import (_state_partitions_for,
                                              stream_state_partitions)

    assert _state_partitions_for(spark, SF_SMOKE) == 1
    cores = spark.sparkContext.defaultParallelism
    for k in (2, 3, cores + 2):
        sf = tmp_path / f"k{k}"
        events = sf / "events.parquet"
        events.mkdir(parents=True)
        for i in range(k):
            with open(events / f"part-{i}.parquet", "wb") as f:
                f.truncate(512 * 1024)
        assert _state_partitions_for(spark, str(sf)) == min(cores, k)
    key = "spark.sql.shuffle.partitions"
    with stream_state_partitions(spark, SF_SMOKE):
        assert spark.conf.get(key) == "1"
    with stream_state_partitions(spark, SF_SMOKE, session_width=True):
        assert spark.conf.get(key) == str(cores)
