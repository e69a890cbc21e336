"""Physical-plan audits — the scale properties enforced, not just claimed.

A query can be value-correct and still carry a plan that dies at 100 TB:
an unpushed filter re-scans the table, a missed broadcast shuffles a fact
against a dim, a cartesian product explodes. These tests read the ACTUAL
plans Catalyst produces for the registry queries and assert the properties
the BENCH/SURVEY notes promise, so a refactor that silently degrades a plan
fails CI instead of a future benchmark round.
"""

import pytest

import __spark_entry__ as entrymod

# Operators whose construction runs driver-side jobs (iterative barriers,
# bounded-graph collects) — their inner per-stage plans are asserted by
# their own tests; the registry sweep here checks the pure-plan entries.
_ITERATIVE = {
    "d08_dup_clusters",
    "q31_closeness",
    "q32_max_flow",
    "q32b_flow_invariants",
    "q28_pagerank",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )


@pytest.mark.parametrize(
    "name", sorted(set(entrymod.queries()) - _ITERATIVE)
)
def test_no_cartesian_products(spark, sf_dir, name):
    """No plan may contain a CartesianProduct: every intentional cross join
    in the registry is against a broadcast-small frame and must plan as
    BroadcastNestedLoopJoin, never a shuffled cartesian."""
    df = entrymod.queries()[name](spark, sf_dir)
    assert "CartesianProduct" not in _plan(df), name


def test_q01_filter_pushdown_and_partial_agg(spark, sf_dir):
    """The shipdate filter must reach the parquet scan (PushedFilters) and
    the aggregate must be partial+final (map-side combine before the
    exchange) — the two properties that keep a 100 TB scan+agg viable."""
    plan = _plan(entrymod.queries()["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:300]
    assert plan.count("HashAggregate") >= 2, "expected partial+final aggregation"


def test_q02_broadcasts_dims(spark, sf_dir):
    """nation/region/customer-side dims must broadcast — a shuffle join of
    the fact table against a 25-row dim is the classic scale bug."""
    plan = _plan(entrymod.queries()["q02_revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_q03_column_pruning(spark, sf_dir):
    """The rolling-window top-parts query touches 3 lineitem columns; the
    scan's ReadSchema must not drag the rest of the table through IO."""
    plan = _plan(entrymod.queries()["q03_rolling_90d_top_parts"](spark, sf_dir))
    read = plan.split("ReadSchema", 1)[1][:400]
    for needed in ("l_partkey", "l_shipdate"):
        assert needed in read, f"{needed} missing from ReadSchema"
    for pruned in ("l_returnflag", "l_linestatus", "l_tax", "l_orderkey"):
        assert pruned not in read, f"{pruned} not pruned from scan"


def test_d01_partial_agg_on_hash(spark, sf_dir):
    """Exact dedup is a hash groupBy: map-side partial aggregation must
    collapse duplicates before the one exchange."""
    plan = _plan(entrymod.queries()["d01_exact_dedup"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # group shuffle (+AQE reuse at most)


def test_e06_zero_shuffle(spark, sf_dir):
    """Quantization is a pure narrow projection — the COMPUTATION may not
    require any hash/range exchange. A round-robin input spread (io.spread)
    is permitted: it only appears on degenerate single-split local inputs
    and is a no-op on real multi-split layouts."""
    plan = _plan(entrymod.queries()["e06_quantize_int8"](spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_d10_zero_shuffle(spark, sf_dir):
    plan = _plan(entrymod.queries()["d10_train_split"](spark, sf_dir))
    assert "Exchange" not in plan


def test_d09_single_window_exchange(spark, sf_dir):
    """Packing is one window partitioned by source: exactly one hash
    exchange (on source), no global sort."""
    plan = _plan(entrymod.queries()["d09_sequence_packing"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan, "global sort crept into packing"


def test_silver_merge_reads_prune_buckets(spark, tmp_path):
    """The CDC merge's target scan must list only touched-bucket files —
    the manifest prune that keeps per-epoch cost O(changes), checked at the
    plan's file-source level."""
    from citibike_pipeline_spark.lake import LakeCatalog
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("v", StringType(), True),
            StructField("op", StringType(), False),
            StructField("lsn", LongType(), False),
        ]
    )
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("ns.prune", schema, key_cols=["k"], n_buckets=8)
    rows = [(f"k{i}", "v", "I", i) for i in range(64)]
    t.append(spark.createDataFrame(rows, schema))
    pruned = t.read(buckets=[0, 1])
    files = pruned.inputFiles()
    all_files = t.read().inputFiles()
    assert 0 < len(files) < len(all_files)
    assert all("_bucket=0" in f or "_bucket=1" in f for f in files)


def test_e10_fine_search_broadcasts_probe_set(spark, sf_dir):
    """IVF fine search: the tiny probed-list set must broadcast against the
    corpus side; a shuffle join here would move the whole corpus per query
    batch."""
    plan = _plan(entrymod.queries()["e10_kmeans_ivf_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_e09_centroids_travel_as_broadcast_data(spark, sf_dir):
    """k-means consumers ship centroids as DATA — since r6 in the pandas-UDF
    task closure (ArrowEvalPython assignment; bit-identical fold+tiebreak,
    see embeddings._np_assign_cid_udf) — never as per-iteration literal
    expressions (which recompile whole-stage codegen every Lloyd round) and
    never as a cartesian product or shuffle join of the corpus."""
    plan = _plan(entrymod.queries()["e09_kmeans_centroids"](spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan[-2000:]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def _physical(plan: str) -> str:
    return plan[plan.index("== Physical Plan =="):]


def test_q34_scd2_single_exchange(spark, sf_dir):
    """The SCD2 build must share ONE hash exchange (on user_id) between the
    LWW tie window and the interval window — the textbook two-window form
    shuffles twice (once on (user_id, ts), once on user_id), which doubles
    the shuffle of the whole dimension build at scale."""
    plan = _physical(_plan(entrymod.queries()["q34_scd2_history"](spark, sf_dir)))
    assert plan.count("+- Exchange") == 1, plan
    assert plan.count("Window") >= 2


def test_q35_asof_single_exchange_no_join(spark, sf_dir):
    """The as-of enrichment is union-and-window: exactly one hash exchange
    on the entity key and NO join operator at all — no range explode, no
    broadcast of a state side that is fact-sized at 100 TB."""
    plan = _physical(_plan(entrymod.queries()["q35_asof_enrich"](spark, sf_dir)))
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_d15_zero_shuffle(spark, sf_dir):
    """Structural quality rules are pure per-row expressions: the plan must
    be a single scan stage with no exchange anywhere."""
    plan = _physical(_plan(entrymod.queries()["d15_quality_rules"](spark, sf_dir)))
    assert "Exchange" not in plan, plan


def test_d17_no_join_two_exchanges(spark, sf_dir):
    """Global line dedup: the keep decision is row_number()==1 over the line
    partition (no join back), so the plan is explode -> ONE exchange on the
    line -> ONE exchange on doc_id for reassembly — and the rank-under-limit
    shape must produce a partial WindowGroupLimit BEFORE the exchange so hot
    boilerplate lines collapse map-side (round-5 verdict #1)."""
    plan = _physical(_plan(entrymod.queries()["d17_line_dedup"](spark, sf_dir)))
    assert plan.count("+- Exchange") == 2, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_e12_adc_broadcasts_distance_table(spark, sf_dir):
    """ADC: the |Q| x M x ksub distance table must broadcast against the
    corpus-side codes; a shuffle or sort-merge join here would move the
    whole codes table per query batch."""
    plan = _physical(_plan(entrymod.queries()["e12_pq_adc_topk"](spark, sf_dir)))
    assert "BroadcastHashJoin" in plan, plan[-2000:]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
