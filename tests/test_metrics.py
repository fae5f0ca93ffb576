"""Runtime shuffle-bytes ledger (leader_graph_spark/metrics.py) and the
per-headline-query byte budgets.

Wall-clock on local[32] has a ~0.5s floor that hides the costs that
dominate at cluster scale; shuffle BYTES don't. These budgets pin, for
every headline bench query at smoke scale, that (a) the shuffle volume
stays within the measured envelope (x2 headroom over the round-7
measurement so data jitter never flakes, tight enough that an
accidental broadcast->shuffle regression or a lost prefix filter blows
the budget), (b) nothing spills to disk, and (c) the number of
driver-side actions (jobs — each a full scheduling barrier on a real
cluster) stays bounded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.metrics import measure_query
from leader_graph_spark.plans import bench_queries

# (total shuffle MB read+write, jobs) budgets per headline query,
# measured at sf0.001 in round 7 and given ~2x / +30% headroom.
BENCH_BUDGETS: dict[str, tuple[float, int]] = {
    "ann_lsh_topk": (4.5, 10),
    "containment_near_dup_pairs": (5.3, 15),
    "corpus_release_manifest": (3.1, 21),
    "curated_pretrain_mix": (2.0, 25),
    # round-10 bench-set widening: the three sf1-heaviest regimes join
    # the per-round guard (VERDICT r9 Next #7); measured at sf0.001
    # in round 10 (0.0 MB / 3 jobs — broadcast-only at smoke scale)
    "current_colleague_customers": (0.5, 5),
    # round-8 min_propagation static scope: measured 15
    "dedup_canonical_docs": (1.1, 22),
    "dup_span_coverage": (2.5, 10),
    "events_tumbling_hourly": (0.2, 5),
    "flagship_colleagues_bucketed": (0.1, 8),
    "flagship_colleagues_interval": (0.1, 8),
    "funnel_view_click_purchase": (0.2, 5),
    # round-10 widening: measured 0.05 MB / 5 jobs at sf0.001
    "hourly_gap_filled_series": (0.2, 7),
    "image_phash_codec_roundtrip": (0.01, 4),
    # probes fused into checkpoint jobs + driver-side quotient
    # union-find (round 7): 105 -> 62 and 17 -> 13 driver actions;
    # static-loop execution (round 8) cut the AQE sub-jobs: measured 38
    "incremental_component_merge": (1.3, 48),
    # delta-degree peel: the loop carries (vertex, degree) and
    # subtracts only the removed vertices' edges, with no confirmation
    # round or terminal re-aggregation; measured 0.19 MB / 7 jobs
    "kcore_copurchase": (0.4, 9),
    "local_supplier_volume": (0.05, 17),
    "minhash_near_dup_docs": (1.0, 8),
    # round-8 array-form verify trades ~1.5 MB more smoke-scale shuffle
    # (sets collected once per side) for the sublinear third decade
    "ngram_jaccard_prefix_filtered": (6.0, 16),
    # round-8 static-loop scope halved the AQE sub-jobs: measured 36
    "personalized_pagerank_regions": (0.2, 45),
    "pricing_summary": (0.05, 5),
    # r11 hot-school skew guard (skew_guarded_self_pairs): +1 job for
    # the study checkpoint and +broadcast builds of the (empty at this
    # scale) hot-group set; measured 0.054 MB / 9 jobs at sf0.001.
    "schoolmates_shared_part": (0.3, 10),
    "shipping_priority_top10": (0.1, 10),
    # round-10 widening: measured 0.35 MB / 5 jobs at sf0.001
    "simhash_near_dup_pairs": (0.8, 7),
    # round-10 widening: adjacency-intersection triangles, measured
    # 0.085 MB / 16 jobs at sf0.001
    "supplier_clustering_coefficients": (0.2, 21),
    "supplier_nation_reach": (0.05, 16),
    "user_state_scd2": (0.2, 6),
    # round-10 widening: delta-frontier Bellman-Ford, measured
    # 1.63 MB / 15 jobs at sf0.001; r10 opt: the size-guarded frontier
    # broadcast cuts sf0.1 shuffle 110 -> 24 MB but adds one broadcast
    # build job per round (22 = 6 rounds x (ckpt + bcast) + prologue)
    "weighted_sssp_copurchase": (3.3, 22),
}


def test_budget_table_covers_every_bench_query():
    assert sorted(BENCH_BUDGETS) == sorted(bench_queries())


def test_measure_query_sees_shuffle(spark):
    led = measure_query(
        spark,
        lambda: spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count(),
    )
    assert led.shuffle_write_bytes > 0
    assert led.shuffle_read_bytes > 0
    assert led.jobs >= 1
    assert led.stages >= 2
    assert led.wall_sec > 0


def test_measure_query_no_shuffle_is_zero(spark):
    led = measure_query(spark, lambda: spark.range(1000).select("id"))
    assert led.shuffle_write_bytes == 0
    assert led.shuffle_read_bytes == 0
    assert led.jobs == 1


def test_measurements_are_isolated(spark):
    """Back-to-back measurements must not bleed into each other: the
    delta is taken by job/stage id high-water mark."""
    measure_query(
        spark,
        lambda: spark.range(500_000).groupBy((F.col("id") % 3).alias("k")).count(),
    )
    led = measure_query(spark, lambda: spark.range(10).select("id"))
    assert led.shuffle_write_bytes == 0
    assert led.jobs == 1


@pytest.mark.parametrize("name", sorted(BENCH_BUDGETS))
def test_bench_query_bytes_budget(spark, sf_smoke, name):
    spec = bench_queries()[name]
    led = measure_query(spark, lambda: spec.bench_spark(spark, sf_smoke)).as_dict()
    mb = led["shuffle_read_mb"] + led["shuffle_write_mb"]
    mb_budget, jobs_budget = BENCH_BUDGETS[name]
    assert mb <= mb_budget, f"{name}: {mb:.3f} shuffle MB > budget {mb_budget}"
    assert led["disk_spill_mb"] == 0, f"{name}: spilled {led['disk_spill_mb']} MB to disk"
    assert led["jobs"] <= jobs_budget, (
        f"{name}: {led['jobs']} driver actions > budget {jobs_budget}"
    )
