"""Physical-plan assertions: the scale claims hold in the actual plans.
"""

from __future__ import annotations

from indonesian_id_ocr_service_spark.plans import audit
from indonesian_id_ocr_service_spark import queries as Q
from indonesian_id_ocr_service_spark import queries_data as QD

SF = "/root/testdata/sf0.001"


def test_extraction_path_is_shuffle_free(spark):
    """kernel input → mapInArrow kernel → span assembly must contain NO
    Exchange: one row per doc, narrow all the way."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL,
        doc_rows,
    )
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    rows = list(doc_rows(10, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    out = run_pipeline(df)
    assert audit.count_exchanges(out) == 0, audit.simple_plan(out)[:2000]


def test_e2e_query_single_intentional_exchange(spark):
    """The e2e oracle query is: ids scan → mapInPandas fixture build →
    ONE hash repartition on doc_id (test-scale parallelism; at 100 TB
    the file splits provide it) → the zero-shuffle extraction chain →
    explode. Anything beyond that one Exchange means the pipeline grew
    a shuffle."""
    from indonesian_id_ocr_service_spark import queries_e2e as QE

    for q in (QE.q_ktp_extraction_e2e, QE.q_sim_extraction_e2e):
        df = q(spark, SF)
        plan = audit.simple_plan(df)
        assert audit.count_exchanges(df) == 1, plan[:2000]
        assert "hashpartitioning(doc_id" in plan, plan[:2000]


def test_dim_join_broadcasts(spark):
    df = Q.q_broadcast_dim_join(spark, SF)
    assert audit.has_broadcast_join(df)
    assert not audit.has_sort_merge_join(df)


def test_filter_pushdown_reaches_scan(spark):
    df = Q.q_date_3digit_year(spark, SF)
    pushed = audit.pushed_filters(df)
    # the year(o_orderdate) < 1999 predicate must reach the scan and the
    # scan must read only o_orderdate
    assert "PushedFilters" in pushed
    assert "o_orderdate" in pushed
    assert "o_totalprice" not in pushed  # column pruning


def test_dedup_verified_semi_join_prunes_shingles(spark):
    """The verify stage of the composed dedup pipeline must NOT ship the
    full shingle table into the pair joins: the shingle side carries a
    LeftSemi against the candidate-id set, so only candidate docs'
    shingle arrays enter the verify shuffle (the 100-TB scale claim)."""
    df = QD.q_dedup_verified(spark, SF)
    plan = audit.simple_plan(df)
    assert "LeftSemi" in plan, plan[:3000]


def test_dedup_verified_reuses_candidate_pairs(spark):
    """The LSH banding stage (mapInPandas + band self-join) must
    execute ONCE: `pairs` feeds three consumers and is persisted, so
    the plan shows InMemoryRelation at every consumption site and the
    banding kernel appears only inside the cached subtree."""
    df = QD.q_dedup_verified(spark, SF)
    plan = audit.simple_plan(df)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, \
        plan[:3000]
    # the banding mapInPandas must not appear outside the cached
    # subtree: each InMemoryRelation block repeats the cached plan, so
    # count occurrences per consumer-scan instead — every MapInPandas
    # mention must be nested under an InMemoryRelation
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "MapInPandas" in ln or "mapInPandas" in ln:
            assert any("InMemory" in prev for prev in lines[:i]), \
                "banding kernel executes outside the cached subtree"


def test_minhash_lsh_single_kernel_no_join(spark):
    """LSH pairing is groupBy (band, key) → in-bucket pair explosion:
    the signature kernel must appear exactly ONCE in the plan (the old
    self-join form executed it once per join side), no join operator
    remains, and the band rows shuffle through the grouping + the final
    distinct only."""
    df = QD.q_minhash_lsh(spark, SF)
    plan = audit.simple_plan(df)
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "HashAggregate" in plan and "Generate" in plan, plan[:2000]


def test_rollup_single_expand_pass(spark):
    """ROLLUP must be one Expand + hash aggregate — not a union of
    per-level scans."""
    df = Q.q_rollup_pricing(spark, SF)
    plan = audit.simple_plan(df)
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_ann_ivf_ids_only_candidate_shuffle(spark):
    """The IVF candidate join must carry ids/cells only — vectors join
    back after the candidate cut, query side broadcast."""
    df = QD.q_ann_ivf(spark, SF)
    plan = audit.simple_plan(df)
    assert "BroadcastHashJoin" in plan
    # the cell join's build side is the probe assignment (query_id,
    # cell) — no embedding column may appear in the bucket kernels
    import re
    m = re.findall(r"MapInPandas.*", plan)
    assert m and all("embedding" not in s for s in m), m[:2]
