"""Scale-path operators: salted aggregation equivalence, bucketed
co-located joins (plan-shape assertions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.operators.skew import salted_agg
from multi_source_financial_data_pipeline_spark.sources import load_table
from multi_source_financial_data_pipeline_spark.sources.bucketing import (
    colocated_join,
    write_bucketed,
)


def test_salted_agg_matches_direct_groupby(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    aggs = {
        "n_events": ("count", F.lit(1)),
        "sum_value": ("sum", F.col("value").cast("decimal(12,2)")),
        "min_value": ("min", F.col("value")),
        "max_value": ("max", F.col("value")),
    }
    salted = salted_agg(ev, ["event_type"], aggs, num_salts=8)
    direct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    key = lambda rows: {r["event_type"]: r for r in rows}
    got, want = key(salted.collect()), key(direct.collect())
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k]


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    try:
        salted_agg(ev, ["event_type"], {"bad": ("avg", F.col("value"))})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "not decomposable" in str(e)


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """K1's partitionBy('ticker') replaces the reference's (ticker, date)
    b-tree index: a ticker filter must prune to one partition directory."""
    from multi_source_financial_data_pipeline_spark.sources.sinks import (
        write_partitioned,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumnRenamed("event_type", "ticker")
        .select("ticker", "event_id", "value")
    )
    path = str(tmp_path / "by_ticker")
    write_partitioned(ev, path, ["ticker"])
    scan = spark.read.parquet(path).filter(F.col("ticker") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the ticker predicate must land in PartitionFilters (directory pruning),
    # not in the row-level data filters
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "click" in pf, plan
    assert scan.count() == ev.filter(F.col("ticker") == "click").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", str(tmp_path / "o"), ["o_orderkey"], 8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        str(tmp_path / "l"),
        ["o_orderkey"],
        8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a merge join so the assertion is about bucketing, not size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, "b_lineitem", "b_orders", ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.mark.parametrize(
    "threshold", [None, "-1"], ids=["union_find", "distributed"]
)
def test_min_label_components_transitive_chain(spark, sf_dir, threshold):
    """A–B, B–C with no direct A–C edge: all three must map to A (fixpoint),
    and an unrelated pair D–E must map to D — the one-hop star-merge bug
    this operator replaces left C pointing at B. Run on both sides of the
    broadcast-budget switch: the default budget takes the driver-side
    union-find, a disabled one (-1) the distributed propagation loop."""
    from multi_source_financial_data_pipeline_spark.operators.dedup import min_label_components

    v = spark.createDataFrame(
        # 3-chain, isolated pair, and a 7-chain linked high-to-low to force
        # several propagation rounds (exercises the pointer-jumping path)
        [(1, 2), (2, 3), (10, 11)]
        + [(20 + i, 20 + i + 1) for i in range(6)],
        "id_a long, id_b long",
    )
    edges = v.unionByName(
        v.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("id"), F.col("id_b").alias("nb"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        got = {
            r["id"]: r["lbl"] for r in min_label_components(edges).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    expected.update({20 + i: 20 for i in range(7)})
    assert got == expected


def test_neardup_canonical_is_fixpoint(spark, sf_dir):
    """canonical_id must itself be canonical: mapping it again is identity."""
    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    out = QUERIES["neardup_verified"].fn(spark, sf_dir).select("doc_id", "canonical_id")
    remap = out.alias("x").join(
        out.alias("y"), F.col("x.canonical_id") == F.col("y.doc_id")
    )
    non_fixpoint = remap.filter(
        F.col("y.canonical_id") != F.col("x.canonical_id")
    ).count()
    assert non_fixpoint == 0
    # every canonical target exists as a doc_id (no dangling representative)
    dangling = out.alias("x").join(
        out.alias("y"),
        F.col("x.canonical_id") == F.col("y.doc_id"),
        "left_anti",
    ).count()
    assert dangling == 0


def test_ivf_index_partitioned_probe_prunes(spark, sf_dir, tmp_path):
    """The IVF deployment mode: the assignment is written partitionBy(cell)
    once, and a probe for one cell must prune to that cell's directory
    (PartitionFilters, not row filters) — this is what makes a probe read
    ~1/nlist of a 100 TB index instead of scanning it."""
    from multi_source_financial_data_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_assign(emb, nlist=8).select("vec_id", "v", "cell")
    path = str(tmp_path / "ivf_index")
    idx.write.partitionBy("cell").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("cell") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "3" in pf, plan
    assert probe.count() == idx.filter(F.col("cell") == 3).count()


def test_skew_split_join_matches_direct_join(spark, sf_dir):
    """Hot/cold split join must be result-identical to the direct join, with
    the hot keys on a broadcast path and the cold keys on a shuffle path."""
    from multi_source_financial_data_pipeline_spark.operators.skew import skew_split_join

    # one pathologically hot key (80% of rows), many cold keys
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 < 4, F.lit(7)).otherwise(F.col("id") % 97).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 97).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
    )
    got = skew_split_join(left, right, ["k"], hot_threshold=500)
    want = left.join(right, ["k"])
    assert got.count() == want.count()
    assert (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )
    # left join keeps unmatched cold rows
    right_partial = right.filter(F.col("k") < 50)
    got_l = skew_split_join(left, right_partial, ["k"], hot_threshold=500, how="left")
    want_l = left.join(right_partial, ["k"], "left")
    assert got_l.count() == want_l.count()
    assert got_l.exceptAll(want_l).count() == 0
    # plan: hot path broadcast join present
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_sketch_aggregates_within_error_bounds(spark, sf_dir):
    """At 100 TB, exact distinct counts and exact quantiles are a full
    shuffle of the key space; HLL++ and Greenwald-Khanna sketches are
    one-pass, mergeable, and bounded-memory. Pin their accuracy contract
    against the exact answers so the sketch path is a *verified* substitute:
    approx_count_distinct's default rsd is 5%, approx_percentile is exact
    within the accuracy parameter's rank error."""
    ev = load_table(spark, sf_dir, "events")
    row = ev.select(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("event_id").alias("approx_events"),
        F.countDistinct("event_id").alias("exact_events"),
    ).collect()[0]
    assert abs(row.approx_users - row.exact_users) <= 0.05 * row.exact_users + 1
    assert abs(row.approx_events - row.exact_events) <= 0.05 * row.exact_events + 1

    # approx_percentile(accuracy=a): rank error <= n/a ranks off the exact
    n = ev.count()
    acc = 1000
    got = ev.select(
        F.percentile_approx("value", [0.5, 0.9], acc).alias("p")
    ).collect()[0]["p"]
    exact_sorted = [r.value for r in ev.select("value").orderBy("value").collect()]
    for q, v in zip([0.5, 0.9], got):
        lo = max(0, int((q - 1.5 / acc * 1) * n) - int(n / acc) - 1)
        hi = min(n - 1, int(q * n) + int(n / acc) + 1)
        assert exact_sorted[lo] <= v <= exact_sorted[hi], (q, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """At cluster scale, a selective filter on one shuffle-join side should
    become a runtime bloom filter on the other side's SCAN — rows drop
    before the exchange, not after. The size thresholds that gate injection
    are scaled to production scans, so force them to 0 and pin that this
    engine's join shapes are ELIGIBLE (nothing — hints, non-equi conditions,
    reused exchanges — blocks the optimizer from injecting)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = load_table(spark, sf_dir, "lineitem")
        j = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom filter built from the filtered side"
        assert "might_contain" in plan, "probe side scan not bloom-pruned"
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_set_ops_compile_to_semi_anti_joins(spark, sf_dir):
    """INTERSECT/EXCEPT must compile to hash semi/anti joins over
    pre-distincted sides — one shuffle each, no sort, no pair space. (The
    registered `user_setops` query computes same-table set algebra in one
    scan instead; this pins the operators themselves for the two-table
    case, where the join formulation is the right one.)"""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    ip = a.intersect(b)._jdf.queryExecution().executedPlan().toString()
    ep = a.subtract(b)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in ip and "CartesianProduct" not in ip
    assert "LeftAnti" in ep and "CartesianProduct" not in ep


def test_corrupt_file_tolerance(spark, sf_dir, tmp_path):
    """At 100 TB a scan WILL meet a truncated/corrupt object; the job must
    skip it and keep the good rows rather than die mid-stage.
    `spark.sql.files.ignoreCorruptFiles` is the scan-level contract."""
    good = load_table(spark, sf_dir, "nation")
    n_good = good.count()
    d = tmp_path / "mixed"
    good.write.mode("overwrite").parquet(str(d))
    (d / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a parquet file")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(str(d)).count() == n_good
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """Long-lived datasets grow columns; old files must remain readable next
    to new ones. mergeSchema unions the file schemas and null-fills the
    column missing from older files."""
    base = load_table(spark, sf_dir, "nation")
    d = tmp_path / "evolving"
    base.select("n_nationkey", "n_name").write.parquet(str(d / "v1"))
    base.select(
        "n_nationkey", "n_name", F.lit("tier-1").alias("tier")
    ).write.parquet(str(d / "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(d / "v1"), str(d / "v2")
    )
    assert set(merged.columns) == {"n_nationkey", "n_name", "tier"}
    n = base.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("tier").isNull()).count() == n


def test_ivf_index_cache_invalidates_on_source_change(spark, tmp_path):
    """`_ensure_ivf_index` must rebuild when the source embeddings parquet
    changes (mtime/size identity in the marker) and reuse the cached index
    when it does not — a stale cell assignment would silently serve results
    for the previous corpus."""
    import os
    import shutil

    from multi_source_financial_data_pipeline_spark.plans import llmdata

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                os.path.join(sf_dir, "embeddings.parquet"))

    idx1 = llmdata._ensure_ivf_index(spark, sf_dir)
    marker = os.path.join(idx1, "_built.json")
    mtime1 = os.path.getmtime(marker)

    # unchanged source -> reuse (marker untouched)
    assert llmdata._ensure_ivf_index(spark, sf_dir) == idx1
    assert os.path.getmtime(marker) == mtime1

    # touch the source -> identity changes -> rebuild (marker rewritten)
    os.utime(os.path.join(sf_dir, "embeddings.parquet"))
    llmdata._ensure_ivf_index(spark, sf_dir)
    assert os.path.getmtime(marker) > mtime1


def test_ivf_index_keeps_concurrent_winners_fresh_build(spark, tmp_path,
                                                        monkeypatch):
    """If a concurrent builder lands an index with the SAME identity while
    we build, the swap must keep the winner's directory (live lazy plans may
    already reference its parquet paths) and discard ours — never rename a
    FRESH index to .stale and rmtree it (r06 ADVICE race)."""
    import json
    import os
    import shutil

    from multi_source_financial_data_pipeline_spark.operators import similarity
    from multi_source_financial_data_pipeline_spark.plans import llmdata

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                os.path.join(sf_dir, "embeddings.parquet"))

    idx = llmdata._ensure_ivf_index(spark, sf_dir)
    # force a rebuild: new source identity
    os.utime(os.path.join(sf_dir, "embeddings.parquet"))

    real_build = similarity.build_ivf_index

    def winner_races_us(
        spark_, df, build_dir, nlist, two_level=False, coarse_centers=None
    ):
        real_build(
            spark_, df, build_dir, nlist=nlist, two_level=two_level,
            coarse_centers=coarse_centers,
        )
        # simulate the concurrent winner: an identical-identity index lands
        # at index_dir before our swap, with a sentinel proving it survives
        shutil.rmtree(idx)
        shutil.copytree(build_dir, idx)
        src = os.path.join(sf_dir, "embeddings.parquet")
        st = os.stat(src)
        ident = {"src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
                 "nlist": llmdata.IVF_NLIST, "two_level": False}
        with open(os.path.join(idx, "_built.json"), "w") as fh:
            json.dump(ident, fh)
        open(os.path.join(idx, "_winner_sentinel"), "w").close()

    monkeypatch.setattr(similarity, "build_ivf_index", winner_races_us)
    out = llmdata._ensure_ivf_index(spark, sf_dir)
    assert out == idx
    # the winner's files were NOT replaced, and our build dir was cleaned up
    assert os.path.exists(os.path.join(idx, "_winner_sentinel"))
    leftovers = [d for d in os.listdir(os.path.dirname(idx))
                 if ".build." in d or ".stale." in d]
    assert leftovers == []


def test_ivf_cache_root_survives_root_removal_race(monkeypatch):
    """TOCTOU: the cache root vanishing between the failed mkdir and the
    lstat must fall through to the private mkdtemp fallback, not crash
    (r06 ADVICE)."""
    import os

    from multi_source_financial_data_pipeline_spark.plans import llmdata

    real_mkdir = os.mkdir

    def mkdir_then_vanish(path, *a, **kw):
        # only the predictable uid-suffixed root; mkdtemp's random-suffixed
        # fallback dirs must still be creatable
        if str(path).endswith(f"msfdp_ivf_index_{os.getuid()}"):
            raise FileExistsError(path)  # someone created it first...
        return real_mkdir(path, *a, **kw)

    def lstat_gone(path, *a, **kw):
        raise FileNotFoundError(path)  # ...and it is gone by the lstat

    monkeypatch.setattr(os, "mkdir", mkdir_then_vanish)
    monkeypatch.setattr(os, "lstat", lstat_gone)
    monkeypatch.setattr(llmdata, "_FALLBACK_CACHE_ROOT", None)
    root = llmdata._ivf_cache_root()
    assert os.path.isdir(root)
    assert os.path.basename(root).startswith("msfdp_ivf_index_")


def test_incremental_partition_refresh_matches_full_recompute(spark, sf_dir, tmp_path):
    """The incremental-ETL contract at 100 TB: when late data lands for ONE
    day, re-aggregate that day only and dynamically overwrite its rollup
    partition — every other partition's files stay untouched — and the
    result must equal a full recompute. partitionOverwriteMode=dynamic is
    what makes the write surgical (static mode would truncate the whole
    table)."""
    import os

    rollup_path = str(tmp_path / "rollup")
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value", "event_id"
    )
    cutoff_day = "2024-01-20"
    base = ev.filter(F.col("day") != F.lit(cutoff_day).cast("date"))
    late = ev.filter(F.col("day") == F.lit(cutoff_day).cast("date"))

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )

    rollup(base).write.mode("overwrite").partitionBy("day").parquet(rollup_path)
    untouched = {
        d: sorted(os.listdir(os.path.join(rollup_path, d)))
        for d in os.listdir(rollup_path)
        if d.startswith("day=") and cutoff_day not in d
    }

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the incremental refresh recomputes ONLY the affected day
        rollup(late).write.mode("overwrite").partitionBy("day").parquet(rollup_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # other partitions' files are bit-identical (not rewritten)
    for d, files in untouched.items():
        assert sorted(os.listdir(os.path.join(rollup_path, d))) == files, d
    got = (
        spark.read.parquet(rollup_path)
        .select("day", "event_type", "n", "sum_value")
        .orderBy("day", "event_type")
        .collect()
    )
    want = rollup(ev).orderBy("day", "event_type").collect()
    assert got == want


def test_compaction_preserves_data_and_reduces_files(spark, sf_dir, tmp_path):
    """Small-files remediation: a fragmented table (one file per input
    partition) compacts to target file count via repartition + overwrite;
    the row multiset is unchanged. At 100 TB this is the maintenance job
    that keeps scan task counts sane."""
    import os

    frag = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_before >= 32

    compacted = str(tmp_path / "compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compacted)
    n_after = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_after <= 4

    a = spark.read.parquet(frag).orderBy("event_id").collect()
    b = spark.read.parquet(compacted).orderBy("event_id").collect()
    assert a == b


def test_lsh_max_bucket_size_guards_hot_buckets(spark):
    """The production skew guard: a degenerate bucket (many docs sharing
    one band signature) is dropped when over the cap, so candidate pairs
    stay bounded by cap²·n_buckets instead of k² — while organic buckets
    are untouched and the default (None) preserves every pair."""
    from multi_source_financial_data_pipeline_spark.operators import dedup

    # 40 docs with IDENTICAL signatures (one hot bucket) + 2 organic dups
    rows = [(i, *[7] * 8) for i in range(40)] + [
        (100, *[9] * 8), (101, *[9] * 8),
    ]
    sig = spark.createDataFrame(
        rows, ["doc_id"] + [f"mh{j}" for j in range(8)]
    )
    uncapped = dedup.lsh_candidate_pairs(sig).count()
    capped = dedup.lsh_candidate_pairs(sig, max_bucket_size=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert uncapped == 40 * 39 // 2 + 1
    assert got == {(100, 101)}  # hot bucket dropped, organic pair kept


def test_zorder_layout_prunes_2d_boxes(spark, sf_dir, tmp_path):
    """Measured file-level pruning: the same events written (a) Z-ordered
    by (user, day) and (b) range-sorted by user only, 16 files each. A
    day-window predicate can prune NOTHING in the user-sorted layout
    (every file spans all days) but skips every non-intersecting Morton
    box — while a pure user-range predicate still prunes fine in both.
    Pruning is evaluated exactly as a reader would: against each file's
    (min, max) column statistics."""
    from pyspark.sql import functions as F

    from multi_source_financial_data_pipeline_spark.operators import layout
    from multi_source_financial_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("2024-01-01"))
        ).alias("di"),
        "value",
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    layout.write_zordered(
        ev, zpath, F.col("user_id"), F.col("di"), bits=12, num_files=16
    )
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def touched(path, u_lo, u_hi, d_lo, d_hi):
        stats = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
                F.min("di").alias("d0"), F.max("di").alias("d1"),
            )
            .collect()
        )
        hit = sum(
            1 for r in stats
            if not (r.u1 < u_lo or r.u0 > u_hi or r.d1 < d_lo or r.d0 > d_hi)
        )
        return hit, len(stats)

    # day-window, all users: the 1-D layout cannot prune at all (file
    # counts may differ slightly — range sampling merges sparse ranges —
    # so compare touched FRACTIONS)
    z_day, z_total = touched(zpath, 0, 1 << 30, 8, 15)
    l_day, l_total = touched(lpath, 0, 1 << 30, 8, 15)
    assert l_day == l_total  # user-sorted files all span the day window
    # Relative contract (scale-robust): the Z-order layout must strictly
    # beat the 1-D layout on the day window, with a real margin — at
    # least 2 of its files skip entirely. (A fixed <=0.5 fraction was
    # calibrated at the default fixture scale and broke at sf0.01, where
    # the Morton tile geometry intersects more of the day window even
    # though Z-order still prunes and the 1-D layout cannot.)
    assert z_day <= z_total - 2, (z_day, z_total)
    assert z_day / z_total < l_day / l_total, (z_day, z_total, l_day, l_total)
    # user-range-only: both layouts prune (z-order gives up little)
    z_usr, _ = touched(zpath, 20, 60, -(1 << 30), 1 << 30)
    l_usr, _ = touched(lpath, 20, 60, -(1 << 30), 1 << 30)
    assert l_usr < l_total and z_usr < z_total


def test_bloom_filter_survives_storage_roundtrip(spark, tmp_path):
    """The deployment shape: build the filter ONCE, persist it, ship it to
    any later job — probing a parquet-roundtripped filter must flag
    exactly the same keys as the in-memory build (pins array<long>
    serialization and that membership depends only on the words, not on
    build-session state)."""
    from pyspark.sql import functions as F

    from multi_source_financial_data_pipeline_spark.operators import dedup

    m_bits, k = 4096, 4
    keys = spark.range(200).select(
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("s")
    )
    bloom = dedup.bloom_build(keys, "s", m_bits, k)
    path = str(tmp_path / "bloom")
    bloom.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    probes = spark.range(400).select(
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("s")
    )

    def flags(b):
        return {
            r["s"]: r["hit"]
            for r in probes.crossJoin(F.broadcast(b))
            .select(
                "s",
                dedup.bloom_member(
                    F.col("s"), F.col("bloom_words"), m_bits, k
                ).alias("hit"),
            )
            .collect()
        }

    mem, disk = flags(bloom), flags(reloaded)
    assert mem == disk
    # inserted half all positive; uninserted half mostly negative
    assert all(mem[f"g{i}"] for i in range(200))
    fp = sum(mem[f"g{i}"] for i in range(200, 400))
    assert fp < 40, f"implausible FP count {fp} for this geometry"


def test_r17_model_caches_invalidate_on_source_and_geometry(spark, tmp_path):
    """The two r17 `_ensure` caches inherit the ivf-index contract: reuse
    while the source and hyperparameters are unchanged, rebuild when the
    source parquet is touched, and key the MANIFEST cache's identity on
    the churn geometry (the dirty sweep swaps MAN_DIRTY_* per leg — a
    stale old-side index built under different churn would silently
    certify the wrong shards clean)."""
    import os
    import shutil

    from multi_source_financial_data_pipeline_spark.plans import llmdata

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                os.path.join(sf_dir, "documents.parquet"))

    for ensure in (llmdata._ensure_lr_model, llmdata._ensure_manifest_index):
        idx = ensure(spark, sf_dir)
        marker = os.path.join(idx, "_built.json")
        mtime1 = os.path.getmtime(marker)
        assert ensure(spark, sf_dir) == idx
        assert os.path.getmtime(marker) == mtime1
        os.utime(os.path.join(sf_dir, "documents.parquet"))
        ensure(spark, sf_dir)
        assert os.path.getmtime(marker) > mtime1

    # geometry rides in the manifest ident: swapping the churn constants
    # must rebuild even with the source untouched
    marker = os.path.join(
        llmdata._ensure_manifest_index(spark, sf_dir), "_built.json"
    )
    mtime1 = os.path.getmtime(marker)
    saved = (llmdata.MAN_DIRTY_MOD, llmdata.MAN_DIRTY_SEL)
    try:
        llmdata.MAN_DIRTY_MOD, llmdata.MAN_DIRTY_SEL = 2, 0
        llmdata._ensure_manifest_index(spark, sf_dir)
        assert os.path.getmtime(marker) > mtime1
    finally:
        llmdata.MAN_DIRTY_MOD, llmdata.MAN_DIRTY_SEL = saved


def test_token_lr_score_guards_bucket_mismatch(spark, sf_dir):
    """A model served at the wrong hash modulus scores against the wrong
    feature space SILENTLY — the row-count guard must make it loud."""
    import pytest

    from multi_source_financial_data_pipeline_spark.operators import text
    from multi_source_financial_data_pipeline_spark.plans import llmdata
    from multi_source_financial_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    label = text.stopword_ratio(F.col("text")) >= llmdata.LRC_TAU
    model = text.token_lr_train(docs, label, buckets=8, steps=1)
    with pytest.raises(ValueError, match="expected buckets"):
        text.token_lr_score(docs, model, label, buckets=16)
