"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec | null, "unit": "sec",
"queries": {name: median_sec}, "reps": N,
"errors": {name: msg}, "sf": ..., "window": {...} | null} — "window" is
the record's own noise context: the median/quartile per-query ratio vs the
pinned BENCH_COMPARISON.json (see window_vs_comparison). The per-query
"min" floor (machine-noise forensics) rides only in BENCH_LOCAL.json so
the printed line stays inside the driver's output-tail capture (r18
VERDICT item 7).

Noise defense (r05 lesson: a busy shared host made a 1.3x round-over-round
delta unattributable): each query is timed REPS times AFTER an untimed warm
pass, the reported per-query number is the MEDIAN, the minimum is kept
alongside (min is the better machine-noise floor; median the better
expectation), and the headline total is the sum of medians. Reps are
INTERLEAVED (rep-major, not query-major) so a transient host burst lands on
one rep of many queries instead of all reps of one query.

Broken queries land in "errors" (never mixed into "queries", which stays
{name: float}); any error makes "value" null and the exit code nonzero so a
round-over-round comparison can't misread a shrunken total as a speedup.

Each query is fully evaluated with a noop sink (forces every column, unlike
count(), which lets Catalyst prune the projections we want measured).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES
from multi_source_financial_data_pipeline_spark.session import get_spark

HEADLINE = [
    "ts_features",
    "q1_pricing_summary",
    "q3_top_revenue",
    "q4_order_priority",
    "q5_region_revenue",
    "q7_shipping_volume",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "cross_source_compare",
    "dedup_keep_last",
    "missing_bdays",
    "zscore_outliers",
    "token_stats",
    "minhash_lsh_pairs",
    "simhash",
    "ann_topk",
    "ann_topk_ivf",
    "ann_topk_ivf_probe",
    "ivf_index_upsert_probe",
    "embedding_neardup",
    "lsh_neardup_pairs",
    "asof_join",
    "sessionize",
    "time_bucket_hourly",
    "range_join_nearby",
    "event_rollup_day",
    "q6_forecast_revenue",
    "funnel_conversion",
    "return_correlation",
    "vol_outliers",
    "neardup_verified",
    "curation_kept",
    "doc_repetition",
    "trailing_7d_sum",
    "sequence_packing",
    "gap_fill_ffill",
    "event_cube",
    "topn_orders_per_customer",
    "decontaminate_overlap",
    "cohort_retention",
    # round-5 additions
    "unigram_prob",
    "weekly_bars",
    "bars_4h",
    "rsi_bars_4h",
    "max_drawdown",
    # round-6 additions: the Python-heaviest operators in the repo (real
    # stdlib codecs through the Arrow batch boundary) + the weights->apply
    # resampling loop
    "media_real_decode",
    "media_real_resize",
    "mixture_resample",
    # round-6 wave 2: cell-scoped semantic dedup, bigram-LM scoring, the
    # MinHash estimator-accuracy harness
    "semdedup_kept",
    "semdedup_kept_probe",
    "bigram_prob",
    "minhash_accuracy",
    # round-7 additions: the two most complex previously-unbenchmarked
    # TPC-H shapes (q2's correlated-min window over a derived unit-price
    # relation; q11's reused-exchange grand total), the newest multi-stage
    # funnel, and the sliding-window stream
    "q2_min_cost_supplier",
    "q11_important_stock",
    "quality_filter_funnel",
    "stream_sliding_counts",
    # round-7 wave 2: the newest shuffle shapes — chunk explode + fp
    # exchange (boilerplate), bounded-histogram tiering (perplexity),
    # map-only regex scan (pii), iterative broadcast k-means, and the four
    # OHLC-bar indicator windows sharing one user exchange
    "chunk_boilerplate",
    "perplexity_buckets",
    "pii_scrub",
    "kmeans_refine",
    "atr_14",
    "obv",
    "stochastic_osc",
    "rolling_beta",
    # round-7 wave 3: hashed-feature importance weights, quantized-recall
    # harness (two brute passes), sketch distinct, grouped-map MACD fold,
    # the zero-exchange bucketed join, per-source KL divergence
    "dsir_weights",
    "sq8_recall",
    "kmv_distinct",
    # round-13: product quantization — per-subspace Lloyd training + the
    # broadcast-LUT ADC code scan, a plan shape nothing else exercises —
    # and its IVF composition (coarse probe prunes the code scan)
    "pq_recall",
    "ivfpq_recall",
    # round-14: the build/probe split — serving cost of the materialized
    # IVF-PQ index (broadcast codebook LUTs + partition-pruned code scan,
    # training amortized into the one-time build, not this row)
    "ann_topk_pq_probe",
    # round-18: the PQ half of incremental index maintenance — probe cost
    # of an index whose delta arrived coded-with-frozen-codebooks; should
    # track ann_topk_pq_probe (same probe plan, same geometry)
    "ann_topk_pq_upsert_probe",
    # round-15: the production-budget serving point (m=16 × 8-bit codes,
    # the first frontier budget with recall@10 ≥ 0.8) — the row that
    # proves serving stays ~1 s when the code budget is the useful one
    # (r14 VERDICT item 2); LUT is 16× larger than the 4-bit row's
    "ann_topk_pq256_probe",
    # round-16: the supervised training loop — hashed-feature linear
    # classifier trained by unrolled distributed gradient steps (broadcast
    # model + two quantized hash-agg folds per step over a dense
    # standardized feature frame) — a plan-shape family nothing else
    # exercises (kmeans_refine is the unsupervised analogue)
    "quality_classifier",
    # round-17: the classifier's serving split (VERDICT r16 item 3) — one
    # corpus scan + one broadcast model join + one quantized fold, the
    # steady-state deployment cost once the model is built; benched beside
    # the train-inline row so the training premium stays measured
    "quality_classifier_probe",
    # round-18: the production-width point (lr_width_pick's 2048) served
    # by the same width-independent sparse fold — benched beside the
    # 64-bucket probe so the width-independence claim stays measured
    "quality_classifier_wide",
    # round-18: the width-selection rule itself — one token scan, |V|-row
    # distinct, one hash agg across the candidate grid
    "lr_width_pick",
    # round-17: two-stage search-then-refine serving — the ADC shortlist
    # plan plus an exact-cosine re-rank fetching raw vectors partition-
    # pruned from the IVF index; the refine premium over ann_topk_pq_probe
    # is the row this measures
    "ann_topk_pq_rerank",
    # round-17: streaming retrieval — the stream-static index-join plan
    # class nothing else exercises (literal-quantizer probe + availableNow
    # drain + batch rank); wall is drain-dominated but bounded, and the
    # row keeps the only streaming-ANN composition measured
    "stream_ann_topk",
    # round-18: the production streaming-retrieval sink — per-micro-batch
    # top-k in foreachBatch to files; the gap to stream_ann_topk is the
    # price of NOT draining raw scored pairs to the driver
    "stream_ann_topk_sink",
    # round-16: residual serving from the materialized refined-quantizer
    # index (VERDICT r15 item 2) — the per-cell LUT probe join shape
    # (probes ⋈ center-dot LUT ⋈ residual LUT ⋈ per-cell norm LUT) that
    # neither raw-vector probe exercises, with training amortized into
    # the build like the other probe rows
    "ann_topk_pq_refined_probe",
    # round-15: the two-level manifest diff — read against snapshot_delta
    # (the row-level full-outer diff it prunes): manifest level is two
    # constant-state shard aggregates, the expensive join runs only over
    # the dirty-shard fraction
    "manifest_delta",
    # round-17: the persisted-manifest CDC serving shape — level 1 from
    # N_SHARDS persisted rows, level 2's old side from shard-partition-
    # pruned digest files, one new-side payload scan; benched beside the
    # recompute-both-sides form so the structural gap stays measured
    "manifest_delta_probe",
    # round-14: residual encoding (FAISS by_residual) — per-cell LUT
    # assembly is a join shape the raw-vector IVF-PQ row doesn't have
    "ivfpq_residual_recall",
    # round-14: Bloom-prefiltered decontamination (broadcast dense-word
    # filter + codegen bit-test membership — a map-only shape no other
    # sketch row has) and the full-outer CDC snapshot diff
    "bloom_decontaminate",
    # round-18: the filter's build/probe split — membership served from the
    # persisted 4 KB artifact with no eval-set re-shingle; the gap to the
    # bloom_decontaminate row is the build+audit premium
    "bloom_decontaminate_probe",
    "snapshot_delta",
    # round-14: the delta-run dedup composition (existing-index fp probe
    # + within-delta min-canonical, both hash joins on digests)
    "incremental_dedup",
    # round-18: deletion-aware repair — touched components' survivors
    # re-clustered with the full chain, scoped by the delete set; benched
    # beside incremental_dedup so both delta directions stay measured
    "dedup_after_delete",
    # round-14: distributed BPE merge training — 8 unrolled vocab-scale
    # pair-agg + argmax + greedy-merge iterations, a chained-lineage
    # shape (ReusedExchange across steps) nothing else exercises
    "bpe_merges",
    "macd_last",
    "bucketed_revenue",
    "source_kl",
    # round-7 wave 4: LSH-bounded Levenshtein verification, export manifest
    "editdist_verify",
    "shard_manifest",
    # round-7 wave 5: novelty curve (gram-window), CUSUM fold, readability
    # scan, containment pair join, forecast eval, norm audit
    "ngram_novelty",
    "cusum_drift",
    "readability",
    "containment_pairs",
    "seasonal_mase",
    "embedding_norm_audit",
    # round-8: the five r07 additions the VERDICT flagged as unbenched,
    # plus the reshaped histogram-cutoff queries and the Wilder folds
    "gap_fill_interp",
    "equi_depth_bins",
    "cluster_best_doc",
    "dedup_cluster_sizes",
    "stream_static_anti",
    "winsorized_stats",
    "rsi_14_wilder",
    "atr_14_wilder",
    # round-8: complete the TPC-H sweep (every one of the 22 shapes now has
    # its own bench row) and the salted-skew rollup demonstrator
    "q8_market_share",
    "q9_profit",
    "q12_ship_priority",
    "q13_order_distribution",
    "q16_part_supplier",
    "q17_small_qty_revenue",
    "q20_excess_suppliers",
    "q21_late_suppliers",
    "q22_dormant_customers",
    "skewed_event_rollup",
    # round-8: the new pure-stdlib PNG codec (zlib inflate + per-row filter
    # reconstruction) — the heaviest per-byte Python path in the repo
    "media_png_channel_stats",
    # round-9: the baseline JPEG codec (T.81 Huffman entropy decode + 8x8
    # IDCT) — the only entropy-coded format, a new per-byte cost class
    "media_jpeg_channel_stats",
    # round-9: ISO-BMFF box-walk demux (container metadata, no pixel cost)
    "media_mp4_metadata",
    # round-9: OGG page-walk demux (CRC per page, no codec cost)
    "media_ogg_stats",
    "media_vorbis_id",
    "media_aac_id",
    "media_h264_sps",
    "media_opus_id",
    # round-8: Morton-key locality audit (pure codegen bit arithmetic)
    "zorder_locality",
    # round-8: Count-Min sketch build + probe (second sketch family)
    "cms_heavy_hitters",
]

#: registry ↔ bench completeness contract (r07 VERDICT item 5): every
#: registered query is either in HEADLINE or exempted HERE with the reason
#: its wall-clock would not measure engine throughput (pinned by
#: tests/test_bench_coverage.py, so a new query without a bench decision
#: fails CI). Exemption classes:
#:   latency-bound — wall-clock is simulated HTTP latency or streaming
#:     trigger waits, not plan execution;
#:   fixed-overhead — sub-100 ms catalog/report utilities dominated by
#:     Spark's per-job constant cost;
#:   subplan — strict subtree of a benched composite (benching it twice
#:     would double-count the same operators);
#:   sibling — same physical plan shape as a named benched representative,
#:     differing only in parameters/projection.
EXEMPT: dict[str, str] = {
    # -- latency-bound: connector family (rate-limit sleeps + local HTTP) --
    "connector_ohlcv": "latency-bound: simulated vendor HTTP + rate-limit",
    "connector_crossval": "latency-bound: simulated vendor HTTP + rate-limit",
    "connector_macro": "latency-bound: simulated vendor HTTP + rate-limit",
    "connector_macro_summary": "latency-bound: simulated vendor HTTP",
    "connector_stream_ticks": "latency-bound: streaming micro-batch waits",
    "connector_vwap": "latency-bound: simulated vendor HTTP",
    "export_shape": "fixed-overhead: 16-row golden export ordering",
    # -- latency-bound: streaming micro-batch harnesses (representatives
    #    stream_sliding_counts + stream_static_anti ARE benched) -----------
    "stream_hourly_counts": "latency-bound: trigger waits; sibling of stream_sliding_counts",
    "stream_dedup_count": "latency-bound: trigger waits; sibling of stream_sliding_counts",
    "stream_running_totals": "latency-bound: trigger waits; sibling of stream_sliding_counts",
    "stream_session_windows": "latency-bound: trigger waits; sibling of stream_sliding_counts",
    "stream_interval_join": "latency-bound: trigger waits; sibling of stream_static_anti",
    "stream_left_interval_join": "latency-bound: trigger waits; sibling of stream_static_anti",
    "stream_enriched_counts": "latency-bound: trigger waits; sibling of stream_static_anti",
    "stream_media_features": "latency-bound: trigger waits; codec cost benched via media_real_decode",
    "stream_scd2_closed": "latency-bound: trigger waits; sibling of stream_static_anti; batch twin scd2_intervals exempted below as sibling of benched gap_fill_ffill",
    "stream_incremental_dedup": "latency-bound: trigger waits; static-index join shape benched via stream_static_anti, stateful-op cost via stream_running_totals' family; batch twin incremental_dedup is benched",
    "stream_bars_rsi": "latency-bound: trigger waits; bit-identical batch twin rsi_bars_4h is benched",
    "stream_bars_ohlc_wm": "latency-bound: trigger waits; closed-bar subset of benched bars_4h (same derivation + watermark cutoff)",
    # -- fixed-overhead report/catalog utilities ---------------------------
    "validation_counts": "fixed-overhead: per-column null/predicate counts on the 4-ticker frame",
    "series_summary": "fixed-overhead: per-series stats on the macro registry",
    "global_summary": "fixed-overhead: 1-row global rollup",
    "table_stats": "fixed-overhead: catalog stats scan",
    "database_stats": "fixed-overhead: catalog stats scan",
    "quality_score": "fixed-overhead: per-ticker quality report",
    "discrepancy_flags": "fixed-overhead: 4-ticker flag merge-back",
    "first_request_wins": "fixed-overhead: anti-join on the 4-ticker frame",
    "ledger_latest_status": "fixed-overhead: latest-per-key ledger view",
    # -- subplans of benched composites ------------------------------------
    "equi_depth_bins_ntile": "subplan: small-data oracle twin of equi_depth_bins (documented non-scale path)",
    "exact_dedup": "subplan: hash-groupBy inside curation_kept/neardup_verified",
    "minhash_signatures": "subplan: signature scan inside minhash_lsh_pairs",
    "lsh_bucket": "subplan: banding stage inside lsh_neardup_pairs",
    "ivf_assign": "subplan: quantizer inside ann_topk_ivf/kmeans_refine",
    "embedding_centroids": "subplan: centroid agg inside kmeans_refine",
    "mixture_weights": "subplan: weights stage inside mixture_resample",
    "doc_winnow": "subplan: winnowing fingerprints inside dup_span_stats family; same explode+agg shape as ngram_novelty",
    "dup_span_stats": "sibling: exploded-span agg + skew-safe count join, same shape as chunk_boilerplate (benched)",
    "pq256_recall": "sibling: identical plan to benched pq_recall, only the sub-codebook budget moves (k=256); its train+serve cost at 2k/20k vectors is measured in PERF.md's reduction frontier",
    "ivfpq_residual_refined_recall": "sibling: composition of benched ivfpq_residual_recall's ADC chain with benched kmeans_refine's Lloyd chain — both physical shapes already carry bench rows; benching the composition would double-count both",
    "bpe_encode_stats": "sibling: re-runs benched bpe_merges' whole train loop, then adds two 1-row aggregates over the final vocab — benching it would time the training twice",
    "ann_recall_ivf": "subplan: re-runs benched ann_topk + ann_topk_ivf to compare",
    "ann_recall_lsh": "subplan: re-runs benched ann_topk + ann_topk_lsh legs",
    "ann_topk_lsh": "sibling: bucketed cosine top-k, same shape as ann_topk_ivf",
    "ann_topk_ivf_refined_probe": "sibling: byte-identical probe plan to benched ann_topk_ivf_probe — only the persisted quantizer's center VALUES differ (Lloyd-refined at build time); the Lloyd cost lives in the cached build, which no bench row times",
    # -- siblings of a benched representative ------------------------------
    "media_features": "sibling: md5-stub variant of benched media_real_decode",
    "media_frames": "sibling: md5-stub variant of benched media_real_resize",
    "media_resize": "sibling: md5-stub variant of benched media_real_resize",
    "media_real_frames": "sibling: same Y4M demux codec path as media_real_resize",
    "media_real_channel_stats": "sibling: same decode+per-channel agg path as media_real_decode",
    "rsi_14": "sibling: stacked per-user windows, same exchange shape as atr_14",
    "bollinger_bands": "sibling: stacked per-user windows, same shape as atr_14",
    "mad_outliers": "sibling: per-user rank/percentile windows, same shape as max_drawdown",
    "value_percentiles_by_type": "sibling: per-type percentile agg, same shape as winsorized_stats cutoffs",
    "ewma_last": "sibling: grouped-map fold, same shape as macd_last/cusum_drift",
    "lang_id": "sibling: map-only text scan, same shape as readability",
    "doc_quality": "sibling: map-only text scan, same shape as readability",
    "doc_fingerprint": "sibling: map-only hash scan, same shape as pii_scrub",
    "doc_scrub": "sibling: map-only regex scan, same shape as pii_scrub",
    "stratified_sample": "sibling: map-only hash-threshold filter, same shape as pii_scrub",
    "sample_k_per_group": "sibling: hash-rank WindowGroupLimit, same shape as kmv_distinct's k-min filter",
    "weighted_sample_k": "sibling: weighted hash-rank WindowGroupLimit, same shape as sample_k_per_group",
    "scd2_intervals": "sibling: stacked per-user lag/lead windows, same exchange shape as gap_fill_ffill (benched)",
    "ngram_jaccard_pairs": "sibling: candidate-bounded pair scoring, same shape as containment_pairs",
    "doc_length_quantiles": "sibling: bounded-histogram quantiles, same shape as perplexity_buckets cutoffs",
    "vocab_topk": "sibling: explode+agg+topk, same shape as tfidf_topk family benched via bigram_prob",
    "tfidf_topk": "sibling: explode+agg+window rank, same shape as bigram_prob",
    "token_len_histogram": "sibling: explode+hash agg, same shape as token_stats",
    "token_diversity": "sibling: explode+hash agg, same shape as token_stats",
    "subword_stats": "sibling: explode+hash agg, same shape as token_stats",
    "dup_stats": "sibling: hash-groupBy dup counts, same shape as exact_dedup/curation_kept",
    "json_props_stats": "sibling: from_json projection + rollup, same shape as event_rollup_day",
    "event_pivot": "sibling: single hash agg with pivot values, same shape as event_rollup_day",
    "asof_tolerance": "sibling: same one-pass asof plan as benched asof_join",
    "type_cooccurrence": "sibling: per-user set pairs, same shape as funnel_conversion",
    "user_setops": "sibling: semi/anti join algebra, same shape as decontaminate_overlap",
    # -- TPC-H: all 22 shapes are benched individually ---------------------
}


def _run(name: str, sf_dir: str, spark) -> None:
    QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def window_vs_comparison(
    medians: dict[str, float], sf: float
) -> dict[str, object] | None:
    """Self-describing window factor (VERDICT r12 item 2): the per-query
    ratio distribution of THIS record against the pinned
    ``BENCH_COMPARISON.json``, embedded in the record itself so any future
    reader can separate a uniform host-window shift (median moves, spread
    tight) from a real per-query regression (one name escapes the p25–p75
    band) without reconstructing the comparison from git history. The
    MEDIAN ratio is the window estimate — it is robust to a few genuinely
    changed plans; the quartiles carry the noise width. Returns None when
    no comparison record exists or the scale factors differ (cross-SF
    ratios measure data volume, not the host window)."""
    path = os.path.join(_REPO_DIR, "BENCH_COMPARISON.json")
    try:
        with open(path) as fh:
            comp = json.load(fh)
    except (OSError, ValueError):
        return None
    if comp.get("sf") != sf:
        return None
    base = comp.get("queries") or {}
    ratios = sorted(
        medians[n] / base[n] for n in medians if base.get(n)
    )
    if len(ratios) < 8:  # too few shared names for a distribution
        return None
    k = len(ratios)
    return {
        "comparison_record": comp.get("record_id", "BENCH_COMPARISON.json"),
        "shared_queries": k,
        "median_ratio": round(statistics.median(ratios), 3),
        "p25_ratio": round(ratios[k // 4], 3),
        "p75_ratio": round(ratios[(3 * k) // 4], 3),
        "min_ratio": round(ratios[0], 3),
        "max_ratio": round(ratios[-1], 3),
    }


def _loadavg_now() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # host-window context (r16 verdict item 8): two consecutive rounds were
    # cut in externally-loaded windows and adjudicating the uniform shift was
    # forensic work — record 1/5/15-min loadavg at start and end so the
    # record itself says whether the host was quiet
    load_before = _loadavg_now()
    spark = get_spark("msfdp-bench")
    spark.sparkContext.setLogLevel("WARN")

    # untimed warm pass: each plan's generated classes compile and parquet
    # footers/shuffle machinery initialize — one-time costs that a
    # long-running cluster amortizes to zero, so the timed passes measure the
    # steady-state execution the engine actually sustains. The headline
    # compiles about 1870 distinct classes here (sf0.01, 4 cores); they stay
    # compiled only because get_spark sizes Spark's codegen cache to
    # session.CODEGEN_CACHE_ENTRIES (4096); a timed pass then compiles about
    # 54. Under Spark's default of 100 every timed pass compiled about 2700,
    # evicting and recompiling some classes within the pass. Each query is
    # isolated: one broken plan must cost ONE entry, not the whole report
    # (r03 lost every timing to a single analysis error in the warm pass).
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            _run(name, sf_dir, spark)
        except Exception as exc:  # noqa: BLE001 - report, don't abort
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _rep in range(reps):
        # Spark's ContextCleaner frees dead broadcast/shuffle state only when
        # the driver GC collects their refs; a ~80-query pass accumulates
        # enough of both that later reps measure GC pressure, not the plans
        # (78-query session: shared-52 min 48.8 s vs 44.0 s at 70 queries).
        # One explicit collection at each rep boundary restores steady state
        # — this is the idle-cluster hygiene a long-running driver gets for
        # free, not benchmark gaming (timed sections are untouched).
        spark.sparkContext._jvm.System.gc()
        for name in HEADLINE:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                _run(name, sf_dir, spark)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            samples[name].append(time.perf_counter() - t0)

    medians = {
        n: round(statistics.median(s), 3)
        for n, s in samples.items()
        if s and n not in errors
    }
    mins = {
        n: round(min(s), 3) for n, s in samples.items() if s and n not in errors
    }
    total = round(sum(medians.values()), 3)

    payload = {
        "metric": "headline_queries_total",
        # a partial total is not comparable across rounds — null it
        "value": total if not errors else None,
        "unit": "sec",
        "queries": medians,
        "reps": reps,
        "errors": errors,
        "sf": sf,
        # window context rides IN the record (r12 verdict item 2): median
        # per-query ratio vs the pinned comparison record + quartiles
        "window": window_vs_comparison(medians, sf),
        "loadavg_before": load_before,
        "loadavg_after": _loadavg_now(),
    }
    # the PRINTED line stays lean (r18 VERDICT item 7: the r17 record's
    # one-line JSON outgrew the driver's output-tail capture and the
    # round-over-round table was lost) — the per-query "min" floor is a
    # local-forensics field, so it rides only in BENCH_LOCAL.json; the
    # printed contract fields (metric/value/unit/queries/sf) and every
    # previously-printed queries entry are unchanged
    print(json.dumps(payload, separators=(",", ":")))
    # the driver archives only the TAIL of this process's output (r06's
    # BENCH record has parsed=None because the one-line JSON outgrew that
    # window), so persist the complete result in-repo as well — committed
    # per round, it is the durable full-resolution record
    try:
        with open(os.path.join(_REPO_DIR, "BENCH_LOCAL.json"), "w") as fh:
            json.dump({**payload, "min": mins}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
