"""Property-based pandas-semantics parity (hypothesis): the operators whose
Spark expressions hand-replicate pandas behavior (rolling min_periods, keep-
last dedup, pct_change, sessionization) are checked against pandas itself on
randomized inputs, not just fixed fixtures. Deterministic example generation
(derandomize) keeps CI stable; examples stay small so each case is one local
Spark job."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import Window, functions as F

from multi_source_financial_data_pipeline_spark.operators.timeseries import (
    pct_change,
    rolling_mean,
    rolling_std,
)
from multi_source_financial_data_pipeline_spark.operators.validation import (
    dedup_keep_last,
)

SETTINGS = dict(max_examples=12, deadline=None, derandomize=True)

prices = st.lists(
    st.floats(min_value=1.0, max_value=500.0, allow_nan=False).map(
        lambda x: round(x, 2)
    ),
    min_size=1,
    max_size=40,
)


@given(vals=prices, window=st.integers(min_value=2, max_value=7))
@settings(**SETTINGS)
def test_rolling_matches_pandas_min_periods(spark, vals, window):
    pdf = pd.DataFrame(
        {"ticker": "A", "date": pd.RangeIndex(len(vals)), "close": vals}
    )
    sdf = spark.createDataFrame(pdf)
    w = Window.partitionBy("ticker").orderBy("date").rowsBetween(-(window - 1), 0)
    got = (
        sdf.withColumn("ma", rolling_mean(F.col("close"), w, window))
        .withColumn("sd", rolling_std(F.col("close"), w, window))
        .orderBy("date")
        .toPandas()
    )
    want_ma = pdf["close"].rolling(window).mean()
    want_sd = pdf["close"].rolling(window).std()
    # rolling_mean/std round to 6 decimals (oracle boundary); compare there
    assert np.allclose(
        got["ma"].to_numpy(dtype=float),
        want_ma.round(6).to_numpy(dtype=float),
        atol=1e-9, equal_nan=True,
    )
    assert np.allclose(
        got["sd"].to_numpy(dtype=float),
        want_sd.round(6).to_numpy(dtype=float),
        atol=1e-9, equal_nan=True,
    )


@given(vals=prices)
@settings(**SETTINGS)
def test_pct_change_matches_pandas(spark, vals):
    pdf = pd.DataFrame(
        {"ticker": "A", "date": pd.RangeIndex(len(vals)), "close": vals}
    )
    sdf = spark.createDataFrame(pdf)
    w = Window.partitionBy("ticker").orderBy("date")
    got = (
        sdf.withColumn("ret", pct_change(F.col("close"), w))
        .orderBy("date")
        .toPandas()["ret"]
    )
    want = pdf.groupby("ticker")["close"].pct_change()
    assert np.allclose(
        got.to_numpy(dtype=float), want.to_numpy(dtype=float),
        atol=0, rtol=0, equal_nan=True,
    )


@given(
    keys=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=25)
)
@settings(**SETTINGS)
def test_dedup_keep_last_matches_pandas(spark, keys):
    pdf = pd.DataFrame({"k": keys, "seq": range(len(keys))})
    sdf = spark.createDataFrame(pdf)
    got = (
        dedup_keep_last(sdf, ["k"], "seq").orderBy("k").toPandas()
    )
    want = (
        pdf.drop_duplicates(subset=["k"], keep="last")
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert got.to_dict("records") == want.to_dict("records")


asof_ts = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=20, unique=True
)


@given(left_ts=asof_ts, right_ts=asof_ts)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts):
    from multi_source_financial_data_pipeline_spark.operators.sessions import asof_join

    left = pd.DataFrame(
        {
            "event_id": range(len(left_ts)),
            "key": "k",
            "ts": pd.to_datetime(sorted(left_ts), unit="s"),
        }
    )
    right = pd.DataFrame(
        {
            "event_id": range(1000, 1000 + len(right_ts)),
            "key": "k",
            "ts": pd.to_datetime(sorted(right_ts), unit="s"),
            "value": [float(t) for t in sorted(right_ts)],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            key="key",
        )
        .orderBy("event_id")
        .toPandas()
    )
    want = pd.merge_asof(left, right, on="ts", by="key", direction="backward")
    assert np.allclose(
        got["asof_value"].to_numpy(dtype=float),
        want["value"].to_numpy(dtype=float),
        atol=0, rtol=0, equal_nan=True,
    )


@given(
    gaps=st.lists(st.integers(min_value=1, max_value=4000), min_size=1, max_size=25)
)
@settings(**SETTINGS)
def test_sessionize_matches_reference_gap_logic(spark, gaps):
    from multi_source_financial_data_pipeline_spark.operators.sessions import sessionize

    ts = np.cumsum(gaps)
    pdf = pd.DataFrame(
        {
            "user": 1,
            "event_id": range(len(ts)),
            "ts": pd.to_datetime(ts, unit="s"),
        }
    )
    got = (
        sessionize(spark.createDataFrame(pdf), "user", 1800)
        .orderBy("event_id")
        .toPandas()["session_id"]
        .to_numpy()
    )
    want, sid = [], 0
    for i, g in enumerate(gaps):
        if i > 0 and g > 1800:
            sid += 1
        want.append(sid)
    assert got.tolist() == want


range_ts = st.lists(
    st.integers(min_value=0, max_value=50_000), min_size=1, max_size=25, unique=True
)


@given(left_ts=range_ts, right_ts=range_ts, tol=st.integers(min_value=1, max_value=20))
@settings(**SETTINGS)
def test_bucketed_range_join_matches_naive_pairs(spark, left_ts, right_ts, tol):
    """The bucket±1 replication must produce exactly the naive |Δt|<=tol pair
    set — no duplicates (each pair matches one replica) and no misses
    (bucket width == tolerance bounds the bucket distance to 1). Boundary
    timestamps (Δt == tol, same ts) are the cases worth the fuzz."""
    from multi_source_financial_data_pipeline_spark.operators.sessions import (
        bucketed_range_join,
    )

    tol_us = tol * 1_000_000
    left = pd.DataFrame(
        {
            "event_id": range(len(left_ts)),
            "key": "k",
            "ts": pd.to_datetime(left_ts, unit="s"),
        }
    )
    right = pd.DataFrame(
        {
            "key": "k",
            "ts": pd.to_datetime(right_ts, unit="s"),
            "value": [float(t) for t in right_ts],
        }
    )
    got = bucketed_range_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        key="key",
        tolerance_us=tol_us,
    ).toPandas()
    got_pairs = sorted(zip(got["event_id"], got["value"]))
    want_pairs = sorted(
        (lid, float(rt))
        for lid, lt in zip(left["event_id"], left_ts)
        for rt in right_ts
        if abs(rt - lt) * 1_000_000 <= tol_us
    )
    assert got_pairs == want_pairs


@given(
    toks=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=25),
    seq_len=st.integers(min_value=2, max_value=8),
)
@settings(**SETTINGS)
def test_packing_invariants(spark, toks, seq_len):
    """Concat-and-chunk invariants on random token counts: offsets tile the
    shard stream contiguously, spans follow from integer division, and the
    last doc ends exactly at the total token count."""
    from multi_source_financial_data_pipeline_spark.operators.packing import (
        concat_chunk_packing,
    )

    rows = [(i, "s", " ".join(["t"] * n)) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = (
        concat_chunk_packing(
            df, seq_len=seq_len, tokens=F.size(F.split(F.col("text"), r"\s+")),
            shard_col="source",
        )
        .orderBy("doc_id")
        .collect()
    )
    expect_start = 0
    for r, n in zip(out, toks):
        assert r["n_tokens"] == n
        assert r["start_offset"] == expect_start
        assert r["first_seq"] == r["start_offset"] // seq_len
        assert r["last_seq"] == (r["start_offset"] + n - 1) // seq_len
        assert r["n_seqs_spanned"] == r["last_seq"] - r["first_seq"] + 1
        expect_start += n
    assert expect_start == sum(toks)


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # day offset
            st.floats(min_value=1.0, max_value=99.0, allow_nan=False).map(
                lambda x: round(x, 2)
            ),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_gap_fill_matches_pandas_ffill(spark, obs):
    """Random sparse daily observations for one key: the filled spine must
    equal pandas resample('D').last().ffill() (last-in-day wins via the
    event_id tiebreak)."""
    from multi_source_financial_data_pipeline_spark.operators.timeseries import (
        gap_fill_daily,
    )

    base = pd.Timestamp("2024-03-01")
    rows = [
        (7, (base + pd.Timedelta(days=d)).strftime("%Y-%m-%d 12:00:00"), v, i)
        for i, (d, v) in enumerate(obs)
    ]
    df = (
        spark.createDataFrame(rows, "user_id long, ts string, value double, event_id long")
        .withColumn("ts", F.to_timestamp("ts"))
        .withColumn("date", F.to_date("ts"))
    )
    got = (
        gap_fill_daily(df)
        .orderBy("cal_date")
        .toPandas()
    )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    s = (
        pdf.sort_values(["ts", "event_id"]).set_index("ts")["value"].resample("D").last()
    )
    want_vals = s.ffill().to_numpy()
    assert len(got) == len(s)
    np.testing.assert_array_equal(got["value_filled"].to_numpy(), want_vals)
    np.testing.assert_array_equal(
        got["is_observed"].to_numpy(), s.notna().astype(int).to_numpy()
    )


# --- round-8 additions: Wilder folds, Morton keys, CMS ----------------------

wilder_series = st.lists(
    st.floats(min_value=0.01, max_value=500.0, allow_nan=False).map(
        lambda v: round(v, 2)
    ),
    min_size=1,
    max_size=40,
)


@given(vals=wilder_series)
@settings(**SETTINGS)
def test_wilder_fold_matches_reference(spark, vals):
    """The grouped-map Wilder RSI fold equals a direct python replay on
    randomized 2-decimal series — including <n-diff warmups (nulls), flat
    stretches (0/0 → null RSI), and tie-heavy inputs."""
    from multi_source_financial_data_pipeline_spark.operators.grouped import rsi_wilder_last

    rows = [(1, i, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, value double")
    got = rsi_wilder_last(
        df, ts_col="ts", tiebreak="event_id", value_col="value"
    ).collect()[0]
    diffs = [vals[i] - vals[i - 1] for i in range(1, len(vals))]
    if len(diffs) < 14:
        assert got.rsi is None and got.avg_gain is None
        return
    gains = [max(d, 0.0) for d in diffs]
    losses = [max(0.0 - d, 0.0) for d in diffs]

    def wilder(xs):
        acc = 0.0
        for x in xs[:14]:
            acc = acc + x
        acc = acc / 14.0
        for x in xs[14:]:
            acc = (acc * 13.0 + x) / 14.0
        return acc

    ag, al = wilder(gains), wilder(losses)
    assert got.avg_gain == ag and got.avg_loss == al
    want = None if ag + al == 0.0 else 100.0 * ag / (ag + al)
    assert got.rsi == want


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_morton_key_bijective_and_monotone_per_tile(spark, pts):
    """zorder_key must be a bijection of the (a, b) grid (deinterleaving
    the bits recovers both inputs) and agree with a python reference."""
    from multi_source_financial_data_pipeline_spark.operators.layout import zorder_key

    df = spark.createDataFrame(pts, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key(F.col("a"), F.col("b"), 12).alias("z")).collect()
    }
    for (a, b), z in got.items():
        want = 0
        for i in range(12):
            want |= ((a >> i) & 1) << (2 * i)
            want |= ((b >> i) & 1) << (2 * i + 1)
        assert z == want
        # deinterleave round-trip
        ra = sum(((z >> (2 * i)) & 1) << i for i in range(12))
        rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(12))
        assert (ra, rb) == (a, b)


@given(
    toks=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
        min_size=1,
        max_size=200,
    )
)
@settings(**SETTINGS)
def test_cms_contract_on_random_multisets(spark, toks):
    """CMS never underestimates any queried count, on arbitrary random
    multisets driven through the REAL registered pipeline arithmetic."""
    from collections import Counter

    from multi_source_financial_data_pipeline_spark.plans.llmdata import (
        CMS_D, CMS_W, _cms_hash,
    )

    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    rows = df.select(
        "tok",
        F.posexplode(
            F.array(*[_cms_hash(F.col("tok"), j) for j in range(CMS_D)])
        ).alias("j", "bucket"),
    )
    cms = {
        (r.j, r.bucket): r.c
        for r in rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    import hashlib

    truth = Counter(toks)
    for t, n in truth.items():
        est = min(
            cms[(j, int(hashlib.md5(f"cms{j}|{t}".encode()).hexdigest()[:8], 16) % CMS_W)]
            for j in range(CMS_D)
        )
        assert est >= n


# --- repetition_stats: max-run fold vs a direct Counter reference ------------

doc_words = st.lists(
    st.sampled_from(["a", "b", "c", "aa", "bb", "x"]),
    min_size=0,
    max_size=30,
)


@given(wordlists=st.lists(doc_words, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_repetition_stats_matches_counter_reference(spark, wordlists):
    """The r11 shuffle-free repetition_stats computes the top-bigram
    multiplicity as a MAX-RUN fold over the sorted bigram array; this
    drives it with adversarial tiny vocabularies (runs, ties, empty and
    1-token docs) and checks against the direct Counter definition —
    mode(bigram count)/total — plus the distinct-trigram fraction."""
    from collections import Counter

    from multi_source_financial_data_pipeline_spark.operators.text import (
        repetition_stats,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(wordlists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert set(got) == set(range(len(wordlists)))
    for i, ws in enumerate(wordlists):
        # the engine tokenizes via split(\s+): "" -> [""] (one empty token)
        toks = " ".join(ws).split(" ")
        bis = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        tris = [
            f"{a} {b} {c}" for a, b, c in zip(toks, toks[1:], toks[2:])
        ]
        want_top = (max(Counter(bis).values()) / len(bis)) if bis else 0.0
        want_dup = (
            1.0 - len(set(tris)) / len(tris) if tris else 0.0
        )
        assert abs(got[i]["top_bigram_frac"] - want_top) < 1e-12, (i, ws)
        assert abs(got[i]["dup_trigram_frac"] - want_dup) < 1e-12, (i, ws)
