"""Python Data Source connector: partitioning + feed shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.sources import market_source


def _read(spark, source="yahoo", tickers="AAPL,MSFT"):
    market_source.register(spark)
    return (
        spark.read.format("market_sim")
        .option("tickers", tickers)
        .option("start", "2024-01-01")
        .option("end", "2024-01-10")
        .option("source", source)
        .load()
    )


def test_one_partition_per_ticker(spark):
    df = _read(spark, tickers="AAPL,MSFT,TSLA")
    assert df.rdd.getNumPartitions() == 3
    # each partition holds exactly one ticker (fetch parallelism = tasks)
    per_part = df.rdd.mapPartitions(
        lambda rows: [len({r["ticker"] for r in rows})]
    ).collect()
    assert per_part == [1, 1, 1]


@pytest.mark.parametrize("num_partitions", [2, 1])
@pytest.mark.parametrize(
    "fmt, key_col, items_opt, items",
    [
        ("market_sim", "ticker", "tickers", ["AAPL", "MSFT", "TSLA"]),
        ("fred_sim", "series_id", "series", ["UNRATE", "DGS10", "CPIAUCSL", "GDP", "M2SL"]),
    ],
    ids=["tickers", "series"],
)
def test_packed_partitions_keep_items_whole_and_in_fetch_order(
    spark, fmt, key_col, items_opt, items, num_partitions
):
    """``numPartitions`` packs the items, in request order, into that many
    contiguous groups: every item lands in exactly one partition, and
    ``monotonically_increasing_id()`` rises with the date inside each item
    (the order the pipeline's keep-last dedup reads as ``ingest_seq``). The
    rows are the per-item layout's rows."""
    market_source.register(spark)

    def read(**extra):
        return (
            spark.read.format(fmt)
            .option(items_opt, ",".join(items))
            .option("start", "2024-01-01")
            .option("end", "2024-06-30")
            .options(**extra)
            .load()
        )

    packed = read(numPartitions=str(num_partitions))
    assert packed.rdd.getNumPartitions() == num_partitions
    rows = (
        packed.select(
            key_col,
            "date",
            F.spark_partition_id().alias("part"),
            F.monotonically_increasing_id().alias("seq"),
        )
        .collect()
    )
    parts = {}
    for r in rows:
        parts.setdefault(r[key_col], set()).add(r["part"])
    assert set(parts) == set(items)
    assert all(len(p) == 1 for p in parts.values())
    assert {p for ps in parts.values() for p in ps} == set(range(num_partitions))
    by_seq = sorted(rows, key=lambda r: r["seq"])
    # contiguous and in request order: the item runs, in seq order, are
    # the request list itself
    runs = [k for i, k in enumerate(r[key_col] for r in by_seq)
            if i == 0 or by_seq[i - 1][key_col] != k]
    assert runs == items
    for item in items:
        dates = [r["date"] for r in by_seq if r[key_col] == item]
        assert dates == sorted(dates) and len(set(dates)) == len(dates)
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, read().collect()))


def test_feed_is_deterministic_and_business_days_only(spark):
    a = _read(spark).orderBy("ticker", "date").collect()
    b = _read(spark).orderBy("ticker", "date").collect()
    assert a == b
    # 2024-01-01..10 has 8 business days (6th/7th are a weekend)
    assert len(a) == 2 * 8
    assert all(r["date"].weekday() < 5 for r in a)
    assert all(r["low"] <= min(r["open"], r["close"]) for r in a)
    assert all(r["high"] >= max(r["open"], r["close"]) for r in a)


def test_secondary_feed_differs_only_in_close(spark):
    y = _read(spark, "yahoo").select("ticker", "date", "open", "close")
    al = _read(spark, "alpha").select(
        "ticker", "date", F.col("open").alias("open2"), F.col("close").alias("close2")
    )
    j = y.join(al, ["ticker", "date"]).collect()
    assert len(j) == 2 * 8
    assert all(r["open"] == r["open2"] for r in j)
    assert all(abs(r["close"] - r["close2"]) <= 1.0 for r in j)


def test_flaky_partition_retries_then_recovers(spark):
    """A partition that fails twice with retries to spare must deliver its
    full feed — §2.11 retry-with-backoff around the per-ticker fetch."""
    market_source.register(spark)
    df = (
        spark.read.format("market_sim")
        .option("tickers", "AAPL,MSFT")
        .option("start", "2024-01-01")
        .option("end", "2024-01-10")
        .option("fail_tickers", "AAPL")
        .option("fail_attempts", "2")
        .option("max_retries", "3")
        .option("backoff_factor", "0.001")
        .load()
    )
    counts = {r["ticker"]: r["n"] for r in df.groupBy("ticker").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"AAPL": 8, "MSFT": 8}
    # packed into one partition with the healthy ticker, the flaky one
    # still recovers and both deliver their full feed
    packed = df.sparkSession.read.format("market_sim").options(
        tickers="AAPL,MSFT", start="2024-01-01", end="2024-01-10",
        fail_tickers="AAPL", fail_attempts="2", max_retries="3",
        backoff_factor="0.001", numPartitions="1",
    ).load()
    assert packed.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, df.collect()))


def test_dead_partition_skips_and_reports(spark):
    """Retries exhausted: the job still succeeds with the other tickers'
    rows (skip-and-continue, /root/reference/src/macro.py:206-208) and the
    driver-side reconcile records the skipped ticker in the ErrorTracker
    (src/logger.py error accounting)."""
    from multi_source_financial_data_pipeline_spark.functions.resilience import ErrorTracker

    tracker = ErrorTracker()
    df = market_source.read_with_skip_report(
        spark,
        tracker=tracker,
        fail_tickers="MSFT",
        fail_attempts="99",
        max_retries="1",
        backoff_factor="0.001",
    )
    tickers = {r[0] for r in df.select("ticker").distinct().collect()}
    assert tickers == {"AAPL", "TSLA"}
    assert df.count() == 2 * 8
    summary = tracker.summary()
    assert summary["total_errors"] == 1
    assert summary["errors_by_operation"] == {"market_fetch": 1}
    assert "MSFT" in summary["errors"][0]["message"]

    # packed with AAPL and TSLA into one partition, the dead ticker skips
    # only its own rows
    packed_tracker = ErrorTracker()
    packed = market_source.read_with_skip_report(
        spark,
        tracker=packed_tracker,
        fail_tickers="MSFT",
        fail_attempts="99",
        max_retries="1",
        backoff_factor="0.001",
        numPartitions="1",
    )
    assert packed.rdd.getNumPartitions() == 1
    assert packed.count() == 2 * 8
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, df.collect()))
    assert packed_tracker.summary()["errors_by_operation"] == {"market_fetch": 1}


def test_stream_ticks_incremental_batches(spark):
    """The streaming reader's offset protocol: with days_per_batch=3 and a
    processingTime trigger, the 8-business-day window arrives over several
    micro-batches (availableNow would single-batch it — Python stream
    sources lack that trigger), the drained row set equals the batch read,
    and readBetweenOffsets replays an arbitrary committed range."""
    market_source.register(spark)
    opts = {
        "tickers": "AAPL,MSFT",
        "start": "2024-01-01",
        "end": "2024-01-10",
        "source": "yahoo",
    }
    stream = spark.readStream.format("market_sim").options(days_per_batch="3", **opts).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("inc_ticks")
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table("inc_ticks").count() >= 2 * 8:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.table("inc_ticks")
    want = spark.read.format("market_sim").options(**opts).load()
    assert got.count() == want.count() == 2 * 8
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # ceil(8 days / 3 per batch) = 3 non-empty micro-batches
    n_batches = len({r["date"] for r in got.select("date").collect()})
    assert n_batches == 8
    # deterministic replay of a committed offset range
    from multi_source_financial_data_pipeline_spark.sources.market_source import MarketTickStreamReader

    r = MarketTickStreamReader({**opts})
    replay = list(r.readBetweenOffsets({"day": 2}, {"day": 5}))
    assert len(replay) == 3 * 2
    assert replay == list(r._rows(2, 5))


# --- real HTTP transport against a local server ------------------------------


def _month_firsts(start, end):
    from datetime import date

    d = date(start.year, start.month, 1)
    if d < start:
        d = date(d.year + 1, 1, 1) if d.month == 12 else date(d.year, d.month + 1, 1)
    while d <= end:
        yield d
        d = date(d.year + 1, 1, 1) if d.month == 12 else date(d.year, d.month + 1, 1)


class _QuoteHandler:
    """http.server handler factory serving /ohlcv as JSON from the same
    deterministic quote() generator, optionally failing the first N
    requests per ticker with a 500 (exercises the REAL retry loop over
    REAL sockets), and /series as FRED observations with the simulator's
    values (series BROKEN answers 500; MISSDOT's June value is "."). When
    ``hits`` is given, every GET increments ``hits[(source, ticker)]``, or
    ``hits[("fred", series)]`` for /series."""

    @staticmethod
    def make(fail_first: int = 0, times: list | None = None, hits=None):
        import json
        import time
        from datetime import date
        from http.server import BaseHTTPRequestHandler
        from urllib.parse import parse_qs, urlparse

        attempts: dict[str, int] = {}

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _send(self, body: bytes):
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _series(self, q):
                sid = q["series"]
                if hits is not None:
                    hits[("fred", sid)] += 1
                if sid == "BROKEN":
                    self.send_error(500)
                    return
                # the REAL FRED observations payload: STRING values,
                # realtime_* fields the client must ignore, and the literal
                # "." for a missing observation (served for MISSDOT)
                self._send(json.dumps({"observations": [
                    {"realtime_start": "2024-01-01",
                     "realtime_end": "9999-12-31",
                     "date": d.isoformat(),
                     "value": "."
                     if sid == "MISSDOT" and d.month == 6
                     else str((market_source._h(f"{sid}|{d.isoformat()}") % 100000) / 100.0)}
                    for d in _month_firsts(
                        date.fromisoformat(q["start"]), date.fromisoformat(q["end"])
                    )
                ]}).encode())

            def do_GET(self):
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                if u.path == "/series":
                    self._series(q)
                    return
                ticker = q["ticker"]
                if hits is not None:
                    hits[(q["source"], ticker)] += 1
                attempts[ticker] = attempts.get(ticker, 0) + 1
                if times is not None:
                    times.append(time.monotonic())
                if u.path != "/ohlcv":
                    self.send_error(404)
                    return
                if attempts[ticker] <= fail_first:
                    self.send_error(500, "flaky")
                    return
                quotes = [
                    market_source.quote(ticker, d, q["source"])
                    for d in market_source.business_days(
                        date.fromisoformat(q["start"]),
                        date.fromisoformat(q["end"]),
                    )
                ]
                if q["source"] == "alpha":
                    # the REAL Alpha Vantage daily payload shape: ordinal-
                    # prefixed keys, stringified values (str(float) round-
                    # trips exactly) — the client must strip "1. "-prefixes
                    series = {
                        r[1].isoformat(): {
                            "1. open": str(r[2]),
                            "2. high": str(r[3]),
                            "3. low": str(r[4]),
                            "4. close": str(r[5]),
                            "5. adjusted close": str(r[6]),
                            "6. volume": str(r[7]),
                        }
                        for r in quotes
                    }
                    body = json.dumps(
                        {
                            "Meta Data": {"2. Symbol": ticker},
                            "Time Series (Daily)": series,
                        }
                    ).encode()
                elif q["source"] == "yahoo":
                    # the REAL Yahoo v8 chart payload shape (what yfinance
                    # consumes): columnar arrays keyed by epoch-second UTC
                    # timestamps — the client must transpose + convert
                    from datetime import datetime, timezone

                    def epoch(d):
                        return int(
                            datetime(
                                d.year, d.month, d.day, tzinfo=timezone.utc
                            ).timestamp()
                        )

                    body = json.dumps(
                        {
                            "chart": {
                                "result": [
                                    {
                                        "meta": {"symbol": ticker,
                                                 "currency": "USD"},
                                        "timestamp": [epoch(r[1]) for r in quotes],
                                        "indicators": {
                                            "quote": [{
                                                "open": [r[2] for r in quotes],
                                                "high": [r[3] for r in quotes],
                                                "low": [r[4] for r in quotes],
                                                "close": [r[5] for r in quotes],
                                                "volume": [r[7] for r in quotes],
                                            }],
                                            "adjclose": [{
                                                "adjclose": [r[6] for r in quotes],
                                            }],
                                        },
                                    }
                                ],
                                "error": None,
                            }
                        }
                    ).encode()
                else:
                    rows = [
                        dict(
                            zip(
                                ["ticker", "date", "open", "high", "low",
                                 "close", "adj_close", "volume", "source"],
                                (r[0], r[1].isoformat(), *r[2:]),
                            )
                        )
                        for r in quotes
                    ]
                    body = json.dumps({"rows": rows}).encode()
                self._send(body)

        return Handler


def _serve(fail_first: int = 0, times: list | None = None, hits=None):
    import threading
    from http.server import ThreadingHTTPServer

    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0), _QuoteHandler.make(fail_first, times, hits)
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_transport_matches_sim(spark):
    """The real urllib transport, through Spark tasks, against a live local
    HTTP server: byte-identical rows to the in-process simulator — the
    connector's production slot demonstrably works end-to-end."""
    srv, url = _serve()
    try:
        market_source.register(spark)
        via_http = (
            spark.read.format("market_sim")
            .option("tickers", "AAPL,MSFT")
            .option("start", "2024-01-01")
            .option("end", "2024-01-10")
            .option("transport", "http")
            .option("base_url", url)
            .load()
        )
        rows_http = sorted(map(tuple, via_http.collect()))
        rows_sim = sorted(map(tuple, _read(spark).collect()))
        assert rows_http == rows_sim and len(rows_http) == 16
    finally:
        srv.shutdown()


def test_yahoo_chart_halted_day_nulls(spark):
    """The v8 chart arrays carry JSON nulls on halted/unquoted days and an
    in-band "error" object on bad symbols (both with HTTP 200). Nulls must
    surface as SQL NULLs in their row — never a crash, never a dropped row
    (yfinance's NaN behavior, which the A1 null-count validators then see);
    the in-band error must trip the retry/skip path like a 500 would."""
    import json
    import threading
    from datetime import date, datetime, timezone
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    def epoch(d):
        return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp())

    days = [date(2024, 1, 2), date(2024, 1, 3), date(2024, 1, 4)]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            q = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
            if q["ticker"] == "BADSYM":
                body = json.dumps({"chart": {"result": None, "error": {
                    "code": "Not Found", "description": "No data found"}}}).encode()
            else:
                body = json.dumps({"chart": {"result": [{
                    "meta": {"symbol": q["ticker"], "currency": "USD"},
                    "timestamp": [epoch(d) for d in days],
                    "indicators": {"quote": [{
                        # day 2 is halted: every quote field is null
                        "open": [10.0, None, 12.0],
                        "high": [10.5, None, 12.5],
                        "low": [9.5, None, 11.5],
                        "close": [10.2, None, 12.2],
                        "volume": [1000, None, 3000],
                    }], "adjclose": [{"adjclose": [10.2, None, 12.2]}]},
                }], "error": None}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        market_source.register(spark)

        def read(tickers):
            return (
                spark.read.format("market_sim")
                .option("tickers", tickers)
                .option("start", "2024-01-02")
                .option("end", "2024-01-04")
                .option("transport", "http")
                .option("base_url", url)
                .option("max_retries", "1")
                .option("backoff_factor", "0.01")
                .load()
                .collect()
            )

        rows = sorted(map(tuple, read("HALTY")), key=lambda r: r[1])
        assert len(rows) == 3
        halted = rows[1]
        assert halted[1] == date(2024, 1, 3)
        assert halted[2:8] == (None, None, None, None, None, None)
        assert rows[0][5] == 10.2 and rows[2][5] == 12.2
        # in-band chart error → retries exhaust → partition skipped
        assert read("BADSYM") == []
    finally:
        srv.shutdown()


def test_http_transport_retries_real_500s(spark):
    """First two requests per ticker answer HTTP 500: the per-task
    retry-with-backoff must recover over real sockets and deliver the full
    window; with retries exhausted the partition is skipped, not failed."""
    srv, url = _serve(fail_first=2)
    try:
        market_source.register(spark)

        def read(max_retries):
            return (
                spark.read.format("market_sim")
                .option("tickers", "AAPL")
                .option("start", "2024-01-01")
                .option("end", "2024-01-10")
                .option("transport", "http")
                .option("base_url", url)
                .option("max_retries", str(max_retries))
                .option("backoff_factor", "0.01")
                .load()
            )

        assert read(max_retries=3).count() == 8  # recovers on 3rd attempt
    finally:
        srv.shutdown()
    srv2, url2 = _serve(fail_first=10)
    try:
        skipped = (
            spark.read.format("market_sim")
            .option("tickers", "AAPL")
            .option("start", "2024-01-01")
            .option("end", "2024-01-10")
            .option("transport", "http")
            .option("base_url", url2)
            .option("max_retries", "1")
            .option("backoff_factor", "0.01")
            .load()
        )
        assert skipped.count() == 0  # exhausted -> skip-and-continue
    finally:
        srv2.shutdown()


def test_alpha_http_transport_rate_limited(spark):
    """The SECONDARY-source leg (S3, Alpha Vantage-shaped) end-to-end over
    real sockets: `source=alpha` via http matches the in-process simulator,
    and the reference's per-request politeness delay
    (/root/reference/src/validation.py:178 — 12 s between Alpha Vantage
    calls, shortened here to keep the test fast) is actually observed ON THE
    SERVER between consecutive requests from the same task (retry after a
    real 500 issues a second request; both must be throttled)."""
    times: list = []
    srv, url = _serve(fail_first=1, times=times)
    interval_ms = 400
    try:
        market_source.register(spark)
        via_http = (
            spark.read.format("market_sim")
            .option("tickers", "AAPL")
            .option("start", "2024-01-01")
            .option("end", "2024-01-10")
            .option("source", "alpha")
            .option("transport", "http")
            .option("base_url", url)
            .option("min_interval_ms", str(interval_ms))
            .option("max_retries", "2")
            .option("backoff_factor", "0.01")
            .load()
        )
        rows_http = sorted(map(tuple, via_http.collect()))
        rows_sim = sorted(map(tuple, _read(spark, source="alpha", tickers="AAPL").collect()))
        assert rows_http == rows_sim and len(rows_http) == 8
        assert all(r[-1] == "alpha" for r in rows_http)
        # server saw the failed attempt + the successful retry, throttled
        assert len(times) == 2
        assert times[1] - times[0] >= interval_ms / 1000.0 * 0.95
        # the wire payload really is the vendor shape: "1. open"-prefixed
        # keys with stringified values — so the equality above proves the
        # reference's prefix-strip normalization (src/validation.py:161)
        # ran on the http leg
        import json as _json
        from urllib.request import urlopen

        with urlopen(
            f"{url}/ohlcv?ticker=AAPL&start=2024-01-01&end=2024-01-10&source=alpha"
        ) as resp:
            raw = _json.load(resp)
        day = raw["Time Series (Daily)"]["2024-01-02"]
        assert set(day) == {"1. open", "2. high", "3. low", "4. close",
                            "5. adjusted close", "6. volume"}
        assert isinstance(day["1. open"], str)
    finally:
        srv.shutdown()


def test_normalize_vendor_keys_prefix_strip():
    """The exact reference rule (src/validation.py:161): ordinal prefix
    stripped, remainder lowercased and snake_cased; non-prefixed keys pass
    through lowercased."""
    got = market_source.normalize_vendor_keys(
        {"1. open": "1.0", "5. adjusted close": "2.0", "date": "d",
         "Already Plain": 3}
    )
    assert got == {"open": "1.0", "adjusted_close": "2.0", "date": "d",
                   "already_plain": 3}


def test_macro_http_transport_matches_sim(spark):
    """The FRED-shaped reader's http transport (S4/S5 slot): a live local
    server serving /series observations must yield byte-identical rows to
    the in-process simulator, and a failing series must be skipped without
    failing the job."""
    srv, url = _serve()
    try:
        market_source.register(spark)

        def read_macro(transport, series):
            r = (
                spark.read.format("fred_sim")
                .option("series", series)
                .option("start", "2023-01-15")
                .option("end", "2023-12-31")
            )
            if transport == "http":
                r = (
                    r.option("transport", "http")
                    .option("base_url", url)
                    .option("max_retries", "1")
                    .option("backoff_factor", "0.01")
                )
            return sorted(map(tuple, r.load().collect()))

        assert read_macro("http", "UNRATE,CPIAUCSL") == read_macro(
            "sim", "UNRATE,CPIAUCSL"
        )
        # a broken series skips (rows only from the healthy one)
        rows = read_macro("http", "UNRATE,BROKEN")
        assert rows and all(r[0] == "UNRATE" for r in rows)
        # the "." missing-value marker coerces to SQL NULL (the
        # pd.to_numeric(errors='coerce') twin, src/macro.py:155), never a
        # parse failure and never a dropped row
        rows = read_macro("http", "MISSDOT")
        assert len(rows) == 11  # Feb..Dec (the 2023-01-15 start skips Jan 1)
        junes = [r for r in rows if r[2].month == 6]
        assert len(junes) == 1 and junes[0][3] is None
        assert all(isinstance(r[3], float) for r in rows if r[2].month != 6)
    finally:
        srv.shutdown()


def test_run_pipeline_fetches_each_source_once(spark, tmp_path):
    """One run_pipeline request over the http transport must GET each
    (feed, ticker) and each macro series exactly once: every validation
    aggregation, cross-validation join, append and export reads the
    request's persisted copy instead of re-running the connector (a lazy
    pipeline re-fetches per action: 11 primary, 2 secondary and 3 macro
    GETs each). Both feeds and the macro read pack their items into one
    partition, which fetches each item once in turn."""
    from collections import Counter

    from multi_source_financial_data_pipeline_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    tickers, start, end = ["AAPL", "MSFT"], "2024-01-01", "2024-03-29"
    hits: Counter = Counter()
    srv, url = _serve(hits=hits)

    def feed(source):
        def read(s):
            return (
                s.read.format("market_sim")
                .option("tickers", ",".join(tickers))
                .option("start", start)
                .option("end", end)
                .option("source", source)
                .option("transport", "http")
                .option("base_url", url)
                .option("numPartitions", "1")
                .load()
                .withColumn("ingest_seq", F.monotonically_increasing_id())
            )

        return read

    def macro(s):
        return (
            s.read.format("fred_sim")
            .option("series", "UNRATE,DGS10")
            .option("start", start)
            .option("end", end)
            .option("transport", "http")
            .option("base_url", url)
            .option("numPartitions", "1")
            .load()
        )

    try:
        market_source.register(spark)
        cfg = PipelineConfig(
            tickers=tickers,
            start_date=start,
            end_date=end,
            out_dir=str(tmp_path / "out"),
            db_dir=str(tmp_path / "db"),
        )
        res = run_pipeline(
            spark, cfg,
            market_source=feed("yahoo"),
            alt_source=feed("alpha"),
            macro_source=macro,
        )
    finally:
        srv.shutdown()
    report = res.validation_report
    assert report["ticker_validation"]["cross_validation"]["performed"] is True
    assert report["macro_validation"]["performed"] is True
    assert res.saved_market_rows == 130 and res.saved_macro_rows == 6
    assert dict(hits) == {
        ("yahoo", "AAPL"): 1, ("yahoo", "MSFT"): 1,
        ("alpha", "AAPL"): 1, ("alpha", "MSFT"): 1,
        ("fred", "UNRATE"): 1, ("fred", "DGS10"): 1,
    }
