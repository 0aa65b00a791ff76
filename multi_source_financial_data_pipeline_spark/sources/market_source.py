"""Spark 4 Python Data Source for market-data ingestion (SURVEY.md §2.1
S1-S3).

The reference fetches OHLCV over HTTP per ticker with a thread pool
(/root/reference/src/pipeline.py:28-42) and a secondary source for
cross-validation (/root/reference/src/validation.py:128-185). The Spark-native
connector shape: a registered ``DataSource`` whose reader packs the
requested tickers, in request order, into at most ``numPartitions``
contiguous groups, one input partition per group (the JDBC reader's option;
without it, one partition per ticker). A ticker is never split across
groups, and a group fetches its tickers one after another, so each ticker's
rows stay contiguous and in fetch order. The cluster schedules the groups
as tasks, the distributed generalization of ``threads=True``; every caller
in this package sets ``numPartitions`` to the session's
``defaultParallelism``, because each Python task carries a fixed cost
(see ``session.local_frame``) however few rows it moves. Retry/backoff and
rate limiting (src/logger.py:75-132, src/validation.py:178) wrap each
ticker's fetch inside ``read(partition)``, where a real HTTP client would
go.

This offline build generates deterministic md5-derived quotes instead of
calling an API, so the connector is oracle-checkable: every value is
reproducible in ANSI SQL (see plans/connector.py). The ``source`` option
switches between the primary feed and a perturbed secondary feed
('yahoo' / 'alpha'), giving the cross-validation path two genuinely different
connectors to reconcile.
"""

from __future__ import annotations

import hashlib
from datetime import date, timedelta
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA = (
    "ticker string, date date, open double, high double, low double, "
    "close double, adj_close double, volume bigint, source string"
)


def pack(items: list[str], num_partitions: str | None) -> list[InputPartition]:
    """``items`` in request order as at most ``num_partitions`` contiguous
    groups of near-equal size, one ``InputPartition`` (a tuple of items)
    per group; one group per item when the ``numPartitions`` option is
    absent (None), since a reader cannot see the session's parallelism."""
    m = len(items)
    n = m if num_partitions is None else int(num_partitions)
    if n < 1:
        raise ValueError(f"numPartitions must be at least 1, got {n}")
    k = min(n, m)
    return [InputPartition(tuple(items[i * m // k : (i + 1) * m // k])) for i in range(k)]


def _h(s: str) -> int:
    """First 8 hex chars of md5 as an int — mirrored in SQL as
    ('0x' || substr(md5(s), 1, 8))::BIGINT."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def quote(ticker: str, d: date, source: str) -> tuple:
    """One deterministic OHLCV row. All arithmetic is (int % const) / 100.0
    on doubles — bit-identical in any engine."""
    ds = d.isoformat()
    close = 10.0 + (_h(f"{ticker}|{ds}") % 49000) / 100.0
    open_ = 10.0 + (_h(f"o|{ticker}|{ds}") % 49000) / 100.0
    high = max(open_, close) + (_h(f"h|{ticker}|{ds}") % 500) / 100.0
    low = min(open_, close) - (_h(f"l|{ticker}|{ds}") % 500) / 100.0
    if source == "alpha":
        # secondary feed disagrees by up to ±1.00 — the cross-validation
        # tolerance filter has real discrepancies to find
        close = close + ((_h(f"a|{ticker}|{ds}") % 200) - 100) / 100.0
    volume = 1000 + _h(f"v|{ticker}|{ds}") % 10_000_000
    return (ticker, d, open_, high, low, close, close, volume, source)


def business_days(start: date, end: date) -> Iterator[date]:
    """Mon-Fri inclusive range — same calendar as the missing-bday check
    (no holiday calendar, matching pd.bdate_range semantics)."""
    d = start
    while d <= end:
        if d.weekday() < 5:
            yield d
        d += timedelta(days=1)


def normalize_vendor_keys(row: dict) -> dict:
    """Alpha Vantage emits ``"1. open"``-style ordinal-prefixed keys; the
    reference strips the prefix and snake_cases the remainder
    (/root/reference/src/validation.py:161 —
    ``col.split('. ')[1].lower().replace(' ', '_')``). Same rule here, with
    non-prefixed keys passing through lowercased, so the F3 normalize path
    is exercised against the real vendor quirk, not just lowercase
    columns."""
    out = {}
    for k, v in row.items():
        head, sep, tail = k.partition(". ")
        name = tail if sep and head.isdigit() else k
        out[name.lower().replace(" ", "_")] = v
    return out


def http_fetch_ohlcv(
    base_url: str,
    ticker: str,
    start: date,
    end: date,
    source: str,
    min_interval_ms: int = 0,
) -> list[tuple]:
    """REAL HTTP transport (stdlib urllib, no deps): GET
    ``{base_url}/ohlcv?ticker=..&start=..&end=..&source=..`` and parse the
    JSON body into connector tuples. Three payload shapes:

    - Yahoo v8 chart shape (the primary leg — what yfinance's
      ``yf.download`` consumes under the hood,
      /root/reference/src/pipeline.py:29): ``{"chart": {"result":
      [{"timestamp": [epoch_s, ...], "indicators": {"quote": [{"open":
      [...], "high": [...], ...}], "adjclose": [{"adjclose": [...]}]}}],
      "error": null}}`` — columnar arrays keyed by epoch-SECOND UTC
      timestamps, with JSON ``null`` entries on halted/unquoted days
      (passed through as SQL NULLs for the A1 null-count validators, the
      yfinance NaN behavior);
    - Alpha Vantage daily shape (the secondary-source leg):
      ``{"Time Series (Daily)": {date: {"1. open": "..", "2. high": "..",
      ...}, ...}}`` with stringified values — normalized through
      `normalize_vendor_keys` exactly as the reference does
      (src/validation.py:159-163);
    - generic feed fallback: ``{"rows": [{ticker,date,open,high,low,close,
      adj_close,volume,source}, ...]}``.

    This is the exact seam the reference's yfinance/Alpha Vantage calls
    occupy (/root/reference/src/pipeline.py:28-42, src/validation.py:128-185):
    retry-with-backoff wraps THIS call per task, and ``min_interval_ms``
    applies the reference's politeness delay (src/validation.py:178) before
    the request. Exercised in tests against a local HTTP server — real
    sockets, real parsing, no external network."""
    import json as _json
    import time as _time
    from urllib.parse import urlencode
    from urllib.request import urlopen

    if min_interval_ms > 0:
        _time.sleep(min_interval_ms / 1000.0)
    qs = urlencode(
        {
            "ticker": ticker,
            "start": start.isoformat(),
            "end": end.isoformat(),
            "source": source,
        }
    )
    with urlopen(f"{base_url}/ohlcv?{qs}", timeout=10.0) as resp:
        if resp.status != 200:
            raise ConnectionError(f"HTTP {resp.status} for {ticker}")
        payload = _json.load(resp)
    chart = payload.get("chart")
    if chart is not None:
        if chart.get("error"):
            # the v8 API reports symbol errors in-band with HTTP 200
            raise ConnectionError(f"chart error for {ticker}: {chart['error']}")
        from datetime import datetime, timezone

        res = chart["result"][0]
        q = res["indicators"]["quote"][0]
        adj_blocks = res["indicators"].get("adjclose") or [{}]
        adj = adj_blocks[0].get("adjclose")

        def fnum(v):  # JSON null (halted day) → SQL NULL
            return None if v is None else float(v)

        rows = []
        for i, ts in enumerate(res.get("timestamp", [])):
            close = fnum(q["close"][i])
            rows.append(
                (
                    ticker,
                    datetime.fromtimestamp(int(ts), tz=timezone.utc).date(),
                    fnum(q["open"][i]),
                    fnum(q["high"][i]),
                    fnum(q["low"][i]),
                    close,
                    fnum(adj[i]) if adj is not None else close,
                    None if q["volume"][i] is None else int(q["volume"][i]),
                    source,
                )
            )
        return rows
    series = payload.get("Time Series (Daily)")
    if series is not None:
        rows = []
        for ds in sorted(series):
            r = normalize_vendor_keys(series[ds])
            close = float(r["close"])
            rows.append(
                (
                    ticker,
                    date.fromisoformat(ds),
                    float(r["open"]),
                    float(r["high"]),
                    float(r["low"]),
                    close,
                    float(r.get("adjusted_close", close)),
                    int(r["volume"]),
                    source,
                )
            )
        return rows
    return [
        (
            r["ticker"],
            date.fromisoformat(r["date"]),
            float(r["open"]),
            float(r["high"]),
            float(r["low"]),
            float(r["close"]),
            float(r["adj_close"]),
            int(r["volume"]),
            r["source"],
        )
        for r in payload["rows"]
    ]


class MarketDataReader(DataSourceReader):
    """Packed ticker reads (`pack`) with §2.11 resilience semantics per
    ticker: each ticker's fetch runs under retry-with-backoff
    (src/logger.py:75-132 formula), and a ticker whose retries are
    exhausted yields NO rows instead of failing the job while the other
    tickers of its partition still deliver theirs — the distributed form of
    the reference's skip-and-continue series loop
    (src/macro.py:193-211). Failure injection for tests:
    ``fail_tickers`` (csv) raise on the first ``fail_attempts`` attempts, so
    `fail_attempts <= max_retries` exercises recovery and a larger value
    exercises skip."""

    def __init__(self, options: dict) -> None:
        self.num_partitions = options.get("numPartitions")
        self.tickers = [t for t in options.get("tickers", "").split(",") if t]
        self.start = date.fromisoformat(options["start"])
        self.end = date.fromisoformat(options["end"])
        self.source = options.get("source", "yahoo")
        #: "sim" (deterministic, oracle-checkable) | "http" (real urllib GET
        #: against `base_url` — the slot a production feed plugs into)
        self.transport = options.get("transport", "sim")
        self.base_url = options.get("base_url", "")
        self.min_interval_ms = int(options.get("min_interval_ms", "0"))
        self.fail_tickers = {
            t for t in options.get("fail_tickers", "").split(",") if t
        }
        self.fail_attempts = int(options.get("fail_attempts", "0"))
        self.max_retries = int(options.get("max_retries", "3"))
        self.backoff_factor = float(options.get("backoff_factor", "2.0"))

    def partitions(self) -> list[InputPartition]:
        return pack(self.tickers, self.num_partitions)

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        for ticker in partition.value:
            yield from self._fetch(ticker)

    def _fetch(self, ticker: str) -> list[tuple]:
        # where a real HTTP client would go: the whole per-ticker fetch under
        # retry-with-backoff, then skip-and-continue on exhaustion
        from multi_source_financial_data_pipeline_spark.functions.resilience import retry_with_backoff

        attempt_box = {"n": 0}

        def fetch() -> list[tuple]:
            attempt_box["n"] += 1
            if self.transport == "http":
                return http_fetch_ohlcv(
                    self.base_url,
                    ticker,
                    self.start,
                    self.end,
                    self.source,
                    min_interval_ms=self.min_interval_ms,
                )
            if ticker in self.fail_tickers and attempt_box["n"] <= self.fail_attempts:
                raise ConnectionError(
                    f"simulated fetch failure for {ticker} (attempt {attempt_box['n']})"
                )
            return [
                quote(ticker, d, self.source)
                for d in business_days(self.start, self.end)
            ]

        wrapped = retry_with_backoff(
            max_retries=self.max_retries, backoff_factor=self.backoff_factor
        )(fetch)
        try:
            return wrapped()
        except Exception:
            return []  # retries exhausted: skip this ticker


class MarketTickStreamReader(SimpleDataSourceStreamReader):
    """Streaming variant of the market feed (§2.9 extension): the offset is
    an index into the business-day sequence, each micro-batch emits
    ``days_per_batch`` days of quotes for every ticker, and
    ``readBetweenOffsets`` replays any committed range deterministically —
    the exactly-once recovery contract (a real feed would store cursor/
    sequence ids instead of day indices).

    Caveat pinned by tests: Spark's Python micro-batch stream does not
    support Trigger.AvailableNow (it falls back to a SINGLE batch covering
    the first prefetched read), so a full-window drain sets
    ``days_per_batch`` >= the window length, while incremental multi-batch
    consumption uses a processingTime trigger."""

    def __init__(self, options: dict) -> None:
        self.tickers = [t for t in options.get("tickers", "").split(",") if t]
        start = date.fromisoformat(options["start"])
        end = date.fromisoformat(options["end"])
        self.source = options.get("source", "yahoo")
        self.days = list(business_days(start, end))
        self.days_per_batch = int(options.get("days_per_batch", "1"))

    def initialOffset(self) -> dict:
        return {"day": 0}

    def _rows(self, lo: int, hi: int) -> Iterator[tuple]:
        return iter(
            [
                quote(t, d, self.source)
                for d in self.days[lo:hi]
                for t in self.tickers
            ]
        )

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["day"]
        hi = min(lo + self.days_per_batch, len(self.days))
        return self._rows(lo, hi), {"day": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._rows(start["day"], end["day"])


class MarketDataSource(DataSource):
    """spark.read.format("market_sim").option("tickers", "AAPL,MSFT")
    .option("start", "2024-01-01").option("end", "2024-03-29").load()
    — or readStream with the same options for the tick-stream variant."""

    @classmethod
    def name(cls) -> str:
        return "market_sim"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> MarketDataReader:
        return MarketDataReader(self.options)

    def simpleStreamReader(self, schema) -> MarketTickStreamReader:
        return MarketTickStreamReader(self.options)


MACRO_SCHEMA = "series_id string, series_name string, date date, value double"


class MacroSeriesReader(DataSourceReader):
    """FRED-shaped series feed (SURVEY.md §2.1 S4-S5): series ids packed
    into at most ``numPartitions`` input partitions (`pack`), each series
    fetched under its own retry-and-skip — the cluster schedules the groups
    as tasks, replacing the reference's sequential skip-on-error loop
    (/root/reference/src/macro.py:193-211). Monthly observations on the
    first of each month, deterministic md5-derived values."""

    def __init__(self, options: dict) -> None:
        self.num_partitions = options.get("numPartitions")
        self.series = [s for s in options.get("series", "").split(",") if s]
        self.names = dict(
            pair.split("=", 1)
            for pair in options.get("names", "").split(";")
            if "=" in pair
        )
        self.start = date.fromisoformat(options["start"])
        self.end = date.fromisoformat(options["end"])
        # same transport seam as the market reader (S4/S5 slot — where the
        # reference's FRED API calls live, src/macro.py:113-163)
        self.transport = options.get("transport", "sim")
        self.base_url = options.get("base_url", "")
        self.max_retries = int(options.get("max_retries", "3"))
        self.backoff_factor = float(options.get("backoff_factor", "2.0"))

    def partitions(self) -> list[InputPartition]:
        return pack(self.series, self.num_partitions)

    def _sim_rows(self, sid: str, name: str) -> Iterator[tuple]:
        d = date(self.start.year, self.start.month, 1)
        if d < self.start:
            d = (
                date(d.year + 1, 1, 1)
                if d.month == 12
                else date(d.year, d.month + 1, 1)
            )
        while d <= self.end:
            value = (_h(f"{sid}|{d.isoformat()}") % 100000) / 100.0
            yield (sid, name, d, value)
            d = (
                date(d.year + 1, 1, 1)
                if d.month == 12
                else date(d.year, d.month + 1, 1)
            )

    def _http_rows(self, sid: str, name: str) -> list[tuple]:
        """Parse the REAL FRED ``/fred/series/observations`` payload shape
        (what fredapi's ``get_series`` consumes,
        /root/reference/src/macro.py:136): ``{"observations": [{"date":
        "YYYY-MM-DD", "value": "3.4", "realtime_start": ..., ...}, ...]}``
        — values are STRINGS and a missing observation is the literal
        ``"."``, which the reference coerces to NaN via
        ``pd.to_numeric(errors='coerce')`` (src/macro.py:155); the SQL twin
        is a NULL."""
        import json as _json
        from urllib.parse import urlencode
        from urllib.request import urlopen

        qs = urlencode(
            {"series": sid, "start": self.start.isoformat(),
             "end": self.end.isoformat()}
        )
        with urlopen(f"{self.base_url}/series?{qs}", timeout=10.0) as resp:
            if resp.status != 200:
                raise ConnectionError(f"HTTP {resp.status} for {sid}")
            payload = _json.load(resp)

        def coerce(v):  # pd.to_numeric(errors="coerce") twin
            try:
                return float(v)
            except (TypeError, ValueError):
                return None

        return [
            (sid, name, date.fromisoformat(r["date"]), coerce(r["value"]))
            for r in payload["observations"]
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        for sid in partition.value:
            yield from self._fetch(sid, self.names.get(sid, sid))

    def _fetch(self, sid: str, name: str) -> Iterator[tuple]:
        from multi_source_financial_data_pipeline_spark.functions.resilience import retry_with_backoff

        if self.transport != "http":
            return self._sim_rows(sid, name)
        wrapped = retry_with_backoff(
            max_retries=self.max_retries, backoff_factor=self.backoff_factor
        )(lambda: self._http_rows(sid, name))
        try:
            return iter(wrapped())
        except Exception:
            # retries exhausted: skip this series, keep the job alive —
            # the reference's skip-on-error loop (src/macro.py:193-211)
            return iter(())


class MacroDataSource(DataSource):
    """spark.read.format("fred_sim").option("series", "UNRATE,CPIAUCSL")
    .option("names", "UNRATE=Unemployment Rate;...")
    .option("start", "2020-01-01").option("end", "2023-12-31").load()"""

    @classmethod
    def name(cls) -> str:
        return "fred_sim"

    def schema(self) -> str:
        return MACRO_SCHEMA

    def reader(self, schema) -> MacroSeriesReader:
        return MacroSeriesReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(MarketDataSource)
    spark.dataSource.register(MacroDataSource)


def read_with_skip_report(
    spark,
    tracker=None,
    **options: str,
):
    """S1-S3 fetch with the reference's skip-on-error accounting
    (src/macro.py:206-208): read AAPL, MSFT and TSLA from the Yahoo feed
    for 2024-01-01..2024-01-10 through the connector, packed to
    the session's ``defaultParallelism`` unless ``options`` sets
    ``numPartitions`` (each ticker already retries and skips inside its
    partition), then reconcile the requested ticker list against the
    tickers that actually arrived and record one ErrorTracker error per
    skipped ticker. The reconcile is a distinct over the ticker column —
    ticker-list-sized, not data-sized."""
    register(spark)
    reader = (
        spark.read.format("market_sim")
        .option("tickers", ",".join(["AAPL", "MSFT", "TSLA"]))
        .option("start", "2024-01-01")
        .option("end", "2024-01-10")
        .option("source", "yahoo")
        .option("numPartitions", spark.sparkContext.defaultParallelism)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load()
    if tracker is not None:
        present = {r[0] for r in df.select("ticker").distinct().collect()}
        for t in ["AAPL", "MSFT", "TSLA"]:
            if t not in present:
                tracker.add_error(
                    "market_fetch",
                    f"Failed to fetch {t} after retries; partition skipped",
                )
    return df
