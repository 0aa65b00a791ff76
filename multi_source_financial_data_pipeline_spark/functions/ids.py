"""Deterministic identifiers + the injectable run clock (SURVEY.md §2.7
F6-F7).

The reference stamps several ``datetime.now()`` values per run
(/root/reference/src/pipeline.py:87, src/database.py:186,
src/output_manager.py:61); this engine threads ONE injected run timestamp
through every sink so golden tests and oracle hashes are stable.
"""

from __future__ import annotations

import hashlib
from datetime import datetime


def request_id(
    run_ts: datetime, tickers: list[str], start_date: str, end_date: str
) -> str:
    """F7 (src/database.py:332-343): {yyyymmdd_hhmmss}_{sorted tickers}_{start}_{end}
    with dashes stripped from the dates; ticker blobs >50 chars collapse to
    '{first-input-ticker}_and_{n-1}_more_{md5[:8]}' (the reference indexes
    the UNSORTED input list for the leading ticker — mirrored exactly)."""
    ticker_str = "_".join(sorted(tickers))
    if len(ticker_str) > 50:
        ticker_hash = hashlib.md5(ticker_str.encode()).hexdigest()[:8]
        ticker_str = f"{tickers[0]}_and_{len(tickers) - 1}_more_{ticker_hash}"
    ts = run_ts.strftime("%Y%m%d_%H%M%S")
    start = start_date.replace("-", "")
    end = end_date.replace("-", "")
    return f"{ts}_{ticker_str}_{start}_{end}"


def csv_export_name(
    run_ts: datetime, tickers: list[str], start_date: str, end_date: str
) -> str:
    """K7 filename (src/output_manager.py:44-55): long ticker blobs collapse
    to '{first-input-ticker}-and-{n-1}more-{md5[:6]}' — note the missing
    underscore before 'more' and the 6-char hash, both mirrored from the
    reference verbatim."""
    ticker_str = "-".join(sorted(tickers))
    if len(ticker_str) > 50:
        ticker_hash = hashlib.md5(ticker_str.encode()).hexdigest()[:6]
        ticker_str = f"{tickers[0]}-and-{len(tickers) - 1}more-{ticker_hash}"
    ts = run_ts.strftime("%Y%m%d_%H%M%S")
    start = start_date.replace("-", "")
    end = end_date.replace("-", "")
    return f"prices_{ticker_str}_{start}-{end}_{ts}.csv"
