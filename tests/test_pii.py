"""PII redaction span parity: the synthetic corpus is PII-free (the registry
query's counts are honest zeros), so the real evidence that Spark
(java.util.regex) and DuckDB (RE2) redact the SAME spans comes from crafted
adversarial strings driven through both engines' actual expressions —
including partial/boundary cases designed to split the two dialects if the
patterns ever leave the portable subset."""

from __future__ import annotations

import duckdb
import pandas as pd

from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.operators.text import (
    PII_PATTERNS,
    pii_columns,
)

CRAFTED = [
    "contact a.b-c_d%e+f@sub.example.co.uk now",
    "two mails x@y.io and z@w.org plus ip 10.0.255.1 inline",
    # no dotted-quad match in either engine: every 1-3 digit final group is
    # followed by another digit, so the trailing \b fails everywhere
    "not-an-ip 999.999.999.9999 has no word-boundary after any quad",
    "trailing dot host@example.com. punctuation",
    "no pii here just words and numbers 12345",
    "phone +1 555 123 4567 or +49-89-123456 end",
    "plus sign but too short +12 345",
    "edge @example.com leading-at only, and a@b.cd minimal",
    "ip at end 192.168.0.1",
    "email@host.travel +123456789012345 8.8.8.8",
    # r07 ADVICE: octets are now range-constrained — invalid quads must NOT
    # count as IPv4 in either engine (999.* has valid word boundaries here)
    "bogus quad 999.999.999.999 and 256.256.256.256 stay unredacted",
    "version string 1.2.3.4 IS a valid quad; 300.1.2.3 is not",
    "boundary octets 0.0.0.0 and 255.255.255.255 both match",
    "",
]


def test_pii_span_parity(spark):
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CRAFTED)], "doc_id long, text string"
    )
    cols = pii_columns()
    got = (
        sdf.select(
            "doc_id",
            *[cols[f"n_{n}"].alias(f"n_{n}") for n, _, _ in PII_PATTERNS],
            cols["scrubbed"].alias("scrubbed"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.register("crafted", pd.DataFrame(
        {"doc_id": range(len(CRAFTED)), "text": CRAFTED}
    ))
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{n}"
        for n, p, _ in PII_PATTERNS
    )
    scrub = "text"
    for _, p, tok in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{p}', '{tok}', 'g')"
    want = con.sql(
        f"SELECT doc_id, {counts}, {scrub} AS scrubbed FROM crafted ORDER BY doc_id"
    ).df()

    for n, _, _ in PII_PATTERNS:
        assert got[f"n_{n}"].tolist() == want[f"n_{n}"].tolist(), n
    assert got["scrubbed"].tolist() == want["scrubbed"].tolist()
    # the crafted set must actually exercise every pattern
    assert got["n_email"].sum() >= 5
    assert got["n_ipv4"].sum() >= 3
    assert got["n_phone"].sum() >= 3
    # octet range constraint: invalid quads count zero, valid ones count —
    # parity alone can't prove this (both engines could over-match equally)
    by_text = dict(zip(CRAFTED, got["n_ipv4"].tolist()))
    assert by_text["bogus quad 999.999.999.999 and 256.256.256.256 stay unredacted"] == 0
    assert by_text["version string 1.2.3.4 IS a valid quad; 300.1.2.3 is not"] == 1
    assert by_text["boundary octets 0.0.0.0 and 255.255.255.255 both match"] == 2


# --- third-engine referee: python `re` over randomized strings ---------------

import re

from hypothesis import given, settings, strategies as st

_FRAGMENTS = st.lists(
    st.sampled_from(
        [
            "user", "@", ".", "example", "com", " ", "+", "-", "1", "23",
            "555", "10.0", "0.1", "a", "Z", "%", "_", "co.uk", "8.8.8.8",
            "x@y.io", "+49 89 123456", "192.168", "..", "@@",
        ]
    ),
    min_size=0,
    max_size=12,
).map("".join)


@given(text=_FRAGMENTS)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_pii_patterns_match_python_re(text):
    """The portable-subset claim, refereed by a third regex engine: for
    every PII pattern, python `re` (PCRE-ish, like java.util.regex) must
    find the same spans AND the same sequential redaction as the DuckDB
    (RE2) expressions the oracle runs — on adversarial concatenations of
    boundary fragments. Spark-vs-DuckDB parity on crafted strings is pinned
    above; this closes the loop re-vs-RE2 on a much larger input space."""
    import duckdb

    con = duckdb.connect()
    scrub_py = text
    for name, pat, token in PII_PATTERNS:
        n_py = len(re.findall(pat, text))
        n_duck = con.sql(
            "SELECT len(regexp_extract_all(?, ?))", params=[text, pat]
        ).fetchone()[0]
        assert n_py == n_duck, (name, text)
        scrub_py = re.sub(pat, token, scrub_py)
    scrub_sql = "?"
    params = [text]
    for _, pat, token in PII_PATTERNS:
        scrub_sql = f"regexp_replace({scrub_sql}, ?, ?, 'g')"
        params += [pat, token]
    got = con.sql(f"SELECT {scrub_sql}", params=params).fetchone()[0]
    assert got == scrub_py, text
