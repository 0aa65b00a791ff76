"""Vector-similarity operators over an embedding column (array<float>).

Brute-force cosine is the exactness baseline. Per-pair scoring (top-k) runs
JVM-side as ``zip_with`` + ``aggregate`` (sequential left fold, mirrored
exactly by the DuckDB oracle's ``list_reduce``); the all-pairs path
(`cosine_neardup_pairs`) runs the same fold as an Arrow-blocked vectorized
numpy accumulation — bit-identical results (dimension-ordered, no FMA/
pairwise reordering) at block-matmul speed. The scale path buckets vectors
with sign-random-hyperplane LSH so candidate generation is linear-ish; at
100 TB you additionally pre-partition by bucket so repeated queries touch one
partition (an IVF coarse quantizer has the same plan shape: bucket by nearest
centroid, probe a few buckets).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row, Window, functions as F

from multi_source_financial_data_pipeline_spark.session import local_frame

_ZERO = "cast(0.0 as double)"


#: One rule for every expression helper here: it takes column names or
#: SQL text and parses ONE string — no Column-DSL folds. Building a
#: higher-order function through the DSL costs ~27–58 ms of py4j round
#: trips per call (measured: `dot` 26.9 ms, `_best_cells` 58.4 ms), and
#: the ANN family builds dozens per query; parsing the same expression
#: is ~0.6 ms and yields the identical Catalyst tree. Folds are left
#: folds with a 0.0 seed: the same float-op order as DuckDB's
#: ``list_reduce``, so results are bit-identical to the oracles.
def _fold_sum_sql(arr: str) -> str:
    return f"aggregate({arr}, {_ZERO}, (acc, x) -> acc + x)"


def _dot_sql(a: str, b: str) -> str:
    return _fold_sum_sql(f"zip_with({a}, {b}, (x, y) -> x * y)")


def _sq_norm_sql(a: str) -> str:
    return _fold_sum_sql(f"transform({a}, x -> x * x)")


def _sq_dist_sql(a: str) -> str:
    return _fold_sum_sql(f"zip_with({a}, c.cv, (x, y) -> (x - y) * (x - y))")


def _cos_sql(dp: str, an: str, bn: str) -> str:
    """round(cosine, 6) from a dot-product term and two squared norms, all
    double arithmetic; null for a zero vector (nullif divisor — ANSI-safe,
    mirrored in the oracles)."""
    return f"round({dp} / nullif(sqrt({an} * {bn}), {_ZERO}), 6)"


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def sq_norm(a: str) -> Column:
    return F.expr(_sq_norm_sql(a))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _quote(name: str) -> str:
    """Backtick-quote a caller-supplied column name for a SQL fragment."""
    return "`" + name.replace("`", "``") + "`"


def _as_double_sql(col: str) -> str:
    return f"cast({_quote(col)} as array<double>)"


def _vec_side(
    df: DataFrame, id_col: str, vec_col: str, out: tuple[str, str, str],
    *keep: str,
) -> DataFrame:
    """(id, array<double> vector, squared norm) named ``out``, plus the
    ``keep`` columns — the one query or corpus side every scorer joins.
    The norm is computed once per side, so each pair costs one fold."""
    i, v, n = out
    return df.select(
        F.col(id_col).alias(i), _as_double(vec_col).alias(v), *keep
    ).withColumn(n, sq_norm(v))


def _subvectors(
    df: DataFrame, keep: list, vec: str, m: int, sub: int, out: str
) -> DataFrame:
    """``keep`` plus (s, ``out``): the SQL vector ``vec`` split into its
    ``m`` contiguous ``sub``-wide subvectors, one row each."""
    return df.select(
        *keep,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> slice({vec}, s * {sub} + 1, {sub}))"
            )
        ).alias("s", out),
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-``k`` per query of (query_id, cand_id, cos_sim) by rounded
    cosine with the lowest-id tiebreak, so results are deterministic."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


#: per-component quantization scale for order-proof centroid means: summing
#: round(x·10⁶) as BIGINT is associative, so the mean is identical under any
#: partitioning/summation order — the float-sum nondeterminism k-means
#: usually suffers across engines/retries simply cannot occur.
KMEANS_Q = 1_000_000


def _rematerialize_local(df: DataFrame) -> DataFrame:
    """Collect a BOUNDED frame (centroid/codebook scale: k·dim cells, never
    corpus-proportional) and re-create it as a local relation through
    `local_frame` (a ``LocalTableScan``, no Python task) — the lineage cut
    for the Lloyd loops (guide §5). Each iteration's tiny centroid frame
    otherwise EMBEDS the full previous chain, and every downstream
    reference (next assign, final encode, LUT assembly) re-plans and
    re-executes it — the r18 plan audit counted 180
    Exchanges in one recall-harness plan from exactly this growth. A
    `localCheckpoint` also cuts the lineage but leaves an opaque RDD scan
    that costs ~1.3 s of Catalyst re-planning per reference chain
    (measured, r19); a local relation plans in microseconds and broadcasts
    straight from the driver. This is the same shape MLlib's own KMeans
    uses: centers come back to the driver every Lloyd iteration. Values
    are computed once and round-trip bit-exactly (collected IEEE doubles),
    so selections and the oracle replay are unaffected."""
    return local_frame(df.sparkSession, df.collect(), df.schema)


def _km_assign(e: DataFrame, cents_df: DataFrame) -> DataFrame:
    """One Lloyd assignment of ``e`` (vec_id, v) against ``cents_df``
    (cell, cv): centroids as ONE broadcast array row, argmin as a map-only
    array_sort over (d, cell) structs — same r14 rewrite as
    `pq_train_encode`: the previous n·k-row crossJoin + row_number window
    was a full sort-shuffle per assign whose cost grew with k, which is
    exactly wrong once nlist grows with the corpus. Rounded distance and
    (d asc, cell asc) tiebreak, so selections — hence centroids, inertia,
    and the oracle's window-formulated replay — are deterministic."""
    percell = cents_df.agg(
        F.array_sort(F.collect_list(F.struct("cell", "cv"))).alias("cs")
    )
    best = F.expr(  # parse path — identical tree, ~60 ms/call cheaper
        "array_sort(transform(cs, c -> named_struct("
        f"'d', round({_sq_dist_sql('v')}, 6), 'cell', c.cell)))"
    )[0]
    return e.join(F.broadcast(percell)).select(
        "vec_id",
        "v",
        best["cell"].alias("cell"),
        best["d"].alias("d"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
) -> DataFrame:
    """The Lloyd loop of `kmeans_refine`, exposed as the refined
    ``(cell, cv)`` centroid frame: deterministic seeds (the first ``k``
    vectors by id — the ivf_seed convention), ``iters`` rounds of
    map-only assignment (`_km_assign`) + one (cell, dim) hash-aggregate
    update each. `kmeans_refine` composes this with a final evaluation
    assignment for its stats row; the residual-IVF-PQ frontier probe
    (`scale_probe.py residual_refined`, r14 VERDICT item 5) feeds it to
    `ivfpq_residual_adc_topk(coarse_centers=...)` to measure what
    Lloyd-refined cells buy residual encoding."""
    e = embeddings.select(
        F.col("vec_id").alias("vec_id"), _as_double("embedding").alias("v")
    )
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = _km_assign(e, cents)
        comp = assigned.select(
            "cell", F.posexplode("v").alias("pos", "x")
        ).select(
            "cell",
            "pos",
            F.round(F.col("x") * KMEANS_Q, 0).cast("long").alias("qx"),
        )
        sums = comp.groupBy("cell", "pos").agg(
            F.sum("qx").alias("sq"), F.count(F.lit(1)).alias("n")
        )
        mean = (F.col("sq").cast("double") / (F.col("n") * F.lit(float(KMEANS_Q)))).alias("m")
        cents = sums.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), mean))),
                lambda s: s.m,
            ).alias("cv")
        )
    return cents


def kmeans_refine(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
) -> DataFrame:
    """`iters` unrolled Lloyd iterations from deterministic seeds (the
    first `k` vectors by id — the ivf_seed convention), then a final
    evaluation assignment: per surviving cell, member count, inertia
    (Σ rounded d², decimal-exact sum) and the refined centroid's norm.

    Scale shape per iteration: assignment is a MAP-ONLY argmin against the
    broadcast centroid array (k·d doubles ship to every executor; no
    shuffle, no window — cost n rows regardless of k, the r14 rewrite
    shared with `pq_train_encode`), the update is ONE (cell, dim) hash aggregate over
    quantized components (linear, map-side combined, associative BIGINT
    sums) folded back to k centroid rows. Nothing is ever pairwise in the
    corpus; at 100 TB you would persist the source once and reuse it across
    iterations (here the plan re-reads it, keeping the DAG pure for the
    oracle)."""
    e = embeddings.select(
        F.col("vec_id").alias("vec_id"), _as_double("embedding").alias("v")
    )
    cents = kmeans_centroids(embeddings, k, iters)
    final = _km_assign(e, cents)
    out = final.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("d").cast("decimal(20,6)")).cast("double").alias("inertia"),
    )
    norms = cents.select(
        "cell", F.round(F.sqrt(sq_norm("cv")), 6).alias("centroid_norm")
    )
    return out.join(F.broadcast(norms), "cell").select(
        "cell", "n_members", "inertia", "centroid_norm"
    )


def _pq_subvectors(
    embeddings: DataFrame, m: int, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, s, sv): each vector split into its m contiguous
    subvectors — the shared explode for PQ training and encode-only."""
    return _subvectors(
        embeddings, [F.col(id_col).alias("vec_id")], _as_double_sql(vec_col),
        m, sub, "sv",
    )


def _pq_assign_codes(subs: DataFrame, cents_df: DataFrame) -> DataFrame:
    """Per-(vector, subspace) nearest sub-centroid — ONE definition for
    the training loop and encode-only serving (`pq_encode`). The
    per-subspace codebook folds to ONE broadcast array row, argmin is a
    map-only array_sort over (d, cell) structs — the `ivf_assign`
    pattern. The r13 formulation exploded to n·m·k rows and ranked
    them with a row_number window (a full sort-shuffle, ×3 per run);
    at the 8-bit budget (k=256) that was 4.1M shuffled rows per
    assign and made codebook cost grow with k, not just n. Same
    rounded distance, same (d asc, cell asc) tiebreak, so the
    SELECTED cells — hence centroids, codes, and the DuckDB oracle
    replay — are identical; only the shuffle is gone."""
    percell = cents_df.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("cell", "cv"))).alias("cs")
    )
    best = F.expr(  # parse path — identical tree, ~60 ms/call cheaper
        "array_sort(transform(cs, c -> named_struct("
        f"'d', round({_sq_dist_sql('sv')}, 6), 'cell', c.cell)))"
    )[0]
    return subs.join(F.broadcast(percell), "s").select(
        "vec_id",
        "s",
        "sv",
        best["cell"].alias("cell"),
        best["d"].alias("d"),
    )


def pq_encode(
    embeddings: DataFrame,
    cents: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """ENCODE-ONLY against an existing codebook frame ``(s, cell, cv)``
    — the serving-time half of `pq_train_encode`, split out for
    incremental index maintenance (`pq_index_upsert`): new vectors are
    coded with the codebooks the index was TRAINED with (FAISS `add`
    semantics — adding never retrains), so no Lloyd iteration runs here
    (monkeypatch-pinned). One map-only argmin per (vector, subspace)
    against the broadcast codebook; returns (vec_id, s, cell)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subs = _pq_subvectors(embeddings, m, dim // m, "vec_id", vec_col)
    return _pq_assign_codes(subs, cents).select("vec_id", "s", "cell")


def pq_train_encode(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks + codes (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    splits into ``m`` contiguous subspaces of ``dim/m`` components; each
    subspace trains its OWN ``k``-centroid Lloyd codebook (`iters`
    unrolled iterations from the deterministic first-``k``-vectors seed,
    the `kmeans_refine` convention), and a vector's code is its nearest
    sub-centroid per subspace — ``m`` small ints (here 8 × 4 bits) in
    place of ``dim`` doubles, the compression that makes billion-vector
    ANN storable.

    Returns ``(cents, codes)``: ``(s, cell, cv)`` codebook rows (m·k of
    them — tiny, broadcastable) and ``(vec_id, s, cell)`` code rows.

    Scale shape: ALL subspaces train in ONE pipeline per iteration — the
    (vec_id, s) explode carries the same total bytes as the corpus (m
    rows of dim/m each), assignment is a MAP-ONLY argmin against the
    broadcast per-subspace codebook array (no shuffle, no window — cost
    n·m rows regardless of k; r14 fix of the k-proportional shuffle the
    row_number formulation paid), the update is one
    (s, cell, pos) hash aggregate over KMEANS_Q-quantized components
    (associative BIGINT sums — order-proof means, the same cross-engine
    determinism contract as `kmeans_refine`). Nothing is pairwise in the
    corpus; m multiplies nothing but the broadcast's row count."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    subs = _pq_subvectors(embeddings, m, sub, id_col, vec_col)
    cents = subs.filter(F.col("vec_id") < k).select(
        "s", F.col("vec_id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        return _pq_assign_codes(subs, cents_df)

    for _ in range(iters):
        assigned = assign(cents)
        comp = assigned.select(
            "s", "cell", F.posexplode("sv").alias("pos", "x")
        ).select(
            "s",
            "cell",
            "pos",
            F.round(F.col("x") * KMEANS_Q, 0).cast("long").alias("qx"),
        )
        sums = comp.groupBy("s", "cell", "pos").agg(
            F.sum("qx").alias("sq"), F.count(F.lit(1)).alias("n")
        )
        mean = (
            F.col("sq").cast("double") / (F.col("n") * F.lit(float(KMEANS_Q)))
        ).alias("mn")
        cents = sums.groupBy("s", "cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), mean))),
                lambda st: st.mn,
            ).alias("cv")
        )
    # ONE lineage cut after the loop (guide §5): the trained m·k-row
    # codebook is referenced 3+ times downstream (final encode, dot LUT,
    # norm LUT — and in the residual variant also the per-cell norm LUT),
    # and without the cut every reference embeds and re-plans the whole
    # unrolled training chain — the r18 plan audit counted 180 Exchanges
    # in one recall-harness plan from exactly this growth. The training
    # itself stays ONE lazy fused job (per-iteration cuts measured slower
    # at bench scale: one job beats iters round-trips). Collected doubles
    # round-trip bit-exactly, so codes, LUTs and the oracle replay are
    # unaffected — same shape as MLlib KMeans' per-iteration driver-side
    # centers, applied once at the train/serve boundary.
    cents = _rematerialize_local(cents)
    codes = assign(cents).select("vec_id", "s", "cell")
    return cents, codes


class _PQIndex(NamedTuple):
    """One PQ index as the ADC serving path consumes it — trained inline
    (`_ivfpq_train`, `pq_adc_topk`) or read back from disk
    (`_read_pq_index`): ``codes`` (vec_id, s, code[, ivf_cell]),
    ``cents`` (s, code, cv), the 1-row coarse ``quantizer`` (None for flat
    PQ), the (ivf_cell, ctr) cell ``centers`` of a residual index (None
    for raw-vector codes), the subspace geometry and the per-query LUT
    row count."""

    codes: DataFrame
    cents: DataFrame
    quantizer: DataFrame | None
    centers: DataFrame | None
    m: int
    sub: int
    lut_rows: int


def _seed_centers(quantizer: DataFrame) -> DataFrame:
    """(ivf_cell, ctr): a quantizer row exploded back to its centers."""
    return quantizer.select(F.explode("seeds").alias("sd")).select(
        F.col("sd")["seed_id"].alias("ivf_cell"),
        F.col("sd")["sv"].alias("ctr"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codebook: int = 16,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the actual PQ
    SERVING plan: the scan touches only the ``(vec_id, s, cell)`` code
    rows, never a reconstructed vector. Per query, two lookup tables are
    precomputed against the m·k sub-centroids (sub-dot of the query's
    subvector with each centroid; each centroid's sub-norm) and broadcast;
    a candidate's cosine then assembles as

        cos(q, recon(c)) = Σ_s LUT_dot[s, code] /
                           sqrt(|q|² · Σ_s LUT_norm[s, code])

    because the reconstruction is blockwise — the dot and the norm both
    decompose over subspaces. Both Σ_s are ORDERED left folds over the
    s-sorted partials (collect → array_sort → `aggregate`), so the float
    sequence is engine-replayable (DuckDB `list_reduce` over
    ``list(... ORDER BY s)``) — the same bit-exactness discipline as
    every fold in this module; a plain `F.sum` would be
    partition-order-dependent.

    Scale: the per-query LUT is |q|·m·k rows (broadcast while the batch
    provably fits the budget — see `_small_query_batch`); the scan
    is one broadcast join over the code table (m rows per vector, ints
    only) + a (query, cand) hash aggregate of m partials. At 100 TB the
    code table IS the index — 8 bytes a vector against 512 for the raw
    doubles — and recall is measured by `plans/llmdata.q_pq_recall`.

    NOTE: this function trains codebooks INLINE (`pq_train_encode` runs
    per call) — the recall-HARNESS configuration, where training cost is
    part of what's measured. The deployment shape is the build/probe
    split: `build_pq_index` persists codebooks + codes once and
    `pq_topk_probe` serves with no Lloyd iteration."""
    cents, codes = pq_train_encode(
        embeddings, m=m, k=k_codebook, iters=iters, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    index = _PQIndex(
        codes.withColumnRenamed("cell", "code"),
        cents.withColumnRenamed("cell", "code"),
        None, None, m, dim // m, m * k_codebook,
    )
    return _adc_topk(index, queries, k, 0, query_id_col, vec_col)


def _adc_topk(
    index: _PQIndex,
    queries: DataFrame,
    k: int,
    nprobe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """The one ADC lookup-and-fold path (see `pq_adc_topk`): per-query
    dot LUTs against the codebooks, the codebook norm LUT, and — with a
    quantizer — the probed-cell restriction; residual indexes add the
    per-cell center-dot LUT and per-cell norm LUT (see
    `ivfpq_residual_adc_topk`). The (query, cand) partials fold in s
    order (engine-replayable left folds) into the cosine, ranked top-k.

    The query-proportional frames (probes |q|·nprobe, center dots
    |q|·nprobe·m, dot LUT |q|·m·k rows) are hinted only while the batch
    provably fits the broadcast budget (r14 VERDICT item 3; see
    `_small_query_batch`). The probes hint is also what drives dynamic
    partition pruning on a persisted codes/ scan; an over-cap batch loses
    the pruning along with the hint, which is the right trade — a batch
    that large probes most cells anyway. The norm LUT stays
    unconditionally hinted: m·k (residual: nlist·m·k) rows, a constant
    of the index geometry."""
    m, sub = index.m, index.sub
    q = _vec_side(queries, query_id_col, vec_col, ("query_id", "qv", "qn"))
    qsub = _subvectors(q, ["query_id", "qn"], "qv", m, sub, "qsv")
    dot_lut = qsub.join(F.broadcast(index.cents), "s").select(
        "query_id", "qn", "s", "code", dot("qsv", "cv").alias("dp"),
    )
    hb = _lut_hint(queries, index.lut_rows)
    parts, lut_keys = index.codes, ["s", "code"]
    if index.quantizer is not None:
        probes = _probe_cells(
            q.join(F.broadcast(index.quantizer)), nprobe, ["query_id"],
            "ivf_cell",
        )
        parts = parts.join(hb(probes), "ivf_cell")
        lut_keys = ["query_id"] + lut_keys
    if index.centers is not None:
        csub = _subvectors(index.centers, ["ivf_cell"], "ctr", m, sub, "csv")
        dlut_ctr = (
            qsub.join(probes, "query_id")
            .join(F.broadcast(csub), ["ivf_cell", "s"])
            .select("query_id", "ivf_cell", "s", dot("qsv", "csv").alias("dpc"))
        )
        parts = parts.join(hb(dlut_ctr), ["query_id", "ivf_cell", "s"])
        norm_lut = csub.join(index.cents, "s").select(
            "ivf_cell", "s", "code",
            sq_norm("zip_with(csv, cv, (x, y) -> x + y)").alias("np"),
        )
        norm_keys = ["ivf_cell", "s", "code"]
    else:
        norm_lut = index.cents.select("s", "code", sq_norm("cv").alias("np"))
        norm_keys = ["s", "code"]
    parts = (
        parts.join(hb(dot_lut), lut_keys)
        .join(F.broadcast(norm_lut), norm_keys)
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    if index.centers is not None:
        parts = parts.withColumn("dp", F.col("dpc") + F.col("dp"))

    def _s_fold(value: str) -> Column:
        return F.expr(
            _fold_sum_sql(
                f"transform(array_sort(collect_list(struct(s, {value}))),"
                f" st -> st.{value})"
            )
        )

    folded = parts.groupBy("query_id", "vec_id").agg(
        F.max("qn").alias("qn"),
        _s_fold("dp").alias("dps"),
        _s_fold("np").alias("nps"),
    )
    return _rank_topk(
        folded.select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.expr(_cos_sql("dps", "qn", "nps")).alias("cos_sim"),
        ),
        k,
    )


#: conservative per-row estimate for the widest per-query ADC lookup frame
#: (query_id long + qn double + s int + code int + dp double, plus row
#: overhead). Only the order of magnitude matters: it converts the session
#: broadcast threshold into a query-batch cap.
_LUT_ROW_BYTES = 48


def _broadcast_bytes_threshold(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (0 if disabled),
    as Spark's own SQLConf parsed it — Spark rejects malformed values at
    ``conf.set``, so there is no second grammar to keep in step."""
    return max(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold(),
        0,
    )


#: memo for `_small_query_batch`: (plan semanticHash, lut rows, byte cap)
#: -> [verdict, reuses_left]. A serving loop re-probing the SAME batch
#: plan pays the bounded count job once per _SMALL_BATCH_RECHECK reuses,
#: not per probe call (r15 VERDICT item 7). Keyed by the resolved-plan
#: hash so a re-read of changed source data with an identical plan reuses
#: the verdict — acceptable because the verdict only selects between two
#: CORRECT plans (hinted vs AQE-chosen); a stale or hash-colliding entry
#: can cost a broadcast of a batch that grew past the budget, never a
#: wrong answer. The reuse budget bounds HOW LONG that staleness can
#: live in a long-running serving process (r16 ADVICE: a True verdict
#: must not survive unbounded source growth): after _SMALL_BATCH_RECHECK
#: answered-from-memo calls the entry expires and the next call re-runs
#: the LIMIT-capped count. `clear_small_batch_memo()` drops everything
#: eagerly (e.g. after a known bulk load). Unbounded growth is not a
#: concern: one small entry per distinct probe-batch plan per process.
_SMALL_BATCH_MEMO: dict[tuple[int, int, int], list] = {}

#: answered-from-memo calls before a verdict must be re-proven. 64 keeps
#: the steady-state cost at one bounded count job per 65 probe calls
#: while capping how far a batch can grow past its proven size unnoticed.
_SMALL_BATCH_RECHECK = 64


def clear_small_batch_memo() -> None:
    """Eagerly invalidate every memoized broadcast-budget verdict — for
    long-lived serving processes that just changed the data under a
    probe-batch plan (the TTL above re-proves lazily; this is the
    immediate form)."""
    _SMALL_BATCH_MEMO.clear()


def _small_query_batch(queries: DataFrame, lut_rows_per_query: int) -> bool:
    """Decide whether the per-query ADC lookup frames (|q| ·
    ``lut_rows_per_query`` rows) fit the session's broadcast budget — the
    statistic Catalyst cannot estimate on its own (the LUT row count is a
    multiple of the QUERY batch, hidden behind joins and explodes whose
    size estimates don't compose). One bounded count of the batch (LIMIT
    cap+1, so an over-cap batch never pays a full count) buys back the
    zero-exchange hinted plan for every sanely-sized serving batch, while
    an over-cap batch gets UNhinted joins — AQE picks the strategy and
    nothing query-proportional is ever pinned into executor memory
    regardless of batch size (r14 VERDICT item 3: the hints must not be
    unconditional).

    Cost model (r15 ADVICE): the LIMIT bounds the ROWS the count job
    returns, not the lineage that produces them — a caller passing an
    expensive derived query frame pays that lineage here AND again at
    execution (the frame is not cached). Cheap for this module's
    filter-of-a-scan batches; callers with expensive derived batches
    should ``.cache()`` the frame first. Repeat probes of the SAME batch
    plan skip the job entirely via `_SMALL_BATCH_MEMO`.

    Measured at bench scale (sf0.1 codes, 10-query batch): unconditional
    unhinting made AQE stage a corpus-side shuffle WRITE before promoting
    the LUT join back to broadcast (1.3–1.75 s vs the 0.9–1.1 s hinted
    pin) — the hint is the right plan exactly while the batch is provably
    under the broadcast budget, and this supplies the proof."""
    spark = queries.sparkSession
    budget = _broadcast_bytes_threshold(spark)
    cap_rows = budget // _LUT_ROW_BYTES
    cap_q = cap_rows // max(lut_rows_per_query, 1)
    if cap_q <= 0:
        return False
    key = (queries.semanticHash(), lut_rows_per_query, budget)
    entry = _SMALL_BATCH_MEMO.get(key)
    if entry is not None and entry[1] > 0:
        entry[1] -= 1
        return entry[0]
    verdict = queries.limit(cap_q + 1).count() <= cap_q
    _SMALL_BATCH_MEMO[key] = [verdict, _SMALL_BATCH_RECHECK]
    return verdict


def _lut_hint(queries: DataFrame, lut_rows_per_query: int):
    """``F.broadcast`` when the batch is provably small, identity otherwise
    (see `_small_query_batch`)."""
    if _small_query_batch(queries, lut_rows_per_query):
        return F.broadcast
    return lambda df: df


def ivfpq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codebook: int = 16,
    iters: int = 2,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the composition billion-vector indexes actually deploy
    (FAISS IVFPQ / ScaNN) — a coarse IVF quantizer prunes the scan to
    each query's `nprobe` nearest cells, and INSIDE the probed cells the
    candidates are scored by PQ asymmetric distance over code rows, so
    the scan is both a ~nprobe/nlist FRACTION of the corpus and touches
    only 4-bit codes. Codebooks here quantize the raw vectors (the
    residual-encoding refinement — PQ over `v − cell_center` — would
    need per-cell LUTs, nlist× the LUT rows; raw-vector codes keep the
    global LUT and are what this corpus' recall cost measures).

    With ``nprobe == nlist`` the cell restriction vanishes and this is
    EXACTLY `pq_adc_topk` (pinned by test) — the coarse level only ever
    removes candidates, which is the designed trade.

    Plan: codes join their vector's IVF cell (linear), the tiny
    (query × nprobe) probe table broadcasts onto it — at scale the code
    table is WRITTEN partitioned by ivf_cell, turning that join into
    dynamic partition pruning: `build_pq_index` + `pq_topk_probe` is
    that deployment split (no inline training, pruned code scan); THIS
    function keeps training inline as the recall-harness configuration,
    where the train+encode cost is part of what's measured."""
    index = _ivfpq_train(
        embeddings, m, k_codebook, iters, dim, nlist, id_col, vec_col
    )
    return _adc_topk(index, queries, k, nprobe, query_id_col, vec_col)


def _ivfpq_train(
    embeddings: DataFrame,
    m: int,
    k_codebook: int,
    iters: int,
    dim: int,
    nlist: int,
    id_col: str,
    vec_col: str,
    coarse_centers: DataFrame | None = None,
    by_residual: bool = False,
) -> _PQIndex:
    """The one IVF-PQ training step: the coarse quantizer (the seed
    convention, or `centers_seed_row` of ``coarse_centers``) assigns each
    vector its ``ivf_cell``; the sub-codebooks train on the raw vectors
    or, ``by_residual``, on ``v − center(cell)`` against that same
    quantizer row. `build_pq_index` persists the result; the inline
    recall harnesses hand it straight to `_adc_topk`."""
    # residual centers: refined ones come back out of their quantizer
    # row, seed ones are a plain corpus filter — for each, the form with
    # the fewest Exchanges in its recall plan (sf0.01: 15 vs 16, 6 vs 9)
    if coarse_centers is not None:
        quantizer = centers_seed_row(coarse_centers)
        centers = _seed_centers(quantizer)
    else:
        quantizer = ivf_seed_row(embeddings, nlist, id_col, vec_col)
        centers = embeddings.filter(F.col(id_col) < nlist).select(
            F.col(id_col).alias("ivf_cell"), _as_double(vec_col).alias("ctr")
        )
    assigned = ivf_assign(
        embeddings, nlist, id_col, vec_col, centers_row=quantizer
    ).select(
        F.col(id_col).alias("vec_id"), "v", F.col("cell").alias("ivf_cell")
    )
    if by_residual:
        cents, codes = pq_train_encode(
            _residuals(assigned, centers), m=m, k=k_codebook, iters=iters,
            dim=dim, id_col="vec_id", vec_col="rv",
        )
    else:
        cents, codes = pq_train_encode(
            embeddings, m=m, k=k_codebook, iters=iters, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )
    return _PQIndex(
        codes.withColumnRenamed("cell", "code").join(
            assigned.select("vec_id", "ivf_cell"), "vec_id"
        ),
        cents.withColumnRenamed("cell", "code"),
        quantizer, centers if by_residual else None, m, dim // m,
        m * k_codebook,
    )


def _residuals(assigned: DataFrame, centers: DataFrame) -> DataFrame:
    """(vec_id, ivf_cell, rv): each assigned (vec_id, v, ivf_cell) vector
    minus its (ivf_cell, ctr) center — an elementwise subtract,
    engine-replayable."""
    return assigned.join(F.broadcast(centers), "ivf_cell").select(
        "vec_id",
        "ivf_cell",
        F.expr("zip_with(v, ctr, (x, y) -> x - y)").alias("rv"),
    )


def ivfpq_residual_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codebook: int = 16,
    iters: int = 2,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    coarse_centers: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — FAISS IVFPQ's actual default
    (``by_residual=true``): the sub-codebooks quantize ``r = v −
    center(cell)`` instead of the raw vector, so all of the code budget
    spends on the WITHIN-cell geometry the coarse quantizer can't see
    (the cell center carries the coarse position for free). The cost is
    per-CELL lookup tables: a candidate's reconstruction is
    ``center(cell) + recon_r(codes)``, so

        dot(q, recon)  = Σ_s [ dot(q_s, center_s)  +  dot(q_s, cv[s,code]) ]
        |recon|²       = Σ_s |center_s + cv[s,code]|²

    — the dot LUT splits into a (query × probed-cell × s) center part
    (|q|·nprobe·m rows: only PROBED cells pay) plus the usual global
    (query × s × code) residual part, and the norm LUT becomes
    (cell × s × code) — nlist× the rows of the raw-vector variant,
    still m·k·nlist ≈ thousands, broadcast. This is exactly the
    "per-cell LUTs" trade `ivfpq_adc_topk`'s docstring names; the
    measured recall lift it buys is `plans/llmdata.q_ivfpq_residual_recall`
    on the PERF.md frontier. Measured rule (r15): by_residual REQUIRES a
    refined coarse quantizer — over the default seed centers it collapses
    recall 3–6× below raw-vector codes, while `kmeans_centroids`-refined
    centers (via ``coarse_centers``) restore raw-vector parity exactly
    (PERF.md 'residual encoding needs refined cells').

    Every float op is engine-replayable: the residual is an elementwise
    subtract (`zip_with`), both Σ_s are the module's s-ordered left
    folds, and the norm partial is the same left fold over
    ``(center_i + cv_i)²`` that DuckDB's unrolled ``(0.0 + t₁ + …)``
    emits. Training runs inline (the recall-HARNESS configuration, same
    contract as `ivfpq_adc_topk`); `build_pq_index(by_residual=True)`
    persists the same training step for `pq_residual_topk_probe`.

    ``coarse_centers`` (a (cell, cv) frame, e.g. `kmeans_centroids`)
    substitutes Lloyd-refined centers for the default seed convention in
    ALL THREE coarse roles at once — assignment, residual subtraction,
    and query probing — keeping them consistent (the r14 frontier
    attributed the residual recall collapse partly to unrefined seed
    centers; `scale_probe.py residual_refined` measures that claim
    through this seam)."""
    index = _ivfpq_train(
        embeddings, m, k_codebook, iters, dim, nlist, id_col, vec_col,
        coarse_centers=coarse_centers, by_residual=True,
    )
    return _adc_topk(index, queries, k, nprobe, query_id_col, vec_col)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query side is broadcast
    (queries ≪ corpus); ranking is a per-query window on the rounded
    similarity with an id tiebreak, so results are deterministic."""
    cand = _vec_side(embeddings, "vec_id", vec_col, ("cand_id", "cv", "cn"))
    q = _vec_side(queries, "query_id", vec_col, ("query_id", "qv", "qn"))
    scored = cand.join(
        F.broadcast(q), F.col("cand_id") != F.col("query_id")
    ).select("query_id", "cand_id", _cos("qv", "cv", "qn", "cn"))
    return _rank_topk(scored, k)


def _cos(a: str, b: str, an: str, bn: str) -> Column:
    """The ``cos_sim`` column of two vector sides (see `_vec_side`)."""
    return F.expr(_cos_sql(_dot_sql(a, b), an, bn)).alias("cos_sim")


def _dim_ordered_dot(a_mat, b_mat):
    """All-pairs dot as a dimension-ordered accumulation: acc starts at 0.0
    and adds x_d*y_d in dimension order, so every pair's float-op sequence is
    IDENTICAL to the JVM ``aggregate`` left fold (and DuckDB ``list_reduce``)
    — bit-exact parity, at vectorized-numpy speed (each step is one
    elementwise multiply + one add over the whole pair block; no FMA, no
    pairwise summation reordering)."""
    import numpy as np

    acc = np.zeros((a_mat.shape[0], b_mat.shape[0]))
    for d in range(a_mat.shape[1]):
        acc += a_mat[:, d, None] * b_mat[None, :, d]
    return acc


def _dim_ordered_sq_norm(mat):
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return acc


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
) -> DataFrame:
    """All pairs above a cosine threshold (id_a < id_b), exact — as a
    DISTRIBUTED block-pair join: vectors hash into 16 blocks, the 136
    unordered block pairs are enumerated as a tiny broadcast table, both
    roles replicate to their block pairs, and a cogrouped
    ``applyInPandas`` scores each block pair as one vectorized matmul.
    Nothing is ever collected to the driver and no task holds more than
    two blocks (~n/8 vectors), so the exact O(n²) flops spread over the
    cluster (shuffle volume is ~8 × input — the standard exact-all-pairs
    tradeoff; use `lsh_neardup_pairs` when approximate recall is
    acceptable).

    Every unordered vector pair is scored exactly once: same-block pairs on
    the diagonal block (masked id_b > id_a), cross-block pairs on the single
    (min_blk, max_blk) tile with the ids min/max-ordered on emit. Dimension-
    ordered accumulation keeps results bit-identical to the
    ``zip_with``+``aggregate`` formulation and the DuckDB oracle; rounding
    stays JVM-side (`F.round`, HALF_UP) for the same reason."""
    import numpy as np
    import pandas as pd

    sess = embeddings.sparkSession
    e = embeddings.select(
        F.col("vec_id").alias("id"),
        _as_double("embedding").alias("v"),
        F.pmod(F.hash(F.col("vec_id")), F.lit(16)).alias("blk"),
    )
    # block-pair enumeration is plan-time metadata (136 tuples),
    # not data — broadcast-joined so each row fans out to its tiles only
    tiles = local_frame(
        sess,
        [(i, j, i * 16 + j) for i in range(16) for j in range(i, 16)],
        "bi int, bj int, tile int",
    )
    a_rep = (
        e.alias("ea")
        .join(F.broadcast(tiles.alias("ta")), F.col("ea.blk") == F.col("ta.bi"))
        .select(F.col("ta.tile").alias("tile"), F.col("ea.id").alias("id"), F.col("ea.v").alias("v"))
    )
    b_rep = (
        e.alias("eb")
        .join(F.broadcast(tiles.alias("tb")), F.col("eb.blk") == F.col("tb.bj"))
        .select(F.col("tb.tile").alias("tile"), F.col("eb.id").alias("id"), F.col("eb.v").alias("v"))
    )
    # prefilter on the raw cosine with a margin wider than any rounding
    # shift, so the exact JVM-side round + threshold decides membership
    raw_cut = threshold - 1e-6

    def score_tile(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "raw_cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "raw_cos": "float64"}
            )
        a_ids = a_pdf["id"].to_numpy()
        b_ids = b_pdf["id"].to_numpy()
        a_mat = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        b_mat = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        denom = np.sqrt(
            _dim_ordered_sq_norm(a_mat)[:, None] * _dim_ordered_sq_norm(b_mat)[None, :]
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _dim_ordered_dot(a_mat, b_mat) / denom
        (tile,) = key
        diagonal = (tile % 17) == 0  # tile = bi*16+bj with bi == bj
        if diagonal:
            mask = (b_ids[None, :] > a_ids[:, None]) & (cos >= raw_cut)
            i, j = np.nonzero(mask)
            lo, hi = a_ids[i], b_ids[j]
        else:
            i, j = np.nonzero(cos >= raw_cut)
            lo = np.minimum(a_ids[i], b_ids[j])
            hi = np.maximum(a_ids[i], b_ids[j])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "raw_cos": cos[i, j]})

    scored = (
        a_rep.groupby("tile")
        .cogroup(b_rep.groupby("tile"))
        .applyInPandas(score_tile, schema="id_a long, id_b long, raw_cos double")
    )
    return (
        scored.select("id_a", "id_b", F.round("raw_cos", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup_screen(
    assigned: DataFrame,
    threshold: float,
    cell_type: str = "long",
) -> DataFrame:
    """SemDeDup screening over a cell-assigned corpus: keep a vector iff NO
    earlier-id vector in its cell has round(cosine, 6) >= threshold (Abbas
    et al. 2023 — drop all but one of each intra-cluster near-twin group).

    ONE pass over the input: one shuffle by cell, then each cell scores its
    own pair block as a dimension-ordered numpy accumulation — bit-identical
    to the JVM ``aggregate`` fold / DuckDB ``list_reduce`` (same trick as
    `cosine_neardup_pairs`), at matmul speed instead of per-pair expression
    eval over Σ|cell|² join rows. Each task emits per vector the MAX raw
    cosine against its earlier in-cell peers (round is monotone, so
    exists(round(cos) >= T) ⟺ round(max cos) >= T); the round + threshold
    decision stays JVM-side for engine parity. -2.0 marks "no earlier
    peer / all peers zero-norm" (below any real threshold: cos ∈ [-1, 1]).

    Rows are scored in 1024-row slices, so task memory is
    1024 × |cell| doubles + the cell's vectors — the same one-cell-per-task
    bound the materialized index (`cells/` partitionBy) already assumes; at
    100 TB you size nlist so cells fit, exactly as for the ANN probe path."""
    import numpy as np
    import pandas as pd

    def screen_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy()
        cells_out = pdf["cell"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        n = len(ids)
        sq = _dim_ordered_sq_norm(mat)
        max_prev = np.full(n, -2.0)
        for s in range(0, n, 1024):
            e = min(s + 1024, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _dim_ordered_dot(mat[s:e], mat) / np.sqrt(
                    sq[s:e, None] * sq[None, :]
                )
            cos = np.where(np.isnan(cos), -np.inf, cos)
            # ids are sorted: "earlier" = strictly lower column index
            masked = np.where(
                np.arange(n)[None, :] < np.arange(s, e)[:, None], cos, -np.inf
            )
            if n:
                chunk_max = masked.max(axis=1)
                take = np.isfinite(chunk_max)
                max_prev[s:e][take] = chunk_max[take]
        return pd.DataFrame({"vec_id": ids, "cell": cells_out, "max_prev": max_prev})

    schema = f"`vec_id` long, `cell` {cell_type}, max_prev double"
    from multi_source_financial_data_pipeline_spark.operators.grouped import _fold_partitions

    screened = (
        assigned.select("vec_id", "v", "cell")
        # cells are many and small: pin grouped-map parallelism to cores
        # (see grouped._fold_partitions — AQE's byte-based coalescing
        # otherwise serializes every cell through one Python worker)
        .repartition(_fold_partitions(assigned), "cell")
        .groupBy("cell")
        .applyInPandas(screen_cell, schema=schema)
    )
    return screened.filter(
        F.round(F.col("max_prev"), 6) < F.lit(threshold)
    ).select("vec_id", "cell")


def signed_planes(num_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix (md5-seeded). ±1 components
    keep the projection a plain signed sum — exactly mirrorable in a DuckDB
    oracle, and as effective as Gaussian planes for sign-LSH."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"7|{p}|{d}".encode()).digest()[0] % 2 else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-random-hyperplane LSH bucket id per vector — the ANN scale path:
    bucket the corpus once (linear), generate candidates within buckets, then
    exact re-rank. At 100 TB the table is additionally partitioned by bucket
    so probes touch one partition."""
    planes = signed_planes(num_planes, dim)
    terms = []
    for p, plane in enumerate(planes):
        arr = ", ".join(f"cast({c:.1f} as double)" for c in plane)
        proj = (
            f"aggregate(zip_with({_as_double_sql('embedding')}, array({arr}),"
            f" (x, y) -> x * y), cast(0.0 as double), (acc, z) -> acc + z)"
        )
        terms.append(
            f"(CASE WHEN {proj} > 0 THEN shiftleft(cast(1 as bigint), {p})"
            f" ELSE cast(0 as bigint) END)"
        )
    bucket = F.expr(" + ".join(terms))
    return embeddings.select(F.col(id_col), F.col("embedding"), bucket.alias("bucket"))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine re-rank — the probe path over a bucket-partitioned
    corpus (recall < 1 by design; brute_force_topk is the exactness
    baseline). Few planes → big buckets → higher recall; the bucket join
    replaces the all-pairs crossjoin."""
    cand = _vec_side(
        lsh_bucket(embeddings, num_planes, 64, "vec_id"),
        "vec_id", "embedding", ("cand_id", "cv", "cn"), "bucket",
    )
    qb = _vec_side(
        lsh_bucket(queries, num_planes, 64, "query_id"),
        "query_id", "embedding", ("query_id", "qv", "qn"), "bucket",
    )
    scored = (
        qb.join(cand, ["bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _cos("qv", "cv", "qn", "cn"))
    )
    return _rank_topk(scored, k)


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs restricted to same-LSH-bucket candidates — the linear-
    ish scale path (recall < 1 by design; the brute-force operator is the
    exactness baseline). Bucket sizes are data-independent-ish (2^planes
    buckets), so the within-bucket self-join is skew-bounded."""
    b = lsh_bucket(embeddings, num_planes, dim, "vec_id")
    a = _vec_side(b, "vec_id", "embedding", ("id_a", "va", "na"), "bucket")
    c = _vec_side(b, "vec_id", "embedding", ("id_b", "vb", "nb"), "bucket")
    return (
        a.join(c, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos("va", "vb", "na", "nb"))
        .filter(F.col("cos_sim") >= threshold)
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid in LONG form (label, dim, centroid, n_vecs) — the
    coarse-quantizer construction step of an IVF index (bucket by nearest
    centroid, probe a few buckets) and the usual class-prototype summary.

    One posexplode → one map-side-combined groupBy on (label, dim): linear
    in corpus × dim, no pair space, no Python. Long form keeps the oracle
    comparison scalar-per-row; the mean is rounded to 6 decimals on both
    engines because float summation order differs across partial
    aggregates."""
    expl = embeddings.select(
        F.col("label").alias("label"),
        F.posexplode(_as_double("embedding")).alias("dim", "x"),
    )
    return expl.groupBy("label", "dim").agg(
        F.round(F.avg("x"), 6).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def ivf_seed_row(
    embeddings: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row DataFrame holding the IVF coarse quantizer: the `nlist`
    lowest-id vectors as cell centers, as a sorted array of
    (seed_id, sv, sn) structs. Deterministic by construction (a production
    index would run a few Lloyd iterations with the same assign plan below —
    the *index structure* is identical, only centroid quality differs).
    The row is broadcast wherever it is used: the quantizer is tiny
    (nlist × dim doubles) regardless of corpus size."""
    seeds = _vec_side(
        embeddings.filter(F.col(id_col) < nlist), id_col, vec_col,
        ("seed_id", "sv", "sn"),
    )
    return seeds.agg(
        F.sort_array(F.collect_list(F.struct("seed_id", "sv", "sn"))).alias("seeds")
    )


def centers_seed_row(centers: DataFrame) -> DataFrame:
    """`ivf_seed_row`'s shape built from an ARBITRARY (cell, vector)
    centroid frame (e.g. `kmeans_centroids` output) instead of the first
    nlist corpus vectors — the seam that lets the coarse quantizer be
    Lloyd-refined without touching any probe plan: the row is the same
    sorted (seed_id, sv, sn) struct array every `_best_cells` consumer
    already broadcasts."""
    seeds = centers.select(
        F.col("cell").cast("long").alias("seed_id"),
        F.col("cv").alias("sv"),
    ).withColumn("sn", sq_norm("sv"))
    return seeds.agg(
        F.sort_array(F.collect_list(F.struct("seed_id", "sv", "sn"))).alias("seeds")
    )


def _best_cells(vec: str, vec_norm: str, seeds: str = "seeds") -> Column:
    """Array of (neg_sim, cell) structs vs every seed of the ``seeds``
    array (SQL text), sorted best-first. neg_sim = -round(cos, 6) so
    ascending struct order is (highest cosine, lowest seed id) — the same
    tiebreak as every top-k in this module; a null cosine (zero vector)
    sorts last via the +2.0 sentinel."""
    cos = _cos_sql(_dot_sql(vec, "s.sv"), vec_norm, "s.sn")
    return F.expr(
        f"array_sort(transform({seeds}, s -> named_struct("
        f"'neg_sim', coalesce(-{cos}, cast(2.0 as double)),"
        " 'cell', s.seed_id)))"
    )


def _probe_cells(
    df: DataFrame, nprobe: int, keep: list[str], cell: str = "cell"
) -> DataFrame:
    """``keep`` plus one ``cell`` row per probed cell: the ``nprobe``
    best cells of each (qv, qn) row against the ``seeds`` column it
    carries (a broadcast quantizer row or an inlined literal)."""
    return df.select(
        *keep,
        F.explode(F.slice(_best_cells("qv", "qn"), 1, nprobe)).alias("p"),
    ).select(*keep, F.col("p")["cell"].alias(cell))


def ivf_assign(
    embeddings: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers_row: DataFrame | None = None,
) -> DataFrame:
    """IVF inverted-list assignment: each vector goes to its nearest cell
    (argmax cosine over the broadcast quantizer). One linear pass, all
    JVM-side array expressions — at 100 TB this is the index build, and the
    output is what you'd `partitionBy(cell)` so probes touch only their
    cells' partitions. `cell_sim + 0.0` normalizes IEEE -0.0 so both engines
    emit the same bits for a zero cosine. ``centers_row`` substitutes a
    pre-built quantizer row (`centers_seed_row`) for the default seed
    convention — same plan, different centers."""
    seed_row = (
        centers_row
        if centers_row is not None
        else ivf_seed_row(embeddings, nlist, id_col, vec_col)
    )
    e = _vec_side(embeddings, id_col, vec_col, (id_col, "v", "vn"))
    best = _best_cells("v", "vn")[0]
    return (
        e.join(F.broadcast(seed_row))
        .select(
            F.col(id_col),
            F.col("v"),
            F.col("vn"),
            best["cell"].alias("cell"),
            (-best["neg_sim"] + F.lit(0.0)).alias("cell_sim"),
        )
    )


def semdedup_assign(
    embeddings: DataFrame,
    nlist: int,
) -> DataFrame:
    """Two-level (hierarchical) coarse assignment for CORPUS-ADAPTIVE
    quantizer sizes — the assign path SemDeDup needs when nlist grows
    with the corpus (nlist = n / target_cell_size). A flat argmax is
    n x nlist dot products, which turns quadratic once nlist is itself
    proportional to n (the r09 30x probe measured exactly that:
    semdedup_kept went assign-bound at 600k vectors / 9.4k cells). The
    standard public fix is a hierarchical coarse quantizer (IMI / two-
    level IVF): k1 = ceil(sqrt(nlist)) SUPER-cells over the seeds, each
    vector pays k1 dots to pick its super plus ~nlist/k1 dots to pick a
    seed INSIDE it — n * 2 * sqrt(nlist) * d work, and at
    nlist = n/64 that is O(n^1.5 / 8) coefficient-tiny instead of
    O(n^2 / 64) flat.

    Determinism (oracle-replayable, same discipline as `ivf_assign`):
    supers are the first k1 seeds; a seed with seed_id < k1 belongs to
    ITSELF (so no super is ever empty); other seeds and all vectors pick
    by max round(cos, 6) with lowest-id tiebreak. Output schema matches
    `ivf_assign` (id, v, vn, cell, cell_sim)."""
    import math

    k1 = math.isqrt(max(nlist - 1, 0)) + 1
    supers_row = ivf_seed_row(embeddings, k1, "vec_id", "embedding")
    seeds = _vec_side(
        embeddings.filter(F.col("vec_id") < nlist), "vec_id", "embedding",
        ("seed_id", "sv", "sn"),
    )
    seed_best = _best_cells("sv", "sn")[0]
    seed_super = (
        seeds.join(F.broadcast(supers_row))
        .select(
            "seed_id", "sv", "sn",
            F.when(F.col("seed_id") < k1, F.col("seed_id"))
            .otherwise(seed_best["cell"])
            .alias("grp"),
        )
    )
    # one broadcastable row: seeds grouped per super, indexable O(1) at
    # assign time (the per-super filter runs ONCE here, not per vector)
    groups_row = seed_super.agg(
        F.sort_array(
            F.collect_list(F.struct("grp", "seed_id", "sv", "sn"))
        ).alias("all_seeds")
    ).select(
        F.expr(
            f"transform(sequence(0, {k1 - 1}),"
            " g -> filter(all_seeds, x -> x.grp = g))"
        ).alias("super_groups")
    )
    e = _vec_side(embeddings, "vec_id", "embedding", ("vec_id", "v", "vn"))
    # each vector scores only its super-cell's seeds: `_best_cells` over
    # the super_groups entry its first-level argmax picks
    best = _best_cells(
        "v", "vn", "element_at(super_groups, cast(sup + 1 as int))"
    )[0]
    return (
        e.join(F.broadcast(supers_row))
        .join(F.broadcast(groups_row))
        .select(
            F.col("vec_id"), "v", "vn", "super_groups",
            _best_cells("v", "vn")[0]["cell"].alias("sup"),
        )
        .select(
            F.col("vec_id"),
            F.col("v"),
            F.col("vn"),
            best["cell"].alias("cell"),
            (-best["neg_sim"] + F.lit(0.0)).alias("cell_sim"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k with an IVF index: assign the corpus to `nlist`
    cells once, probe each query's `nprobe` nearest cells, exact cosine
    re-rank inside the probed cells (recall < 1 by design; brute_force_topk
    is the exactness baseline). Unlike the LSH variant each corpus vector
    lives in exactly ONE cell, so the probe join needs no candidate dedup.
    The probe side is tiny (queries × nprobe rows) and hash-joins the
    cell-partitioned corpus on `cell` — the crossjoin of `brute_force_topk`
    is replaced by a ~nprobe/nlist fraction scan."""
    cells = ivf_assign(embeddings, nlist, "vec_id", "embedding").select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"),
        F.col("vn").alias("cn"), "cell",
    )
    seed_row = ivf_seed_row(embeddings, nlist, "vec_id", "embedding")
    return _ivf_probe_topk(cells, seed_row, queries, k, nprobe)


def _ivf_scored(
    q: DataFrame, cells: DataFrame, nprobe: int, within: DataFrame | None = None
) -> DataFrame:
    """(query_id, cand_id, cos_sim) for every candidate in each query's
    ``nprobe`` best cells: ``q`` carries (query_id, qv, qn, seeds),
    ``cells`` is (cand_id, cv, cn, cell); ``within`` (query_id, cand_id)
    restricts the pairs before they are scored."""
    cand = _probe_cells(q, nprobe, ["query_id", "qv", "qn"]).join(
        cells, ["cell"]
    )
    if within is not None:
        cand = cand.join(within, ["query_id", "cand_id"])
    return cand.filter(F.col("cand_id") != F.col("query_id")).select(
        "query_id", "cand_id", _cos("qv", "cv", "qn", "cn")
    )


def _ivf_probe_topk(
    cells: DataFrame,
    seed_row: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    within: DataFrame | None = None,
) -> DataFrame:
    """The IVF serving body shared by `ivf_topk` (cells assigned in
    memory), `ivf_topk_probe` (cells read from disk) and
    `pq_topk_rerank`'s exact stage."""
    q = _vec_side(queries, "query_id", "embedding", ("query_id", "qv", "qn"))
    return _rank_topk(
        _ivf_scored(q.join(F.broadcast(seed_row)), cells, nprobe, within), k
    )


# --- materialized IVF index: build once, probe many --------------------------
#
# `ivf_topk` pays the index *build* (assign every corpus vector to its cell)
# on every run. The deployment shape at 100 TB is build-once: write the
# assignment partitioned by cell, then each probe run touches only the
# ~nprobe/nlist fraction of partitions its queries hash to — dynamic
# partition pruning turns the tiny probe side into a runtime partition
# filter on the cell-partitioned scan, so the other (nlist - probed) cells'
# files are never opened.

def build_ivf_index(
    spark,  # SparkSession (typed loosely to avoid a cyclic import dance)
    embeddings: DataFrame,
    index_dir: str,
    nlist: int = 16,
    two_level: bool = False,
    coarse_centers: DataFrame | None = None,
) -> None:
    """Materialize the IVF index under ``index_dir``:

    - ``cells/``: the corpus (cand_id, cv, cn) written ``partitionBy(cell)``
      — the on-disk inverted lists;
    - ``quantizer/``: the 1-row coarse-quantizer seeds (read + broadcast at
      probe time, so probing never touches the source embeddings).

    ``coarse_centers`` (a (cell, cv) frame, e.g. `kmeans_centroids`)
    substitutes a Lloyd-REFINED quantizer for the default seed convention
    (r15 VERDICT item 2). Assignment and probe provably use the SAME
    centers structurally: the build assigns with `centers_seed_row` of
    this frame AND persists that exact row as ``quantizer/``, and
    `ivf_topk_probe` probes with whatever ``quantizer/`` holds — there is
    no second copy to desynchronize. Incompatible with ``two_level``
    (the hierarchical assign derives its own super-cells from the seed
    convention)."""
    import os

    if coarse_centers is not None:
        if two_level:
            raise ValueError(
                "coarse_centers and two_level are mutually exclusive: "
                "semdedup_assign derives its super-cells from the seed "
                "convention"
            )
        centers_row = centers_seed_row(coarse_centers)
        assigned = ivf_assign(
            embeddings, nlist, "vec_id", "embedding", centers_row=centers_row
        )
        quantizer = centers_row
    else:
        assign_fn = semdedup_assign if two_level else ivf_assign
        assigned = assign_fn(embeddings, nlist)
        quantizer = ivf_seed_row(embeddings, nlist, "vec_id", "embedding")
    (
        assigned.select(
            F.col("vec_id").alias("cand_id"),
            F.col("v").alias("cv"),
            F.col("vn").alias("cn"),
            "cell",
        )
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(index_dir, "cells"))
    )
    quantizer.write.mode("overwrite").parquet(
        os.path.join(index_dir, "quantizer")
    )


def ivf_topk_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k against a materialized IVF index (same semantics
    and same results as `ivf_topk` with the same nlist/nprobe — pinned by a
    shared oracle). The probe plan never scans the source embeddings: the
    quantizer is a 1-row broadcast, and the equi join of the exploded probe
    cells against the cell-partitioned ``cells/`` scan lets dynamic
    partition pruning skip every unprobed cell's files."""
    import os

    return _ivf_probe_topk(
        spark.read.parquet(os.path.join(index_dir, "cells")),
        spark.read.parquet(os.path.join(index_dir, "quantizer")),
        queries, k, nprobe,
    )


def ivf_index_upsert(
    spark,
    index_dir: str,
    delta: DataFrame,
    deletes: DataFrame | None = None,
) -> None:
    """Incremental maintenance for a materialized IVF index — the index
    family's build-once discipline composed with the dedup family's delta
    discipline: upsert a
    vector DELTA (new ids inserted, existing ids replaced) into
    ``index_dir``'s cell partitions WITHOUT a rebuild. No Lloyd
    iteration runs and `build_ivf_index` is never called (both pinned by
    monkeypatch test): every delta vector is assigned against the
    PERSISTED ``quantizer/`` row — the same centers that shaped the
    existing cells, so the updated index is bit-identical to a full
    rebuild of the updated corpus under that quantizer (pinned by an
    exact-equality test).

    Work ∝ delta, never ∝ corpus:
    - assignment is one linear pass over the DELTA against the 1-row
      broadcast quantizer (`ivf_assign`'s plan);
    - the touched-cell set (≤ nlist, an index-geometry constant) is
      collected and inlined as a LITERAL partition filter, so the
      survivors scan reads ONLY the touched cells' files (partition
      pruning on the ``cell`` directory column) — untouched cells'
      files are never opened, read, or rewritten;
    - the write uses dynamic partition overwrite (only partitions
      present in the merged frame are replaced), after a
      `localCheckpoint` lineage cut — the merged frame READS the same
      cell partitions the write REPLACES, so the cut materializes the
      survivors before the overwrite can clobber their source files
      (the read-overwrite hazard every compaction job has).

    ``deletes`` (optional) removes ids from the index. Each delete row
    must carry the vector (``vec_id``, ``embedding``) — the CDC shape
    where the old row is in hand — because the id's cell is a pure
    function of its VECTOR under the quantizer: re-deriving it keeps
    deletion work ∝ delta too (an id-only delete would have to scan
    every cell to find its rows). Quantizer drift is impossible by
    construction: this function never writes ``quantizer/``, so
    `_quantizer_fingerprint` (and `pq_topk_rerank`'s cross-index guard)
    remain valid across upserts.

    Caller's note: an artifact identity marker describes a pure build
    of one source; a caller composing build+upsert should write a marker
    describing the whole recipe (see `plans.artifacts.ivf_upsert_index`)."""
    import os

    cells_dir = os.path.join(index_dir, "cells")
    seed_row = spark.read.parquet(os.path.join(index_dir, "quantizer"))
    assigned = ivf_assign(
        delta, id_col="vec_id", vec_col="embedding", centers_row=seed_row
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
        "cell",
    )
    gone = None
    if deletes is not None:
        gone = ivf_assign(
            deletes, id_col="vec_id", vec_col="embedding", centers_row=seed_row
        ).select(F.col("vec_id").alias("cand_id"), "cell")
    # touched cells: ≤ nlist rows (index geometry, never corpus size) —
    # a literal, so the survivors scan below partition-prunes to them
    touched_df = assigned.select("cell")
    if gone is not None:
        touched_df = touched_df.unionByName(gone.select("cell"))
    touched = [r["cell"] for r in touched_df.distinct().collect()]
    if not touched:
        return
    replaced_ids = assigned.select("cand_id")
    if gone is not None:
        replaced_ids = replaced_ids.unionByName(gone.select("cand_id"))
    survivors = (
        spark.read.parquet(cells_dir)
        .filter(F.col("cell").isin(touched))
        .join(replaced_ids.distinct(), "cand_id", "left_anti")
    )
    merged = survivors.unionByName(
        assigned.select("cand_id", "cv", "cn", "cell")
    )
    # materialize BEFORE overwriting the partitions this plan reads
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.partitionBy("cell")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(cells_dir)
    )
    # a touched cell DRAINED by deletions has no rows in `merged`, so
    # dynamic overwrite never visits its partition and the stale files
    # would survive — drop those partition dirs explicitly (≤ nlist
    # dirs; on an object store this is the same per-partition delete a
    # compaction commit issues)
    if gone is not None:
        import shutil

        survived = {
            r["cell"] for r in merged.select("cell").distinct().collect()
        }
        for cell in set(touched) - survived:
            shutil.rmtree(
                os.path.join(cells_dir, f"cell={cell}"), ignore_errors=True
            )


def pq_index_upsert(
    spark,
    index_dir: str,
    delta: DataFrame,
    deletes: DataFrame | None = None,
) -> None:
    """`ivf_index_upsert`'s PQ twin (r17 VERDICT item 2's second half):
    upsert a vector delta into a materialized IVF-PQ index WITHOUT
    retraining — FAISS `add` semantics: the index is DEFINED by its
    trained codebooks, and additions are coded with them. No Lloyd
    iteration and no `pq_train_encode`/`build_pq_index` call happens
    here (monkeypatch-pinned): delta vectors are coarse-assigned against
    the persisted ``quantizer/`` (residual-subtracted against those same
    centers when ``meta/`` says ``by_residual``), encoded by `pq_encode`
    against the persisted ``codebooks/``, and merged into ONLY the
    touched ``codes/`` cell partitions — the same literal-partition-
    filter + lineage-cut + dynamic-overwrite mechanics as the IVF
    upsert, at m code rows per vector instead of one raw-vector row.
    ``deletes`` rows must carry the vector (cell is a function of it);
    a drained cell's partition dir is dropped explicitly.
    The quantizer and codebooks are never written, so
    `_quantizer_fingerprint` (and `pq_topk_rerank`'s cross-index guard)
    and the probe-side geometry collect remain valid across upserts."""
    import os

    codes_dir = os.path.join(index_dir, "codes")
    index = _read_pq_index(spark, index_dir)
    seed_row = index.quantizer
    cents = index.cents.withColumnRenamed("code", "cell")

    def _coded(vectors: DataFrame) -> DataFrame:
        assigned = ivf_assign(
            vectors, id_col="vec_id", vec_col="embedding", centers_row=seed_row
        ).select(
            F.col("vec_id").alias("vec_id"),
            F.col("v"),
            F.col("cell").alias("ivf_cell"),
        )
        src = (
            _residuals(assigned, index.centers)
            if index.centers is not None
            else assigned.withColumnRenamed("v", "rv")
        )
        codes = pq_encode(
            src.select("vec_id", "rv"), cents, m=index.m,
            dim=index.m * index.sub, vec_col="rv",
        ).withColumnRenamed("cell", "code")
        return codes.join(src.select("vec_id", "ivf_cell"), "vec_id")

    new_codes = _coded(delta)
    gone = None
    if deletes is not None:
        gone = ivf_assign(
            deletes, id_col="vec_id", vec_col="embedding", centers_row=seed_row
        ).select(
            F.col("vec_id").alias("vec_id"), F.col("cell").alias("ivf_cell")
        )
    touched_df = new_codes.select("ivf_cell")
    if gone is not None:
        touched_df = touched_df.unionByName(gone.select("ivf_cell"))
    touched = [r["ivf_cell"] for r in touched_df.distinct().collect()]
    if not touched:
        return
    replaced_ids = new_codes.select("vec_id")
    if gone is not None:
        replaced_ids = replaced_ids.unionByName(gone.select("vec_id"))
    survivors = (
        spark.read.parquet(codes_dir)
        .filter(F.col("ivf_cell").isin(touched))
        .join(replaced_ids.distinct(), "vec_id", "left_anti")
    )
    merged = survivors.unionByName(
        new_codes.select("vec_id", "s", "code", "ivf_cell")
    ).localCheckpoint(eager=True)
    (
        merged.write.partitionBy("ivf_cell")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(codes_dir)
    )
    if gone is not None:
        import shutil

        survived = {
            r["ivf_cell"]
            for r in merged.select("ivf_cell").distinct().collect()
        }
        for cell in set(touched) - survived:
            shutil.rmtree(
                os.path.join(codes_dir, f"ivf_cell={cell}"),
                ignore_errors=True,
            )


def build_pq_index(
    spark,
    embeddings: DataFrame,
    index_dir: str,
    m: int = 8,
    k_codebook: int = 16,
    iters: int = 2,
    dim: int = 64,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centers: DataFrame | None = None,
    by_residual: bool = False,
) -> None:
    """Materialize the IVF-PQ index under ``index_dir`` — the FAISS-IVFPQ
    deployment shape (`build_ivf_index`'s pattern applied to codes): ALL
    training happens HERE, once, and the probe never re-runs a Lloyd
    iteration or touches a raw corpus vector.

    - ``codebooks/``: the m·k sub-centroid rows ``(s, code, cv)`` — tiny,
      read + broadcast at probe time to build the per-query LUTs;
    - ``codes/``: the ``(vec_id, s, code)`` code rows written
      ``partitionBy(ivf_cell)`` — the on-disk inverted CODE lists, so a
      probe's cell equi-join is dynamic-partition-pruned to ~nprobe/nlist
      of the files (the promise `ivfpq_adc_topk`'s docstring makes, made
      physical);
    - ``quantizer/``: the 1-row coarse-quantizer seeds;
    - ``meta/``: one row of index-encoding metadata (``by_residual``) the
      probes check so a raw probe can never silently score a residual
      index or vice versa.

    ``coarse_centers`` (a (cell, cv) frame, e.g. `kmeans_centroids`)
    substitutes a Lloyd-REFINED coarse quantizer for the default seed
    convention in every coarse role at once — cell assignment, residual
    subtraction (when ``by_residual``), and the persisted ``quantizer/``
    the probe broadcasts — so build and probe provably use the SAME
    centers (there is no second copy to desynchronize; the identity pin
    `test_pq_residual_refined_probe_equals_inline`).

    ``by_residual`` trains the sub-codebooks on ``v − center(cell)``
    (FAISS IVFPQ's default) and REQUIRES ``coarse_centers``: the r15
    frontier measured residual encoding over unrefined seed centers
    collapsing recall 3–6× below raw-vector codes (PERF.md 'residual
    encoding needs refined cells'), so a seed-center residual build is a
    loud error rather than a quietly bad index. At 100 TB the extra
    probe-side cost is the per-cell LUTs — nlist·m·k norm rows and
    |q|·nprobe·m center-dot rows, still broadcast-sized.

    At 100 TB the codes are the index — m bytes a vector against 8·dim
    for the raw doubles — and this build is the one corpus-scale job;
    serving cost is measured by `plans/llmdata.q_ann_topk_pq_probe`."""
    import os

    if by_residual and coarse_centers is None:
        raise ValueError(
            "by_residual=True requires coarse_centers: residual encoding "
            "over unrefined seed centers collapses recall (r15 frontier, "
            "PERF.md 'residual encoding needs refined cells')"
        )
    index = _ivfpq_train(
        embeddings, m, k_codebook, iters, dim, nlist, id_col, vec_col,
        coarse_centers=coarse_centers, by_residual=by_residual,
    )
    index.codes.write.partitionBy("ivf_cell").mode("overwrite").parquet(
        os.path.join(index_dir, "codes")
    )
    index.cents.write.mode("overwrite").parquet(
        os.path.join(index_dir, "codebooks")
    )
    index.quantizer.write.mode("overwrite").parquet(
        os.path.join(index_dir, "quantizer")
    )
    local_frame(
        spark, [(bool(by_residual),)], "by_residual boolean"
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "meta"))


#: (realpath, mtime_ns) -> the one row of a one-row artifact directory (a
#: PQ index's meta/, an index quantizer/, a model's meta/): one tiny read
#: job per DISTINCT build, never one per serving call. The mtime key
#: invalidates on rebuild — not because `plans.artifacts.ensure`'s atomic
#: directory rename touches the child dir's mtime (a rename does NOT), but
#: because a rebuild writes a FRESH directory whose own creation time rides
#: in with it. A missing directory raises: every served artifact carries
#: its metadata.
_ARTIFACT_ROWS: dict[tuple[str, int], Row] = {}


def artifact_row(spark, path: str) -> Row:
    """The one row of the one-row artifact directory ``path``, read once
    per (realpath, mtime_ns)."""
    import os

    key = (os.path.realpath(path), os.stat(path).st_mtime_ns)
    row = _ARTIFACT_ROWS.get(key)
    if row is None:
        row = _ARTIFACT_ROWS[key] = spark.read.parquet(path).collect()[0]
    return row


def _read_pq_index(
    spark, index_dir: str, by_residual: bool | None = None
) -> _PQIndex:
    """The one serving read of a materialized PQ index: codes, codebooks
    and quantizer frames, the subspace geometry (m, sub-width, LUT rows)
    read off the codebooks themselves — index metadata, one tiny collect,
    so the caller can't desynchronize it from the build — and the
    ``meta/`` encoding flag. With ``by_residual`` given, an index of the
    other encoding raises: an ADC fold over the wrong encoding scores
    garbage silently."""
    import os

    def part(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(index_dir, name))

    flag = bool(
        artifact_row(spark, os.path.join(index_dir, "meta"))["by_residual"]
    )
    if by_residual is not None and flag != by_residual:
        kind, probe = (
            ("RESIDUAL", "pq_residual_topk_probe")
            if flag
            else ("RAW-VECTOR", "pq_topk_probe")
        )
        raise ValueError(
            f"index at {index_dir!r} holds {kind} codes — probe it with "
            f"{probe} (an ADC fold over the wrong encoding scores garbage "
            "silently)"
        )
    cents = part("codebooks")
    geo = cents.agg(
        (F.max("s") + 1).alias("m"),
        F.max(F.size("cv")).alias("sub"),
        F.count(F.lit(1)).alias("lut_rows"),
    ).collect()[0]
    quantizer = part("quantizer")
    return _PQIndex(
        part("codes"), cents, quantizer,
        _seed_centers(quantizer) if flag else None,
        int(geo["m"]), int(geo["sub"]), int(geo["lut_rows"]),
    )


def _quantizer_fingerprint(spark, index_dir: str) -> int:
    """Identity hash of an index's persisted coarse quantizer — the
    runtime half of `pq_topk_rerank`'s cross-index invariant (r17
    ADVICE: the reachability guarantee lived only in the test suite; at
    runtime a PQ/IVF index pair built with divergent quantizers would
    make the rerank's inner join silently drop shortlist candidates).
    The quantizer row is nlist·dim doubles — index geometry, never
    corpus-proportional — read once per build via `artifact_row`."""
    import os

    seeds = artifact_row(spark, os.path.join(index_dir, "quantizer"))["seeds"]
    return hash(tuple((s["seed_id"], tuple(s["sv"])) for s in seeds))


def pq_topk_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ADC top-k against a materialized IVF-PQ index — the PQ SERVING
    plan, split from training (same semantics and same results as
    `ivfpq_adc_topk` with the same m/k/iters/nlist/nprobe — pinned by a
    shared oracle and an exact-equality test). The probe does exactly two
    things: builds the per-query LUTs against the broadcast ``codebooks/``
    frame (m·k rows), and scans ``codes/`` — the coarse quantizer is a
    1-row broadcast, the probes⋈codes equi join on the ``ivf_cell``
    partition column is dynamic-partition-pruned to the probed cells'
    files, and NO Lloyd iteration runs (pinned by test: training
    monkeypatched to raise, probe still answers). Subspace geometry
    (m, sub-width) is read off the codebooks themselves — index metadata,
    one tiny collect — so the caller can't desynchronize it from the
    build."""
    return _adc_topk(
        _read_pq_index(spark, index_dir, by_residual=False),
        queries, k, nprobe, "query_id", "embedding",
    )


def pq_topk_rerank(
    spark,
    pq_index_dir: str,
    ivf_index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k_short: int = 40,
    nprobe: int = 2,
) -> DataFrame:
    """Two-stage ANN serving — the FAISS search-then-refine deployment
    pattern (`IndexRefineFlat`): stage 1 takes the ADC top-``k_short``
    shortlist from the materialized PQ codes (`pq_topk_probe` — LUT
    joins + dynamic-partition-pruned code scan, quantization error and
    all), stage 2 re-scores ONLY those |q|·k_short candidates by EXACT
    cosine and re-ranks to ``k``. The raw candidate vectors are never
    fetched by scanning the corpus: they are served from the IVF index's
    cell-partitioned ``cells/`` with the same probe-driven dynamic
    partition pruning `ivf_topk_probe` uses, then semi-joined to the
    shortlist (conditionally broadcast via the `_small_query_batch`
    budget proof, k_short rows per query).

    Cross-index invariant (runtime-guarded AND pinned by test): every
    shortlist candidate's cell under the IVF index's quantizer must be
    among the query's probed cells — guaranteed when both indexes were
    built against the SAME coarse quantizer (the shortlist came from PQ
    codes of exactly those cells, and the two builds assign
    identically). Divergent quantizers (e.g. one index rebuilt refined)
    would make the inner join silently drop shortlist candidates, so
    this function compares the two indexes' persisted quantizer
    fingerprints up front (`_quantizer_fingerprint` — one memoized
    1-row read per distinct build, the `artifact_row` cost contract)
    and raises rather than returning a wrong top-k (r17
    ADVICE: the guard now lives at runtime, not only in the
    reachability test).

    Scale shape: both stages are corpus-independent beyond the pruned
    cell files — stage 1 is the documented PQ probe plan, stage 2 reads
    ~nprobe/nlist of the raw-vector files and touches |q|·k_short pairs.
    The refine premium buys back the ADC quantization error at the top
    of the ranking: recall@k is bounded below by the shortlist's
    recall@k_short, which converges to 1 far faster in k_short than
    ADC's rank-k precision does in k."""
    import os

    pq_fp = _quantizer_fingerprint(spark, pq_index_dir)
    ivf_fp = _quantizer_fingerprint(spark, ivf_index_dir)
    if pq_fp != ivf_fp:
        raise ValueError(
            "pq_topk_rerank: the PQ index and the IVF raw-vector index "
            "were built with divergent coarse quantizers "
            f"({pq_index_dir!r} vs {ivf_index_dir!r}); re-ranking would "
            "silently drop shortlist candidates whose cells the probe "
            "cannot reach — rebuild both indexes from the same "
            "quantizer (same coarse_centers or same seed convention)"
        )
    shortlist = pq_topk_probe(
        spark, pq_index_dir, queries, k=k_short, nprobe=nprobe,
    ).select("query_id", "cand_id")
    return _ivf_probe_topk(
        spark.read.parquet(os.path.join(ivf_index_dir, "cells")),
        spark.read.parquet(os.path.join(ivf_index_dir, "quantizer")),
        queries, k, nprobe,
        within=_lut_hint(queries, k_short)(shortlist),
    )


def pq_residual_topk_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ADC top-k against a materialized RESIDUAL IVF-PQ index — the
    serving twin of `ivfpq_residual_adc_topk(coarse_centers=...)` exactly
    as `pq_topk_probe` is of `ivfpq_adc_topk` (same results at the same
    geometry, pinned by an exact-equality test; NO Lloyd iteration runs,
    pinned by the monkeypatch-training-to-raise test). The refined coarse
    centers live ONLY in the persisted ``quantizer/`` row — probing,
    center-dot LUTs and norm LUTs all derive from that one broadcast
    frame, so probe centers can never drift from the centers that drove
    assignment and residual subtraction at build time.

    Probe-side work beyond the raw-vector probe is the per-cell LUT trade
    `ivfpq_residual_adc_topk` documents: the center-dot LUT is
    |q|·nprobe·m rows (probed cells only) and the norm LUT is
    nlist·m·k rows — both broadcast-sized constants of the index
    geometry, never corpus-proportional; the codes scan itself is the
    same dynamic-partition-pruned ~nprobe/nlist fraction."""
    return _adc_topk(
        _read_pq_index(spark, index_dir, by_residual=True),
        queries, k, nprobe, "query_id", "embedding",
    )
