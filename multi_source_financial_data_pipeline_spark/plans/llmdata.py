"""LLM-training-data pipeline queries (north star: BASELINE.json) over the
driver's `documents` and `embeddings` tables, each with a DuckDB oracle that
mirrors the Spark expressions operation-for-operation (same md5-derived
hashes, same left-fold float summation, same 1-indexed array addressing) so
hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.operators import (
    dedup,
    packing,
    sampling,
    similarity,
    text,
    validation,
)
from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.sources import load_table


# shared SQL fragments (mirror operators/text.py + operators/dedup.py)
_SQL_TOKS = "regexp_split_to_array(text, '\\s+')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(toks) - 2),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


_MINHASH_PARAMS = dedup.minhash_params(8)


def _sql_minhash(j: int) -> str:
    """Universal hash over the per-shingle 32-bit md5 prefix — mirrors
    operators/dedup.minhash_signatures exactly (same (a, b, P) literals)."""
    a, b = _MINHASH_PARAMS[j]
    return (
        f"list_min(list_transform(s, x -> ({a} * ('0x' || substr(md5(x), 1, 8))::BIGINT"
        f" + {b}) % {dedup.MINHASH_P}))"
    )


#: embeddings are 64-dim (TESTDATA schema); the explicit unrolled sum below
#: is the same left-associative float-op sequence as the JVM `aggregate`
#: fold and the previous list_reduce oracle (bit-identical), but DuckDB
#: evaluates the plain expression ~10× faster than the lambda — oracle-side
#: cost only, the Spark plans are untouched.
EMB_DIM = 64


def _sql_dot(a: str, b: str, width: int | None = None) -> str:
    terms = " + ".join(
        f"{a}[{i}] * {b}[{i}]" for i in range(1, (width or EMB_DIM) + 1)
    )
    return f"(0.0 + {terms})"


def _sql_cos(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)}"
        f" / nullif(sqrt({_sql_dot(a, a)} * {_sql_dot(b, b)}), 0))"
    )


def _sql_scalar_dot(a: str, b: str) -> str:
    """`_sql_dot` over 64 flat DOUBLE columns (``{a}1``…``{a}64``) instead
    of list extracts — IDENTICAL term order ("0.0 + t1 + t2 + …"), so the
    IEEE result is bit-identical to the list form."""
    terms = " + ".join(f"{a}{i} * {b}{i}" for i in range(1, EMB_DIM + 1))
    return f"(0.0 + {terms})"


def _sql_scalar_cos(a: str, b: str, anrm: str, bnrm: str) -> str:
    """Cosine with the self-dots HOISTED to per-vector ``nrm`` columns
    (computed once per vector with the same term order, so
    ``sqrt(anrm * bnrm)`` is the exact same IEEE value as the inline
    ``sqrt(dot(a,a) * dot(b,b))``). This shrinks every pairwise expression
    from 3 unrolled dots (~390 operator nodes) to 1 (~130): DuckDB
    allocates a ~16 KB intermediate vector per operator node PER THREAD,
    and at the checker's 32 threads the wide form's allocation burst
    fragmented jemalloc into tens of thousands of VMAs (see PERF.md)."""
    return (
        f"({_sql_scalar_dot(a, b)}"
        f" / nullif(sqrt({anrm} * {bnrm}), 0))"
    )


def _sql_ew_cte() -> str:
    """The shared scalar-embedding CTE (``ew``): the embedding unnested
    ONCE into 64 flat DOUBLE columns plus the hoisted self-dot ``nrm``.
    Every ANN-family oracle builds on this instead of carrying DOUBLE[]
    lists through joins/windows — fixed-width rows avoid DuckDB's per-row
    heap blocks, whose 32-thread allocation churn fragmented jemalloc into
    ~64k VMAs and starved the r09 checker (PERF.md: max_map_count)."""
    xs = ", ".join(f"v[{i}] AS x{i}" for i in range(1, EMB_DIM + 1))
    cols = ", ".join(f"x{i}" for i in range(1, EMB_DIM + 1))
    return (
        f"ew AS (\n  SELECT vec_id, {_sql_scalar_dot('x', 'x')} AS nrm, {cols}\n"
        f"  FROM (SELECT vec_id, {xs}\n"
        f"        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))\n)"
    )


#: renames x1..x64 → q1..q64 (etc.) when a CTE needs a second vector role
def _sql_x_as(prefix: str) -> str:
    return ", ".join(f"x{i} AS {prefix}{i}" for i in range(1, EMB_DIM + 1))


# --- token counting ----------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       length(text) AS n_chars_text,
       len({_SQL_TOKS}) AS n_tokens,
       len(list_distinct({_SQL_TOKS})) AS n_distinct_tokens,
       len(list_distinct({_SQL_TOKS})) / len({_SQL_TOKS}) AS type_token_ratio
FROM documents
"""


# --- deterministic stratified sampling (mixture weights) ---------------------

SAMPLE_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"), "lang", SAMPLE_RATES
    ).select("doc_id", "lang", "source")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0
      < {sampling.sample_rate_sql("lang", SAMPLE_RATES)}
"""


# --- exact-k uniform sample per stratum (eval-holdout selection) -------------

SAMPLE_K = 25


def q_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k docs per source, uniformly at random yet DETERMINISTIC:
    rank by the md5-prefix hash of doc_id within each source and keep rank
    ≤ k — the fixed-size eval-holdout / inspection-sample primitive
    (rate-based sampling can't hit an exact count; df.sample() isn't
    reproducible across engines or partitionings). The hash makes the
    selection a pure function of (doc_id, k): stable under reshuffles,
    auditable by the oracle, and disjoint samples come free by ranking on
    salted hashes.

    Scale shape: the rank filter compiles to WindowGroupLimit (pinned), so
    each map partition forwards at most k rows per source into the window
    exchange — shuffled volume is |sources|·k per partition, independent
    of corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", "lang", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_K)
        .select("source", "doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


SQL_SAMPLE_K_PER_GROUP = f"""
WITH h AS (
  SELECT source, doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), r AS (
  SELECT source, doc_id, lang,
         row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC)
           AS rk
  FROM h
)
SELECT source, doc_id, lang, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= {SAMPLE_K}
"""


# --- weighted sample without replacement (Efraimidis–Spirakis, A-ES) --------

WSAMPLE_K = 10


def q_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, k per source
    (Efraimidis & Spirakis 2006, A-ES): each doc draws u = hash_uniform
    (doc_id) and competes on key = ln(u)/w — the top-k keys per source are
    a weight-proportional sample without replacement. Weight = n_chars, so
    longer docs are proportionally likelier — the quality/length-weighted
    variant of `sample_k_per_group` (whose uniform rank this generalizes).
    Deterministic: u is the md5-prefix hash, so the sample is a pure
    function of (doc_id, weights, k) — reproducible across engines,
    partitionings, and reruns.

    Cross-engine exactness: the key is round(ln(u)/w, 15) with a doc_id
    tiebreak — ln and the division are the identical IEEE expressions in
    both engines (1-ulp libm error sits far below the rounding grain, the
    registry's window-aggregate convention), and the rank filter compiles
    to WindowGroupLimit like every top-k here. u is the SHIFTED uniform
    (h+1)/2³² ∈ (0, 1]: a zero md5 prefix (probability 2⁻³², i.e. a
    certainty at corpus scale) would otherwise hit ln(0) — which Spark
    NULLs but DuckDB raises on, a silent cross-engine divergence."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    u = (h32 + F.lit(1)) / F.lit(4294967296.0)
    key = F.round(F.log(u) / F.col("n_chars").cast("double"), 15)
    w = Window.partitionBy("source").orderBy(
        F.col("key").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "doc_id", "n_chars", key.alias("key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WSAMPLE_K)
        .select("source", "doc_id", "n_chars", F.col("rk").cast("int").alias("rk"))
    )


SQL_WEIGHTED_SAMPLE_K = f"""
WITH h AS (
  SELECT source, doc_id, n_chars,
         round(ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 1) / 4294967296.0))
               / CAST(n_chars AS DOUBLE), 15) AS key
  FROM documents
), r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY key DESC, doc_id ASC) AS rk
  FROM h
)
SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= {WSAMPLE_K}
"""


# --- Count-Min sketch: heavy-hitter counts with measured overestimate -------

CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row
CMS_TOP = 20


def _cms_hash(tok, salt: int):
    """Row-j bucket: md5-prefix hash of (salt || token) mod W — the same
    cross-engine 32-bit idiom as every sketch here."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{salt}|"), tok)), 1, 8), 16, 10
        ).cast("bigint")
        % CMS_W
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, with its error contract MEASURED: build the d×w counter table
    (one explode → d row-hashes per token → ONE mergeable hash aggregate;
    counters are sums, so the sketch is partition- and engine-independent),
    then estimate the exact top-k tokens' counts as min_j cms[j][h_j(t)]
    and report estimate vs truth. CMS never underestimates (est ≥ exact,
    pinned in tests) and overestimates by ≤ collisions' mass — the sketch
    a 100 TB pipeline keeps when the exact vocab count is too wide,
    alongside KMV for distincts. Everything after the token explode is
    O(d·w + k) state; the exact branch exists as measured ground truth."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    rows = toks.select(
        "tok",
        F.posexplode(
            F.array(*[_cms_hash(F.col("tok"), j) for j in range(CMS_D)])
        ).alias("j", "bucket"),
    )
    cms = rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
        .limit(CMS_TOP)
    )
    probes = exact.select(
        "tok",
        "n_exact",
        F.posexplode(
            F.array(*[_cms_hash(F.col("tok"), j) for j in range(CMS_D)])
        ).alias("j", "bucket"),
    )
    est = (
        probes.join(cms, ["j", "bucket"])
        .groupBy("tok", "n_exact")
        .agg(F.min("c").alias("n_est"))
    )
    return est.select(
        "tok",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overestimate"),
    )


def _sql_cms_hash(tok: str, salt: int) -> str:
    return (
        f"(('0x' || substr(md5('cms{salt}|' || {tok}), 1, 8))::BIGINT"
        f" % {CMS_W})"
    )


SQL_CMS_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest({_SQL_TOKS}) AS tok FROM documents
), rows_ AS (
  SELECT tok, j,
         CASE j {' '.join(f"WHEN {j} THEN {_sql_cms_hash('tok', j)}" for j in range(CMS_D))} END AS bucket
  FROM toks, unnest(generate_series(0, {CMS_D - 1})) t(j)
), cms AS (
  SELECT j, bucket, count(*) AS c FROM rows_ GROUP BY j, bucket
), exact AS (
  SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok
  ORDER BY n_exact DESC, tok ASC LIMIT {CMS_TOP}
), probes AS (
  SELECT tok, n_exact, j,
         CASE j {' '.join(f"WHEN {j} THEN {_sql_cms_hash('tok', j)}" for j in range(CMS_D))} END AS bucket
  FROM exact, unnest(generate_series(0, {CMS_D - 1})) t(j)
)
SELECT p.tok, CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(min(c.c) AS BIGINT) AS n_est,
       CAST(min(c.c) - p.n_exact AS BIGINT) AS overestimate
FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY p.tok, p.n_exact
"""


# --- BPE-ish subword counting ------------------------------------------------

def q_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.subword_stats(load_table(spark, sf_dir, "documents"))


#: Java regex and RE2 (DuckDB) both run leftmost-first alternation over this
#: lookahead-free pattern, so the match streams are identical.
SQL_SUBWORD_STATS = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         regexp_extract_all(text, '{text.SUBWORD_PATTERN.replace("'", "''")}') AS sw
  FROM documents
)
SELECT doc_id,
       len(sw) AS n_subwords,
       len(list_distinct(sw)) AS n_distinct_subwords,
       len(sw) / len(toks) AS fertility
FROM d
"""


# --- language-ID heuristic ---------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


_STOPLIST = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)
SQL_LANG_ID = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(list_filter(toks, x -> x IN ({_STOPLIST}))) / len(toks) AS stopword_ratio,
       CASE WHEN len(list_filter(toks, x -> x IN ({_STOPLIST}))) / len(toks) >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_guess
FROM d
"""


# --- structural quality scoring ---------------------------------------------

def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_quality(load_table(spark, sf_dir, "documents"))


SQL_DOC_QUALITY = f"""
WITH d AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) / len(toks) AS type_token_ratio,
         (length(text) - (len(toks) - 1)) / len(toks) AS mean_token_len,
         CASE WHEN len(toks) >= 50 THEN 1.0 ELSE len(toks) / 50.0 END AS length_score
  FROM d
)
SELECT doc_id, n_tokens, type_token_ratio, mean_token_len,
       length_score * 0.5 + type_token_ratio * 0.3
         + least(mean_token_len / 10.0, 1.0) * 0.2 AS quality_score
FROM m
"""


# --- tf-idf characteristic terms ---------------------------------------------

TFIDF_K = 5


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_topk(load_table(spark, sf_dir, "documents"), k=TFIDF_K)


SQL_TFIDF_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents
), tf AS (
  SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t
), dfreq AS (
  SELECT t, count(*) AS df FROM tf GROUP BY t
), total AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.t AS term, tf.tf, dfreq.df,
         tf.tf * ((total.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS tfidf
  FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN total
)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TFIDF_K}
"""


# --- fingerprint + exact dedup ----------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.fingerprint(load_table(spark, sf_dir, "documents"))
    return out.select("doc_id", "fingerprint")


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')) AS fingerprint
FROM documents
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = text.fingerprint(load_table(spark, sf_dir, "documents"))
    return dedup.exact_dedup_groups(fp)


SQL_EXACT_DEDUP = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS group_size
FROM fp GROUP BY fingerprint
"""


# --- MinHash signatures + LSH candidate pairs -------------------------------

NUM_HASHES = 8
BAND_SIZE = 2


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), num_hashes=NUM_HASHES
    )
    return sig.select("doc_id", *[f"mh{j}" for j in range(NUM_HASHES)])


SQL_MINHASH_SIGNATURES = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d)
SELECT doc_id,
       {", ".join(f"{_sql_minhash(j)} AS mh{j}" for j in range(NUM_HASHES))}
FROM sh
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), num_hashes=NUM_HASHES, keep_all_docs=False
    )
    return dedup.lsh_candidate_pairs(sig, num_hashes=NUM_HASHES, band_size=BAND_SIZE)


_SQL_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, concat_ws('|', mh{2 * b}, mh{2 * b + 1}) AS bk"
    f" FROM sig WHERE concat_ws('|', mh{2 * b}, mh{2 * b + 1}) != ''"
    for b in range(NUM_HASHES // BAND_SIZE)
)
SQL_MINHASH_LSH_PAIRS = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d),
sig AS (
  SELECT doc_id,
         {", ".join(f"{_sql_minhash(j)} AS mh{j}" for j in range(NUM_HASHES))}
  FROM sh
),
bands AS (
{_SQL_BANDS}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
"""


# --- n-gram Jaccard verification --------------------------------------------

JACCARD_THRESHOLD = 0.2


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked on the doc's FIRST MinHash value (single-hash LSH): collision
    probability equals the pair's Jaccard similarity, so blocks are
    fine-grained and pair work stays linear-ish at corpus scale — unlike a
    low-cardinality key (language, source), which degenerates to near-all-
    pairs within each block."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, num_hashes=1)
    return dedup.ngram_jaccard_pairs(
        sig, block_col="mh0", threshold=JACCARD_THRESHOLD
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh0 AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d),
sh AS (SELECT doc_id, {_sql_minhash(0)} AS blk, s FROM sh0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s)) / nullif(len(list_distinct(a.s || b.s)), 0) AS jaccard
FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) / nullif(len(list_distinct(a.s || b.s)), 0) >= {JACCARD_THRESHOLD}
"""


# --- SemDeDup: embedding semantic dedup scoped to IVF cells ------------------

def q_semdedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023, public paper):
    cluster the corpus (here: the IVF quantizer's cells — the same build
    the ANN path materializes), then drop any vector that has a
    lower-id in-cell neighbor above the cosine threshold. Keeping the pair
    search INSIDE cells is the entire scale story: candidate pairs are
    Σ|cell|² instead of n², and the cluster assignment is the one linear
    pass the index already pays. The screening itself is
    `similarity.semdedup_screen`: ONE shuffle by cell, each cell scored as
    a dim-ordered Arrow matmul — the assign subtree (quantizer argmax, the
    dominant cost at bench scale) is referenced exactly ONCE (the r06
    cell-equi anti-join referenced it twice; VERDICT item 6).

    The quantizer is CORPUS-ADAPTIVE (r08 VERDICT item 5): nlist =
    max(IVF_NLIST, ceil(n / SEMDEDUP_CELL_TARGET)), so the expected cell
    size stays ~SEMDEDUP_CELL_TARGET and the screening cost stays
    ~n * SEMDEDUP_CELL_TARGET (linear) as the corpus grows — the 30x probe
    proved a FIXED nlist degenerates quadratically (PERF.md). The count
    that sizes it is parquet-metadata-only (no data scan), the price any
    index build pays. The assignment itself is the TWO-LEVEL
    `similarity.semdedup_assign` (k1 = ceil(sqrt(nlist)) super-cells):
    the same r09 probe showed a FLAT argmax goes assign-bound once nlist
    is corpus-proportional (n x nlist dots); the hierarchical assign pays
    n * 2 * sqrt(nlist) dots instead. The oracle replays both levels with
    the shared round(cos, 6) / lowest-id tiebreak rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    nlist = _adaptive_nlist(emb.count())
    assign = similarity.semdedup_assign(emb, nlist=nlist)
    return similarity.semdedup_screen(assign, COS_THRESHOLD)


def q_semdedup_kept_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semdedup_kept` against the build-once materialized IVF index (the
    deployment mode, same relationship as `ann_topk_ivf` →
    `ann_topk_ivf_probe`): cells/ already stores (cand_id, cv) partitioned
    by cell, so the screening reads the inverted lists ONCE (the on-disk
    layout already co-locates each cell) and the corpus is never
    re-assigned — the quantizer argmax that dominates the in-plan variant's
    cost disappears entirely. Same results, shared oracle. Sized by the
    same corpus-adaptive `_adaptive_nlist` rule as the in-plan variant
    (the nlist is part of the index cache identity, so the ANN path's
    fixed-nlist index and this one coexist)."""
    import os

    nlist = _adaptive_nlist(load_table(spark, sf_dir, "embeddings").count())
    index_dir = _ensure_ivf_index(spark, sf_dir, nlist=nlist, two_level=True)
    cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    a = cells.select(
        F.col("cand_id").alias("vec_id"), F.col("cv").alias("v"), "cell"
    )
    return similarity.semdedup_screen(a, COS_THRESHOLD, cell_type="int")


def _sql_semdedup() -> str:
    """Two-level adaptive-quantizer SemDeDup oracle: replays
    `similarity.semdedup_assign` exactly — nlist and k1 derived from the
    corpus by the same formulas, supers = first k1 seeds, seeds < k1
    forced to their own super, every argmax as the shared
    round(cos, 6) DESC / lowest-id tiebreak rank.

    EXECUTION SHAPE (r10, checker-OOM hardening): the r09 form carried the
    DOUBLE[] list column through every window sort and the final in-cell
    self-join; DuckDB puts variable-size row payloads in per-row heap
    blocks, and the resulting allocation churn fragmented jemalloc into
    ~64k VMAs — hitting vm.max_map_count and poisoning the checker process
    for every LATER oracle (the real mechanism behind the 28 r09 "OOM"
    rows; DIAGNOSIS in PERF.md). This form unnests the embedding ONCE into
    64 flat DOUBLE columns (fixed-width rows, no heap blocks), ranks
    windows over (id, cand, sim) scalars only, and re-joins coordinates by
    id where a later level needs them. Same expressions, same term order →
    bit-identical values; map count stays ~O(100). The ew CTE is built by
    the shared `_sql_ew_cte()` (r10 ADVICE: a hand-inlined copy here could
    silently diverge from the ANN family's term order — one source of
    truth now guarantees the unnest shape)."""
    rank = (
        "row_number() OVER (PARTITION BY {part} ORDER BY"
        " coalesce(round({cos}, 6), -2.0) DESC, {cand} ASC)"
    )
    xs = ", ".join(f"v[{i}] AS x{i}" for i in range(1, EMB_DIM + 1))
    ex = ", ".join(f"e.x{i}" for i in range(1, EMB_DIM + 1))
    ps = ", ".join(f"x{i} AS p{i}" for i in range(1, EMB_DIM + 1))
    return f"""
WITH p AS (
  SELECT CAST(greatest({IVF_NLIST},
               ceil(count(*) / {SEMDEDUP_CELL_TARGET}.0)) AS BIGINT) AS nlist,
         CAST(ceil(sqrt(greatest({IVF_NLIST},
               ceil(count(*) / {SEMDEDUP_CELL_TARGET}.0)))) AS BIGINT) AS k1
  FROM embeddings
),
{_sql_ew_cte()},
supers AS (
  SELECT vec_id AS super_id, nrm AS pnrm, {ps} FROM ew
  WHERE vec_id < (SELECT k1 FROM p)
),
seed_grp AS (
  SELECT seed_id, grp FROM (
    SELECT s.vec_id AS seed_id, u.super_id AS grp,
           {rank.format(part="s.vec_id", cos=_sql_scalar_cos("s.x", "u.p", "s.nrm", "u.pnrm"), cand="u.super_id")} AS rn
    FROM ew s CROSS JOIN supers u
    WHERE s.vec_id < (SELECT nlist FROM p)
  ) WHERE rn = 1
),
seed_super AS (
  SELECT seed_id,
         CASE WHEN seed_id < (SELECT k1 FROM p) THEN seed_id
              ELSE grp END AS grp
  FROM seed_grp
),
vec_super AS (
  SELECT vec_id, grp FROM (
    SELECT e.vec_id, u.super_id AS grp,
           {rank.format(part="e.vec_id", cos=_sql_scalar_cos("e.x", "u.p", "e.nrm", "u.pnrm"), cand="u.super_id")} AS rn
    FROM ew e CROSS JOIN supers u
  ) WHERE rn = 1
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, s.seed_id AS cell,
           {rank.format(part="q.vec_id", cos=_sql_scalar_cos("q.x", "s.x", "q.nrm", "s.nrm"), cand="s.seed_id")} AS rn
    FROM (SELECT w.vec_id, w.grp, e.nrm, {ex}
          FROM vec_super w JOIN ew e ON e.vec_id = w.vec_id) q
    JOIN (SELECT t.seed_id, t.grp, e.nrm, {ex}
          FROM seed_super t JOIN ew e ON e.vec_id = t.seed_id) s
      ON s.grp = q.grp
  ) WHERE rn = 1
),
av AS (
  SELECT a.vec_id, a.cell, e.nrm, {ex}
  FROM assign a JOIN ew e ON e.vec_id = a.vec_id
)
SELECT a.vec_id, a.cell FROM av a
WHERE NOT EXISTS (
  SELECT 1 FROM av b
  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
    AND round({_sql_scalar_cos("a.x", "b.x", "a.nrm", "b.nrm")}, 6) >= {COS_THRESHOLD}
)
"""


# --- MinHash estimator accuracy (evaluation harness) -------------------------

def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the MinHash estimate the LSH pipeline banks on? For every
    LSH candidate pair, compare the signature-estimated Jaccard (fraction of
    equal components — the collision-probability estimator) to the exact
    shingle Jaccard, summarized as mean/max absolute error. This is the
    dedup twin of `ann_recall_*`: the harness you run before trusting
    NUM_HASHES/BAND_SIZE at corpus scale.

    Plan: candidate pairs come from the one-scan bucket pipeline
    (`lsh_candidate_pairs`); the per-side payload frame recomputes
    signatures IN-ROW from the shingle array (array_min∘transform — scan +
    project, NO shuffle, exactly the same universal-hash family as the
    explode path, and duplicate shingles can't change a min), so each side
    join adds a linear scan, never a second signature shuffle. Exactness:
    est = equal-count/8.0 (/2^3 — exact), exact Jaccard = one division,
    per-pair error rounded to the 1e-6 grid and summed as DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, num_hashes=NUM_HASHES, keep_all_docs=False)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    def _mh(a: int, b: int):
        # 1-arg lambda via closure (a 2-arg lambda would be read by
        # F.transform as an (element, index) lambda)
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(dedup.MINHASH_P)

    # each shingle is md5'd ONCE (the xs projection); the 8 family members
    # derive from the shared digest ints — same one-digest design as the
    # explode path, not 8 redundant digests per shingle
    payload = docs.select(
        F.col("doc_id"),
        dedup.shingles(F.col("text"), 3).alias("sh"),
    ).select(
        "doc_id",
        "sh",
        F.transform(
            "sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ).alias("__xs"),
    ).select(
        "doc_id",
        "sh",
        *[
            F.array_min(F.transform("__xs", _mh(a, b))).alias(f"mh{j}")
            for j, (a, b) in enumerate(dedup.minhash_params(NUM_HASHES))
        ],
    )
    pa = payload.alias("pa")
    pb = payload.alias("pb")
    est = (
        sum(
            (F.col(f"pa.mh{j}") == F.col(f"pb.mh{j}")).cast("int")
            for j in range(NUM_HASHES)
        )
        / F.lit(float(NUM_HASHES))
    )
    exact = F.size(F.array_intersect("pa.sh", "pb.sh")) / F.nullif(
        F.size(F.array_union("pa.sh", "pb.sh")), F.lit(0)
    )
    err = F.round(F.abs(est - exact), 6)
    per_pair = (
        pairs.join(pa, pairs.id_a == F.col("pa.doc_id"))
        .join(pb, pairs.id_b == F.col("pb.doc_id"))
        .select(err.alias("err"))
    )
    return per_pair.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.sum(F.col("err").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_abs_err"),
        F.max("err").alias("max_abs_err"),
    )


def _sql_minhash_equal_frac() -> str:
    cases = " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
        for j in range(NUM_HASHES)
    )
    return f"({cases}) / {float(NUM_HASHES)}"


SQL_MINHASH_ACCURACY = f"""
WITH cand AS (SELECT * FROM ({SQL_MINHASH_LSH_PAIRS})),
d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d),
p AS (
  SELECT doc_id, s,
         {", ".join(f"{_sql_minhash(j)} AS mh{j}" for j in range(NUM_HASHES))}
  FROM sh
),
e AS (
  SELECT round(abs({_sql_minhash_equal_frac()}
                   - len(list_intersect(a.s, b.s))
                     / nullif(len(list_distinct(a.s || b.s)), 0)), 6) AS err
  FROM cand c
  JOIN p a ON a.doc_id = c.id_a
  JOIN p b ON b.doc_id = c.id_b
)
SELECT count(*) AS n_pairs,
       CAST(sum(CAST(err AS DECIMAL(10,6))) AS DOUBLE) / count(*) AS mean_abs_err,
       max(err) AS max_abs_err
FROM e
"""


# --- curation funnel: per-stage survivor counts ------------------------------

FUNNEL_QUALITY_MIN = 0.5


def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's per-stage attrition report: how many docs
    survive (cumulatively) language-ID → quality threshold → exact-dedup
    canonicalization. One documents scan computes every per-doc flag in-row
    (stopword ratio, quality score, fingerprint); stage counts fold
    through TWO mergeable hash aggregates: per-fp partial counts plus
    min(struct(doc_id, flags)) — the lexicographic struct min IS the
    canonical member and carries its flags, constant state per fp (the r08
    rewrite of the per-fp min-window, whose task load grew with the
    largest duplicate group) — then a 1-row rollup, unpivoted to
    (stage, n_docs) rows. Counts are integers — engine-exact by
    construction."""
    docs = load_table(spark, sf_dir, "documents")
    quality = text.quality_columns("text")["quality_score"]
    fp = F.md5(F.concat_ws(" ", text.tokens(F.lower(F.col("text")))))
    flagged = docs.select(
        F.col("doc_id"),
        (text.stopword_ratio(F.col("text")) >= 0.05).alias("is_en"),
        (quality >= FUNNEL_QUALITY_MIN).alias("is_quality"),
        fp.alias("fp"),
    )
    per_fp = flagged.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_en").cast("long")).alias("n_en"),
        F.sum((F.col("is_en") & F.col("is_quality")).cast("long")).alias("n_q"),
        F.min(F.struct("doc_id", "is_en", "is_quality")).alias("c"),
    )
    agg = per_fp.agg(
        F.sum("n").alias("total"),
        F.sum("n_en").alias("en"),
        F.sum("n_q").alias("q"),
        F.sum(
            (F.col("c.is_en") & F.col("c.is_quality")).cast("long")
        ).alias("kept"),
    )
    return agg.select(
        F.expr(
            "stack(4, '0_total', total, '1_lang_en', en,"
            " '2_quality', q, '3_canonical', kept) AS (stage, n_docs)"
        )
    )


SQL_QUALITY_FILTER_FUNNEL = f"""
WITH d AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ({_STOPLIST}))) / len(toks)
           >= 0.05 AS is_en,
         (CASE WHEN len(toks) >= 50 THEN 1.0 ELSE len(toks) / 50.0 END) * 0.5
           + (len(list_distinct(toks)) / len(toks)) * 0.3
           + least(((length(text) - (len(toks) - 1)) / len(toks)) / 10.0,
                   1.0) * 0.2 >= {FUNNEL_QUALITY_MIN} AS is_quality,
         md5(array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')) AS fp
  FROM d
),
per_fp AS (
  SELECT fp, count(*) AS n,
         sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS n_en,
         sum(CASE WHEN is_en AND is_quality THEN 1 ELSE 0 END) AS n_q,
         min(struct_pack(doc_id := doc_id, is_en := is_en,
                         is_quality := is_quality)) AS c
  FROM m GROUP BY fp
),
agg AS (
  SELECT sum(n) AS total,
         sum(n_en) AS en,
         sum(n_q) AS q,
         sum(CASE WHEN c.is_en AND c.is_quality THEN 1 ELSE 0 END) AS kept
  FROM per_fp
)
SELECT '0_total' AS stage, CAST(total AS BIGINT) AS n_docs FROM agg
UNION ALL SELECT '1_lang_en', CAST(en AS BIGINT) FROM agg
UNION ALL SELECT '2_quality', CAST(q AS BIGINT) FROM agg
UNION ALL SELECT '3_canonical', CAST(kept AS BIGINT) FROM agg
"""


# --- corpus vocabulary + length-distribution profiles ------------------------

VOCAB_K = 50
HIST_BUCKET = 10


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_topk(load_table(spark, sf_dir, "documents"), k=VOCAB_K)


SQL_VOCAB_TOPK = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents),
c AS (
  SELECT t, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY t
)
SELECT t AS token, n_occurrences, n_docs, rank FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY n_occurrences DESC, t ASC)
                 AS INTEGER) AS rank
  FROM c
) WHERE rank <= {VOCAB_K}
"""


def q_token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_length_histogram(
        load_table(spark, sf_dir, "documents"), bucket_width=HIST_BUCKET
    )


SQL_TOKEN_LEN_HISTOGRAM = f"""
WITH n AS (SELECT len({_SQL_TOKS}) AS n_tokens FROM documents)
SELECT n_tokens - n_tokens % {HIST_BUCKET} AS bucket_lo, count(*) AS n_docs
FROM n GROUP BY 1
"""


# --- text scrubbing + exact length quantiles ---------------------------------

def q_doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.scrub(load_table(spark, sf_dir, "documents"))


SQL_DOC_SCRUB = """
SELECT doc_id,
       array_to_string(regexp_split_to_array(
         regexp_replace(lower(text), '[0-9]+', '#', 'g'), '\\s+'), ' ')
         AS scrubbed,
       md5(array_to_string(regexp_split_to_array(
         regexp_replace(lower(text), '[0-9]+', '#', 'g'), '\\s+'), ' '))
         AS scrubbed_fp
FROM documents
"""

QUANTILES = (0.5, 0.9, 0.99)


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.length_quantiles(load_table(spark, sf_dir, "documents"), qs=QUANTILES)


_SQL_QPICKS = ", ".join(
    f"max(CASE WHEN rn = greatest(1, CAST(ceil({q} * total) AS BIGINT))"
    f" THEN n_tokens END) AS p{int(q * 100)}"
    for q in QUANTILES
)
SQL_DOC_LENGTH_QUANTILES = f"""
WITH n AS (SELECT len({_SQL_TOKS}) AS n_tokens FROM documents),
r AS (
  SELECT n_tokens,
         row_number() OVER (ORDER BY n_tokens) AS rn,
         count(*) OVER () AS total
  FROM n
)
SELECT {_SQL_QPICKS} FROM r
"""


# --- winnowing-style rolling-window fingerprints -----------------------------

WINNOW_MOD = 8


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), mod=WINNOW_MOD
    )


SQL_DOC_WINNOW = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM d),
h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS fp FROM sh)
SELECT DISTINCT doc_id, fp FROM h WHERE fp % {WINNOW_MOD} = 0
"""


# --- per-label embedding centroids (IVF coarse-quantizer construction) -------

def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_CENTROIDS = """
SELECT label, i - 1 AS dim,
       round(avg(embedding[i]::DOUBLE), 6) AS centroid,
       count(*) AS n_vecs
FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
GROUP BY label, i - 1
"""


# --- end-to-end near-dup pipeline: LSH candidates → verify → canonicalize ----

def _neardup_edges(docs: DataFrame) -> DataFrame:
    """Verified near-duplicate pairs ``(id_a < id_b)`` over an arbitrary
    documents frame: MinHash+LSH candidates, exact n-gram Jaccard
    verification. Split out of `_neardup_canon` (r18 VERDICT item 3) so
    `q_dedup_after_delete` can compute the chain ONCE and derive the
    post-delete edge set by endpoint restriction instead of re-running
    MinHash/LSH/verify over the survivor slice — exact, not approximate:
    shingles, signatures and band keys are per-doc functions, so the
    candidate pairs (same-bucket co-membership) and the per-pair Jaccard
    over any doc SUBSET are precisely the full corpus' values restricted
    to pairs with both endpoints in the subset."""
    sig = dedup.minhash_signatures(docs, num_hashes=NUM_HASHES, keep_all_docs=False)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    sh = docs.select("doc_id", dedup.shingles(F.col("text")).alias("s"))
    j = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")), "id_b")
    )
    jacc = F.size(F.array_intersect("sa", "sb")) / F.nullif(
        F.size(F.array_union("sa", "sb")), F.lit(0)
    )
    return j.filter(jacc >= JACCARD_THRESHOLD).select("id_a", "id_b")


def _canon_from_edges(docs: DataFrame, v: DataFrame) -> DataFrame:
    """Min-label components over the verified pair set ``v``, joined back
    onto ``docs`` (isolated docs canonicalize to themselves). The tail of
    `_neardup_canon`, shared with the deletion repair's edge-reuse path."""
    edges = v.unionByName(
        v.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("id"), F.col("id_b").alias("nb"))
    comp = dedup.min_label_components(edges)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("canonical_id"),
        )
    )


def _neardup_canon(docs: DataFrame) -> DataFrame:
    """The verified near-dup canonical chain over an arbitrary documents
    frame (ONE definition for the full-corpus query and the
    component-local recluster in `q_dedup_after_delete` — the `_man_fold`
    anti-drift discipline): MinHash+LSH candidates, exact n-gram Jaccard
    verification, min-label components. Returns (doc_id, canonical_id)."""
    return _canon_from_edges(docs, _neardup_edges(docs))


def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup decision in one dataflow: MinHash+LSH candidate pairs,
    exact n-gram Jaccard verification on candidates only, then per-doc
    canonical assignment as a TRUE connected-component representative —
    min-label propagation iterated to a fixpoint, so for a verified chain
    A–B, B–C all three map to A even with no direct A–C edge (the output is
    a fixpoint: canonical_id(canonical_id(x)) = canonical_id(x), safe for
    downstream "keep canonical only" dedup). Pair work is bounded by the
    LSH banding; the component loop runs only over edge endpoints."""
    canon = _neardup_canon(load_table(spark, sf_dir, "documents"))
    return canon.withColumn("is_dup", F.col("canonical_id") != F.col("doc_id"))


# transitive closure mirrored as a recursive CTE: reach(id, r) enumerates
# every node r reachable from id over the verified-duplicate edges, and the
# component representative is min(r) — the same fixpoint the Spark side's
# iterated min-label propagation converges to
SQL_NEARDUP_VERIFIED = f"""
WITH RECURSIVE cand AS (SELECT * FROM ({SQL_MINHASH_LSH_PAIRS})),
d2 AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh2 AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d2),
v AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sh2 a ON a.doc_id = c.id_a
  JOIN sh2 b ON b.doc_id = c.id_b
  WHERE len(list_intersect(a.s, b.s))
        / nullif(len(list_distinct(a.s || b.s)), 0) >= {JACCARD_THRESHOLD}
), e AS (
  SELECT id_a AS id, id_b AS nb FROM v
  UNION ALL
  SELECT id_b, id_a FROM v
), nodes AS (
  SELECT DISTINCT id FROM e
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.nb FROM reach JOIN e ON e.id = reach.r
), comp AS (
  SELECT id, min(r) AS lbl FROM reach GROUP BY id
)
SELECT d.doc_id,
       coalesce(c.lbl, d.doc_id) AS canonical_id,
       coalesce(c.lbl, d.doc_id) != d.doc_id AS is_dup
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


# --- end-to-end curation: near-dup canonical → language → quality → tokens ---

CURATION_QUALITY_MIN = 0.6


def q_curation_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation decision as one dataflow: keep a doc
    iff it is its near-dup component's canonical representative AND passes
    the language heuristic AND the structural quality floor; emit the
    whitespace + BPE-ish token counts a batch-budgeting step consumes.

    Plan shape: every per-row metric (quality, stopword ratio, both token
    counts) is fused into ONE projection over a single documents scan —
    row-local filters run before the expensive part, then a LEFT SEMI join
    against the canonical set (its cost is the LSH pipeline's, bounded by
    banding). Dedup is decided on the FULL corpus before quality filtering —
    the usual order, so a low-quality near-dup of a kept doc can't sneak in
    as 'novel' later."""
    docs = load_table(spark, sf_dir, "documents")
    canon = (
        q_neardup_verified(spark, sf_dir)
        .filter(~F.col("is_dup"))
        .select("doc_id")
    )
    qc = text.quality_columns("text")
    metrics = docs.select(
        "doc_id",
        qc["n_tokens"].alias("n_tokens"),
        F.size(text.subwords(F.col("text"))).alias("n_subwords"),
        qc["quality_score"].alias("quality_score"),
        text.stopword_ratio(F.col("text")).alias("swr"),
    )
    return (
        metrics.filter(
            (F.col("swr") >= 0.05)
            & (F.col("quality_score") >= CURATION_QUALITY_MIN)
        )
        .join(canon, "doc_id", "left_semi")
        .select("doc_id", "n_tokens", "n_subwords", "quality_score")
    )


SQL_CURATION_KEPT = f"""
WITH canon AS (
  SELECT doc_id FROM ({SQL_NEARDUP_VERIFIED}) nv WHERE NOT is_dup
),
d AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks,
         regexp_extract_all(text, '{text.SUBWORD_PATTERN.replace("'", "''")}') AS sw
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(sw) AS n_subwords,
         CASE WHEN len(toks) >= 50 THEN 1.0 ELSE len(toks) / 50.0 END * 0.5
           + (len(list_distinct(toks)) / len(toks)) * 0.3
           + least(((length(text) - (len(toks) - 1)) / len(toks)) / 10.0, 1.0) * 0.2
           AS quality_score,
         len(list_filter(toks, x -> x IN ({_STOPLIST}))) / len(toks) AS swr
  FROM d
)
SELECT doc_id, n_tokens, n_subwords, quality_score
FROM m
WHERE swr >= 0.05 AND quality_score >= {CURATION_QUALITY_MIN}
  AND doc_id IN (SELECT doc_id FROM canon)
"""


# --- SimHash -----------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash32(load_table(spark, sf_dir, "documents"))


SQL_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(generate_series(0, 31)) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


# --- ANN: brute-force cosine top-k ------------------------------------------

TOPK = 10
N_QUERIES = 10


def _query_slice(vectors: DataFrame) -> DataFrame:
    """The evaluation query batch: the first N_QUERIES rows of a
    (vec_id, embedding) frame, keyed as ``query_id``."""
    return vectors.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _query_slice(emb), k=TOPK)


SQL_ANN_TOPK = f"""
WITH {_sql_ew_cte()},
q AS (SELECT vec_id AS query_id, nrm AS qnrm, {_sql_x_as("q")}
      FROM ew WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round({_sql_scalar_cos("q.q", "c.x", "q.qnrm", "c.nrm")}, 6) AS cos_sim
  FROM ew c JOIN q ON c.vec_id != q.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


# --- IVF index: cell assignment + probed approximate top-k -------------------

IVF_NLIST = 16
IVF_NPROBE = 2

#: SemDeDup sizing rule (r08 VERDICT item 5): hold the EXPECTED cell size
#: constant so the cell-local pair search stays linear in the corpus.
SEMDEDUP_CELL_TARGET = 64


def _adaptive_nlist(n_vectors: int) -> int:
    """nlist = max(IVF_NLIST, ceil(n / SEMDEDUP_CELL_TARGET)) — the
    corpus-proportional quantizer size. Mirrored verbatim by the DuckDB
    scalar subquery in `_sql_semdedup`'s params CTE."""
    return max(IVF_NLIST, -(-n_vectors // SEMDEDUP_CELL_TARGET))


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_assign(
        load_table(spark, sf_dir, "embeddings"), nlist=IVF_NLIST
    ).select("vec_id", "cell", "cell_sim")


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, _query_slice(emb), k=TOPK, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    )


def _ivf_cache_root() -> str:
    """Per-user (uid-scoped, 0700) cache root — a shared world-writable path
    would be open to pre-creation/poisoning on multi-user hosts. Because the
    uid-suffixed name is predictable under a world-writable tempdir, a
    pre-existing directory is only accepted after verifying it is OURS and
    not group/other-accessible; otherwise (attacker pre-created it) fall
    back to a fresh mkdtemp root — losing the cross-session cache, never
    trusting foreign contents."""
    import os
    import stat
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"msfdp_ivf_index_{os.getuid()}"
    )
    try:
        os.mkdir(root, mode=0o700)
        return root
    except FileExistsError:
        pass
    try:
        st = os.lstat(root)
        if (
            stat.S_ISDIR(st.st_mode)
            and not stat.S_ISLNK(st.st_mode)
            and st.st_uid == os.getuid()
            and not (st.st_mode & 0o077)
        ):
            return root
    except OSError:
        # removed between the failed mkdir and the lstat (TOCTOU on a
        # world-writable tempdir) — take the private-fallback path below
        pass
    # untrusted pre-existing path: one fresh private root per process
    global _FALLBACK_CACHE_ROOT
    if _FALLBACK_CACHE_ROOT is None:
        _FALLBACK_CACHE_ROOT = tempfile.mkdtemp(prefix="msfdp_ivf_index_")
    return _FALLBACK_CACHE_ROOT


_FALLBACK_CACHE_ROOT: str | None = None


def _ivf_index_dir(
    sf_dir: str, nlist: int, two_level: bool = False, refined: bool = False
) -> str:
    import os

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    suffix = ("_2l" if two_level else "") + (
        f"_refkm{KM_ITERS}" if refined else ""
    )
    return os.path.join(_ivf_cache_root(), f"{tag}_nlist{nlist}{suffix}")


def _ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    nlist: int = IVF_NLIST,
    two_level: bool = False,
    refined: bool = False,
) -> str:
    """``refined`` builds the index at a `kmeans_centroids`-refined coarse
    quantizer (KM_ITERS Lloyd iterations — the trained-quantizer
    configuration): the refined centers drive assignment AND are
    persisted as ``quantizer/``, so `ivf_topk_probe` — unchanged —
    probes the same centers structurally."""
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    ident = {"src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
             "nlist": nlist, "two_level": two_level}
    if refined:
        ident.update({"refined": True, "km_iters": KM_ITERS})

    def _build(build_dir: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        centers = (
            similarity.kmeans_centroids(
                emb, k=nlist, iters=KM_ITERS
            ).localCheckpoint()  # train once; assign + quantizer share it
            if refined
            else None
        )
        similarity.build_ivf_index(
            spark, emb, build_dir, nlist=nlist, two_level=two_level,
            coarse_centers=centers,
        )

    return _ensure_index(
        _ivf_index_dir(sf_dir, nlist, two_level, refined), ident, _build
    )


def _ensure_pq_index(
    spark: SparkSession,
    sf_dir: str,
    m: int | None = None,
    k: int | None = None,
    residual_refined: bool = False,
) -> str:
    """The IVF-PQ twin of `_ensure_ivf_index`: build-once codebooks +
    cell-partitioned codes under the same identity-markered cache, so the
    serving queries (`q_ann_topk_pq_probe`, `q_ann_topk_pq256_probe`,
    `q_ann_topk_pq_refined_probe`) pay training exactly once per
    (testdata tree, code budget, encoding) and the probe itself never
    runs a Lloyd iteration. ``m``/``k`` select the budget: the default is
    the 4-bit harness twin (m=8, k=16); the production point passes
    m=16, k=256. ``residual_refined`` builds the encoding the r15
    frontier recommends for by_residual deployments: the coarse
    quantizer Lloyd-refined (`kmeans_centroids`, KM_ITERS — the
    `ivfpq_residual_refined_recall` configuration) and the sub-codebooks
    trained on residuals against those refined centers."""
    import os

    m = PQ_M if m is None else m
    k = PQ_K if k is None else k
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    ident = {"src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
             "m": m, "k": k, "iters": PQ_ITERS, "nlist": IVF_NLIST,
             "kind": "pq"}
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    suffix = ""
    if residual_refined:
        ident.update({"residual": True, "km_iters": KM_ITERS})
        suffix = f"_reskm{KM_ITERS}"
    index_dir = os.path.join(
        _ivf_cache_root(),
        f"{tag}_pq_m{m}k{k}i{PQ_ITERS}nlist{IVF_NLIST}{suffix}",
    )

    def _build(build_dir: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        centers = (
            similarity.kmeans_centroids(
                emb, k=IVF_NLIST, iters=KM_ITERS
            ).localCheckpoint()  # train once; assign + residual + quantizer share it
            if residual_refined
            else None
        )
        similarity.build_pq_index(
            spark, emb, build_dir, m=m, k_codebook=k, iters=PQ_ITERS,
            dim=EMB_DIM, nlist=IVF_NLIST, coarse_centers=centers,
            by_residual=residual_refined,
        )

    return _ensure_index(index_dir, ident, _build)


def _ensure_index(index_dir: str, ident: dict, build) -> str:
    """Build a materialized index at ``index_dir`` if absent or stale
    (source parquet changed). The marker records the source identity so a
    regenerated testdata tree invalidates the cached index.

    Concurrency-safe: the index is built into a unique sibling temp dir
    (marker written LAST, inside it) and atomically renamed into place, so a
    concurrent session can never observe a half-built index; if two sessions
    race, the rename loser discards its build and uses the winner's."""
    import json
    import os
    import shutil
    import tempfile

    def _marker_matches(d: str) -> bool:
        try:
            with open(os.path.join(d, "_built.json")) as fh:
                return json.load(fh) == ident
        except (OSError, ValueError):
            return False

    if _marker_matches(index_dir):
        return index_dir
    build_dir = tempfile.mkdtemp(
        prefix=os.path.basename(index_dir) + ".build.",
        dir=os.path.dirname(index_dir),
    )
    try:
        build(build_dir)
        with open(os.path.join(build_dir, "_built.json"), "w") as fh:
            json.dump(ident, fh)
        if _marker_matches(index_dir):
            # a concurrent builder finished first with the SAME identity:
            # swapping would rmtree a fresh index that live lazy plans may
            # already reference — keep the winner's, discard ours
            shutil.rmtree(build_dir, ignore_errors=True)
            return index_dir
        if os.path.isdir(index_dir):  # stale build from an older source tree
            stale = index_dir + ".stale." + os.path.basename(build_dir)
            os.rename(index_dir, stale)
            shutil.rmtree(stale, ignore_errors=True)
        os.rename(build_dir, index_dir)
    except OSError:
        # rename lost a race with a concurrent builder — use the winner's
        shutil.rmtree(build_dir, ignore_errors=True)
        if not _marker_matches(index_dir):
            raise
    return index_dir


def q_ann_topk_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_topk_ivf` against the build-once index (PERF.md's deployment
    mode): cells/ is read with dynamic partition pruning from the probe
    side, quantizer/ is a 1-row broadcast — the corpus is never re-scanned
    or re-assigned; only the tiny query slice reads the source table. Same
    nlist/nprobe, same results, shared oracle."""
    index_dir = _ensure_ivf_index(spark, sf_dir)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.ivf_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


def q_ann_topk_ivf_refined_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_ann_topk_ivf_probe` with the coarse quantizer Lloyd-REFINED at
    build time (r15 VERDICT item 2's plain-IVF leg, completing the
    refined-quantizer story across BOTH materialized index families):
    `build_ivf_index(coarse_centers=kmeans_centroids(...))` assigns the
    inverted lists with the refined centers and persists that exact
    centers row as the index quantizer, so `ivf_topk_probe` — the same
    unchanged probe plan, dynamic partition pruning and all — serves
    from the quantizer that shaped the cells. Training (the Lloyd loop)
    runs only in the build, amortized by `_ensure_ivf_index`'s cache;
    the probe is Lloyd-free (same monkeypatch pin as the PQ probes).
    Oracle: the `kmeans_refine` Lloyd replay feeding the raw-cosine IVF
    probe chain — assignment, probing and scoring all at the refined
    centers, bit-for-bit."""
    index_dir = _ensure_ivf_index(spark, sf_dir, refined=True)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.ivf_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


#: assignment rank over seeds: best = highest rounded cosine, seed-id tiebreak;
#: a null cosine (zero vector) sorts last (the Spark side's +2.0 sentinel).
_SQL_IVF_RANK = (
    "row_number() OVER (PARTITION BY {part} ORDER BY"
    " coalesce(round({cos}, 6), -2.0) DESC, s.seed_id ASC)"
)

def _sql_ivf_common(ew_cte: str | None = None) -> str:
    """The shared fixed-nlist (ew, seeds, assign) CTE chain for the ANN
    family, in the scalar-column/hoisted-norm execution shape (see
    `_sql_ew_cte`): the assignment rank windows over (vec_id, cell,
    cell_sim) scalars only, and `assign` re-joins the coordinates by id
    for consumers that score candidates. The SemDeDup oracles do NOT use
    it — their corpus-adaptive two-level quantizer has its own
    self-contained CTE chain (`_sql_semdedup`). ``ew_cte`` substitutes a
    different corpus definition (same ``ew`` shape) — the seam the
    upserted-index oracle uses to run the identical chain over the
    UPDATED corpus."""
    cos_es = _sql_scalar_cos("e.x", "s.s", "e.nrm", "s.snrm")
    xcols = ", ".join(f"e.x{i}" for i in range(1, EMB_DIM + 1))
    return f"""
WITH {ew_cte or _sql_ew_cte()},
seeds AS (SELECT vec_id AS seed_id, nrm AS snrm, {_sql_x_as("s")}
          FROM ew WHERE vec_id < {IVF_NLIST}),
assign0 AS (
  SELECT vec_id, cell, cell_sim FROM (
    SELECT e.vec_id, s.seed_id AS cell,
           coalesce(round({cos_es}, 6) + 0.0, -2.0) AS cell_sim,
           {_SQL_IVF_RANK.format(part="e.vec_id", cos=cos_es)} AS rn
    FROM ew e CROSS JOIN seeds s
  ) WHERE rn = 1
),
assign AS (
  SELECT a.vec_id, e.nrm, {xcols}, a.cell, a.cell_sim
  FROM assign0 a JOIN ew e ON e.vec_id = a.vec_id
)
"""


SQL_IVF_ASSIGN = f"""
{_sql_ivf_common()}
SELECT vec_id, cell, cell_sim FROM assign0
"""

def _sql_ann_topk_ivf(ew_cte: str | None = None) -> str:
    """The full IVF top-k oracle over whatever corpus ``ew_cte`` defines
    (default: the raw embeddings table) — one chain serves both
    `ann_topk_ivf`'s family and the upserted-index probe, so the two
    oracles can never drift."""
    return f"""
{_sql_ivf_common(ew_cte)},
probes AS (
  SELECT p.query_id, e.nrm AS qnrm, {_sql_x_as("q")}, p.cell
  FROM (
    SELECT query_id, cell FROM (
      SELECT q.vec_id AS query_id, s.seed_id AS cell,
             {_SQL_IVF_RANK.format(part="q.vec_id", cos=_sql_scalar_cos("q.x", "s.s", "q.nrm", "s.snrm"))} AS rn
      FROM ew q CROSS JOIN seeds s WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}
  ) p JOIN ew e ON e.vec_id = p.query_id
),
scored AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         round({_sql_scalar_cos("p.q", "a.x", "p.qnrm", "a.nrm")}, 6) AS cos_sim
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


SQL_ANN_TOPK_IVF = _sql_ann_topk_ivf()


# --- incremental ANN index maintenance (r17 VERDICT item 2) -------------------

#: the CDC split driving the upsert harness: docs with vec_id >= IVF_NLIST
#: matching CHG are EDITED (vector perturbed by +0.5 per coordinate — an
#: exact IEEE op both engines replay identically), docs matching NEW are
#: ADDED (held out of the base build, arrive only via upsert). Both
#: selectors exclude vec_id < IVF_NLIST so the seed quantizer — the first
#: nlist vectors — is identical for the base corpus, the updated corpus,
#: and a full rebuild: the exact-equality contract needs one fixed
#: quantizer, and `ivf_index_upsert` never retrains it anyway.
UPS_CHG_MOD, UPS_CHG_SEL = 7, 3
UPS_NEW_MOD, UPS_NEW_SEL = 11, 5


def _upsert_frames(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, delta) for the upsert harness: ``base`` is the corpus the
    index was built on (new docs absent, edited docs at their ORIGINAL
    vectors), ``delta`` the CDC batch (new + edited docs at their UPDATED
    vectors) — so the upsert exercises both insert and replace."""
    vid = F.col("vec_id")
    is_new = (vid >= IVF_NLIST) & (vid % UPS_NEW_MOD == UPS_NEW_SEL)
    is_chg = (vid >= IVF_NLIST) & (vid % UPS_CHG_MOD == UPS_CHG_SEL)
    v = F.col("embedding").cast("array<double>")
    upd = F.when(is_chg, F.transform(v, lambda x: x + F.lit(0.5))).otherwise(v)
    base = emb.filter(~is_new).select("vec_id", "embedding")
    delta = emb.filter(is_new | is_chg).select(
        "vec_id", upd.alias("embedding")
    )
    return base, delta


def _ensure_ivf_upsert_index(spark: SparkSession, sf_dir: str) -> str:
    """Base-build + delta-upsert under one identity marker: the marker
    describes the whole recipe (base split + CDC constants), so neither
    half can be served stale. The build function is the only place
    `build_ivf_index` runs; the upsert itself is Lloyd-free and
    rebuild-free (monkeypatch-pinned in tests)."""
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    ident = {
        "src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
        "kind": "ivf_upsert", "nlist": IVF_NLIST,
        "chg": [UPS_CHG_MOD, UPS_CHG_SEL],
        "new": [UPS_NEW_MOD, UPS_NEW_SEL],
    }
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_dir = os.path.join(
        _ivf_cache_root(), f"{tag}_upsert_nlist{IVF_NLIST}"
    )

    def _build(build_dir: str) -> None:
        base, delta = _upsert_frames(load_table(spark, sf_dir, "embeddings"))
        similarity.build_ivf_index(spark, base, build_dir, nlist=IVF_NLIST)
        similarity.ivf_index_upsert(spark, build_dir, delta)

    return _ensure_index(index_dir, ident, _build)


def q_ivf_index_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_topk_ivf_probe` against an index maintained INCREMENTALLY
    (r17 VERDICT item 2 — the serving wall at 100 TB was the full
    rebuild on any corpus change): the index was built once on the base
    corpus, then a CDC delta (added + edited vectors) was upserted via
    `similarity.ivf_index_upsert` — delta vectors assigned against the
    PERSISTED quantizer, appended/replaced in their cell partitions,
    touched cells only; no Lloyd iteration, no rebuild (both
    monkeypatch-pinned). The oracle runs the full IVF top-k chain over
    the UPDATED corpus — i.e. exactly what a full rebuild would serve —
    so a green row certifies upsert ≡ rebuild; the probe plan itself is
    the unchanged `ivf_topk_probe` (1-row quantizer broadcast + dynamic
    partition pruning).

    Scale shape (measured, PERF.md r18): upsert work ∝ delta — one
    linear assign pass over the delta + a survivors read of ONLY the
    touched cells' files — vs the rebuild's full corpus scan + full
    rewrite; at day-local churn fractions the upsert is the difference
    between rewriting ~delta-sized partitions and re-materializing the
    corpus."""
    index_dir = _ensure_ivf_upsert_index(spark, sf_dir)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.ivf_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


def _sql_ew_upserted_cte() -> str:
    """``ew`` over the UPDATED corpus: edited docs' vectors perturbed by
    the exact IEEE op the Spark delta applies; added docs are simply
    present (they are rows of the embeddings table the base build
    filtered out)."""
    xs = ", ".join(f"v[{i}] AS x{i}" for i in range(1, EMB_DIM + 1))
    cols = ", ".join(f"x{i}" for i in range(1, EMB_DIM + 1))
    return (
        f"ew AS (\n  SELECT vec_id, {_sql_scalar_dot('x', 'x')} AS nrm, {cols}\n"
        f"  FROM (SELECT vec_id, {xs} FROM (\n"
        f"    SELECT vec_id,\n"
        f"           CASE WHEN vec_id >= {IVF_NLIST}\n"
        f"                     AND vec_id % {UPS_CHG_MOD} = {UPS_CHG_SEL}\n"
        f"                THEN list_transform(v, x -> x + 0.5) ELSE v END AS v\n"
        f"    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)))\n)"
    )


SQL_IVF_INDEX_UPSERT = _sql_ann_topk_ivf(_sql_ew_upserted_cte())


# --- ANN quality evaluation: recall@k vs the exact baseline -----------------

def _recall_at_k(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """The evaluation harness every approximate index shares: recall@k of
    ``approx`` (a (query_id, cand_id) top-k over the `_query_slice` batch)
    against the brute-force exact top-k, in ONE plan (the brute side IS the
    ground truth). Per-query hit counts via a left-semi join of the exact
    result against the approximate one; the summary stays integer until
    two final divisions (engine-exact).

    ``approx`` and the per-query counts are |queries|·k and |queries| rows
    (bounded by the query batch, never the corpus), so both are broadcast:
    the hit semi-join and the left-outer attach stay on the brute side's
    query_id partitioning instead of paying sort-merge exchanges."""
    brute = q_ann_topk(spark, sf_dir).select("query_id", "cand_id")
    hits = brute.join(
        F.broadcast(approx.select("query_id", "cand_id")),
        ["query_id", "cand_id"],
        "left_semi",
    )
    # the query-id set comes straight from the source table — deriving it
    # from `brute` would reference that subtree twice and execute the whole
    # exact pipeline twice
    qset = _query_slice(load_table(spark, sf_dir, "embeddings")).select("query_id")
    per_q = qset.join(
        F.broadcast(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
        ),
        "query_id",
        "left",
    ).select("query_id", F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (
            F.sum("n_hits").cast("double")
            / (F.count(F.lit(1)) * TOPK).cast("double")
        ).alias("recall_at_k"),
        (F.min("n_hits").cast("double") / F.lit(float(TOPK))).alias("min_recall"),
    )


#: `_recall_at_k`'s oracle: follows any WITH chain whose last CTE is
#: ``approx`` (query_id, cand_id); that chain must not define brute,
#: joined, qset or per_q.
_SQL_RECALL_TAIL = f"""brute AS (SELECT query_id, cand_id FROM ({SQL_ANN_TOPK})),
joined AS (
  SELECT b.query_id FROM brute b
  JOIN approx a ON a.query_id = b.query_id AND a.cand_id = b.cand_id
),
qset AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {N_QUERIES}),
per_q AS (
  SELECT qset.query_id, count(j.query_id) AS n_hits
  FROM qset LEFT JOIN joined j ON j.query_id = qset.query_id
  GROUP BY qset.query_id
)
SELECT count(*) AS n_queries,
       CAST(sum(n_hits) AS DOUBLE) / CAST(count(*) * {TOPK} AS DOUBLE)
         AS recall_at_k,
       CAST(min(n_hits) AS DOUBLE) / {TOPK}.0 AS min_recall
FROM per_q
"""


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF-probed top-k — how you tune nlist/nprobe before
    deploying."""
    return _recall_at_k(spark, sf_dir, q_ann_topk_ivf(spark, sf_dir))


SQL_ANN_RECALL_IVF = f"""
WITH approx AS (SELECT query_id, cand_id FROM ({SQL_ANN_TOPK_IVF})),
{_SQL_RECALL_TAIL}"""


# --- embedding near-duplicate pairs -----------------------------------------

COS_THRESHOLD = 0.3


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=COS_THRESHOLD
    )


SQL_EMBEDDING_NEARDUP = f"""
WITH {_sql_ew_cte()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_scalar_cos("a.x", "b.x", "a.nrm", "b.nrm")}, 6) AS cos_sim
FROM ew a JOIN ew b ON a.vec_id < b.vec_id
WHERE round({_sql_scalar_cos("a.x", "b.x", "a.nrm", "b.nrm")}, 6) >= {COS_THRESHOLD}
"""


# --- sign-LSH bucketing + bucketed near-dup (the ANN scale path) -------------

LSH_DIM = 64
LSH_BUCKET_PLANES = 16
LSH_NEARDUP_PLANES = 8


def _sql_plane_proj(plane: list[float], ref: str = "v") -> str:
    """Signed projection as an explicit 64-term expression instead of a
    list_reduce lambda: SQL's left-associative `0.0 + t1 + t2 + …` is the
    SAME float-op sequence as the fold (bit-identical), and DuckDB evaluates
    the plain expression ~an order of magnitude faster than the lambda —
    this is pure oracle-side cost, the Spark plan is unchanged. ``ref="v"``
    indexes a DOUBLE[] column; any other ref names flat scalar columns
    (``x1``…``x64``, the `_sql_ew_cte` shape)."""
    if ref == "v":
        terms = " + ".join(f"v[{i + 1}] * {c:.1f}" for i, c in enumerate(plane))
    else:
        terms = " + ".join(f"{ref}{i + 1} * {c:.1f}" for i, c in enumerate(plane))
    return f"(0.0 + {terms})"


def _sql_bucket(num_planes: int, ref: str = "v") -> str:
    planes = similarity.signed_planes(num_planes, LSH_DIM)
    return " + ".join(
        f"(CASE WHEN {_sql_plane_proj(p, ref)} > 0 THEN (CAST(1 AS BIGINT) << {i})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i, p in enumerate(planes)
    )


def q_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.lsh_bucket(
        load_table(spark, sf_dir, "embeddings"), num_planes=LSH_BUCKET_PLANES, dim=LSH_DIM
    )
    return out.select("vec_id", "bucket")


SQL_LSH_BUCKET = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, {_sql_bucket(LSH_BUCKET_PLANES)} AS bucket FROM e
"""


def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=COS_THRESHOLD,
        num_planes=LSH_NEARDUP_PLANES,
        dim=LSH_DIM,
    )


SQL_LSH_NEARDUP = f"""
WITH {_sql_ew_cte()},
b AS (SELECT *, {_sql_bucket(LSH_NEARDUP_PLANES, ref="x")} AS bucket FROM ew)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round({_sql_scalar_cos("a.x", "c.x", "a.nrm", "c.nrm")}, 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round({_sql_scalar_cos("a.x", "c.x", "a.nrm", "c.nrm")}, 6) >= {COS_THRESHOLD}
"""


# --- repetition filters (Gopher-style) ---------------------------------------

def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics: top-bigram coverage + duplicate-trigram
    fraction + the Gopher-style keep/drop flag (operators/text.py
    repetition_stats). Entirely shuffle-free since r11: both metrics are
    doc-local array math (trigrams via array_distinct, bigram mode via a
    sorted-array max-run fold), one map-only pass over one scan."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


SQL_DOC_REPETITION = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), tri AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE)
         ELSE 0.0 END AS dup_trigram_frac
  FROM (
    SELECT doc_id, toks,
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
    FROM base
  )
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM base
), bgc AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
), top AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
  FROM bgc GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       dup_trigram_frac,
       CAST(coalesce(top_bigram_frac, 0.0) > {text.REP_TOP_BIGRAM_MAX}
            OR dup_trigram_frac > {text.REP_DUP_TRIGRAM_MAX} AS INT) AS is_repetitive
FROM tri t LEFT JOIN top USING (doc_id)
"""


# --- corpus mixture weights: per-source token shares → sampling rates --------

def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input `stratified_sample` needs: per-source token counts, the
    source's share of the corpus, and the sampling rate that would flatten
    the mixture to uniform (capped at 1 — upsampling is a repeat-factor
    decision, not a filter). One map-side-combined groupBy over token
    counts; the corpus totals come from a whole-frame window over that
    tiny per-source aggregate (one row per source) — re-aggregating `docs`
    instead would execute the full scan+tokenize subtree twice."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    whole = Window.partitionBy()
    share = (
        F.col("n_tokens").cast("double") / F.sum("n_tokens").over(whole).cast("double")
    )
    target = F.lit(1.0) / F.count(F.lit(1)).over(whole).cast("double")
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.least(F.lit(1.0), target / share).alias("uniform_rate"),
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the weights→sample loop: compute each source's uniform_rate
    (exactly `mixture_weights`' formula) and APPLY it as the deterministic
    hash-threshold filter, reporting kept docs per source. Data-dependent
    rates, not a static dict — the rate table (one row per source) joins
    back onto the corpus unhinted (AQE broadcasts it while small), the
    keep/drop decision stays row-local and reproducible. Two corpus scans
    by construction: the rates are a function of the full corpus and must
    exist before any row can be filtered."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(text.tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    whole = Window.partitionBy()
    share = (
        F.col("n_tokens").cast("double") / F.sum("n_tokens").over(whole).cast("double")
    )
    target = F.lit(1.0) / F.count(F.lit(1)).over(whole).cast("double")
    rates = per_source.select(
        "source", F.least(F.lit(1.0), target / share).alias("uniform_rate")
    )
    kept = docs.join(rates, "source").filter(
        sampling.hash_uniform(F.col("doc_id")) < F.col("uniform_rate")
    )
    return kept.groupBy("source", "uniform_rate").agg(
        F.count(F.lit(1)).alias("n_kept")
    )


SQL_MIXTURE_RESAMPLE = f"""
WITH per_source AS (
  SELECT source, CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(*) AS n_sources
  FROM per_source
), rates AS (
  SELECT source,
         least(1.0, (1.0 / CAST(n_sources AS DOUBLE))
                    / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
           AS uniform_rate
  FROM per_source, totals
)
SELECT d.source, uniform_rate, count(*) AS n_kept
FROM documents d JOIN rates r ON d.source = r.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0
      < uniform_rate
GROUP BY d.source, uniform_rate
"""


SQL_MIXTURE_WEIGHTS = f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(*) AS n_sources
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       least(1.0, (1.0 / CAST(n_sources AS DOUBLE))
                  / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))) AS uniform_rate
FROM per_source, totals
"""


# --- substring-level duplication profile (exact-substring-dedup shape) -------

DUP_SPAN_N = 20


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 20-token spans occurring >= 2x corpus-wide
    (operators/dedup.dup_span_stats) — the substring-granularity dedup
    signal doc-level fingerprints miss."""
    return dedup.dup_span_stats(
        load_table(spark, sf_dir, "documents"), n=DUP_SPAN_N
    )


SQL_DUP_SPAN_STATS = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks) - {DUP_SPAN_N - 1}),
           i -> array_to_string(toks[i:i + {DUP_SPAN_N - 1}], ' ')
         )) AS s
  FROM base WHERE len(toks) >= {DUP_SPAN_N}
), sc AS (
  SELECT s, count(*) AS c_s FROM g GROUP BY s
), c AS (
  SELECT doc_id, c_s FROM g JOIN sc USING (s)
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN c_s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       CAST(sum(CASE WHEN c_s > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_span_frac
FROM c GROUP BY doc_id
"""


# --- corpus unigram-LM scoring (perplexity-style quality signal) -------------

def q_unigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the corpus's own unigram LM — the
    KenLM-perplexity-filter shape with the LM trained in the same plan.
    Per doc: mean and min token probability (rare-token detector). All
    aggregates stay INTEGER until one final division, so both engines get
    bit-identical doubles with no log/rounding games.

    Plan: one scan → explode → groupBy (doc_id, token) [shuffle 1] →
    window-sum per token for corpus counts (no re-aggregation of the
    corpus, no second scan) [shuffle 2] → groupBy doc [shuffle 3] →
    1-row corpus-total aggregate over the SAME doc-level frame, broadcast
    cross-joined back (the q11/q15/q22 pattern). The total branch
    references the identical shuffle-3 subtree, so exchange reuse executes
    the LM 'training' subtree once; its partial aggregation ships one row
    per task — unlike the partition-less Window this replaces (r06 VERDICT
    weak item), which funneled every doc row through ONE task. Linear in
    corpus tokens, three shuffles, no subtree executed twice."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_dt"))
    w_tok = Window.partitionBy("tok")
    scored = pairs.withColumn("c_t", F.sum("c_dt").over(w_tok))
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("c_dt").alias("n_tokens"),
        F.sum(F.col("c_dt") * F.col("c_t")).alias("__sum_ct"),
        F.min("c_t").alias("__min_ct"),
    )
    total_df = per_doc.agg(F.sum("n_tokens").cast("double").alias("__total"))
    return per_doc.crossJoin(F.broadcast(total_df)).select(
        "doc_id",
        "n_tokens",
        (F.col("__sum_ct").cast("double")
         / (F.col("n_tokens").cast("double") * F.col("__total"))
         ).alias("mean_token_prob"),
        (F.col("__min_ct").cast("double") / F.col("__total")).alias("min_token_prob"),
    )


SQL_UNIGRAM_PROB = f"""
WITH pairs AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), cdt AS (
  SELECT doc_id, tok, count(*) AS c_dt FROM pairs GROUP BY doc_id, tok
), scored AS (
  SELECT doc_id, c_dt, sum(c_dt) OVER (PARTITION BY tok) AS c_t FROM cdt
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c_dt) AS BIGINT) AS n_tokens,
         CAST(sum(c_dt * c_t) AS BIGINT) AS sum_ct,
         CAST(min(c_t) AS BIGINT) AS min_ct
  FROM scored GROUP BY doc_id
), tot AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM per_doc
)
SELECT doc_id, n_tokens,
       CAST(sum_ct AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * total)
         AS mean_token_prob,
       CAST(min_ct AS DOUBLE) / total AS min_token_prob
FROM per_doc, tot
"""


# --- token diversity per source (Simpson index, integer-exact) ---------------

def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution concentration: the Simpson index
    Σ(c_t/N)² = Σc_t²/N² and its inverse (effective vocabulary size) — the
    diversity stat a mixture designer reads before weighting sources
    (Shannon entropy needs logs, whose last-ulp differs across engines;
    Simpson stays INTEGER until one division, hence hash-exact). One
    explode → (source, token) hash-agg → per-source rollup; the squares
    sum as integers."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c").cast("double"))
        ).alias("simpson"),
        (
            (F.sum("c").cast("double") * F.sum("c").cast("double"))
            / F.sum(F.col("c") * F.col("c")).cast("double")
        ).alias("inv_simpson"),
    )


SQL_TOKEN_DIVERSITY = f"""
WITH tok AS (SELECT source, unnest({_SQL_TOKS}) AS t FROM documents),
c AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(c * c) AS DOUBLE)
         / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS simpson,
       (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
         / CAST(sum(c * c) AS DOUBLE) AS inv_simpson
FROM c GROUP BY source
"""


# --- bigram LM scoring (conditional-probability extension of unigram_prob) ---

def q_bigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the corpus's own bigram LM: per doc, the
    mean and min conditional probability p(w2|w1) = c(w1 w2)/c(w1 ·) of its
    bigram instances — the rare-TRANSITION detector that unigram_prob's
    per-token frequencies can't see (a doc of common words in an
    unprecedented order scores low here, high there). No smoothing needed:
    the LM is trained on the same corpus, so every observed bigram has
    count ≥ 1.

    Exactness without logs: each p is ONE division of exact integers
    (engine-identical double); min is comparison-only; the mean sums
    round(p, 12) as DECIMAL(16,12) (identical rounding inputs → identical
    decimals; both engines round half away from zero), then divides once.
    Plan: one scan → bigram explode → (doc, gram) hash-agg [shuffle 1] →
    corpus counts via windows over gram and over its first word
    [shuffles 2-3, no re-scan] → doc rollup [shuffle 4]. Linear in corpus
    tokens throughout."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            "doc_id", F.explode(text.word_ngrams(F.col("text"), 2)).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c_dg"))
    )
    w_gram = Window.partitionBy("gram")
    w_ctx = Window.partitionBy("w1")
    scored = (
        pairs.withColumn("c2", F.sum("c_dg").over(w_gram))
        .withColumn("w1", F.substring_index("gram", " ", 1))
        .withColumn("c1", F.sum("c_dg").over(w_ctx))
        .withColumn("p", F.col("c2").cast("double") / F.col("c1").cast("double"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_dg").alias("n_bigrams"),
        (
            F.sum(F.col("c_dg") * F.round("p", 12).cast("decimal(16,12)"))
            .cast("double")
            / F.sum("c_dg").cast("double")
        ).alias("mean_bigram_prob"),
        F.min("p").alias("min_bigram_prob"),
    )


_SQL_BIGRAMS = (
    "list_transform(generate_series(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i+1])"
)

SQL_BIGRAM_PROB = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS gram FROM d),
cdg AS (SELECT doc_id, gram, count(*) AS c_dg FROM g GROUP BY doc_id, gram),
scored AS (
  SELECT doc_id, c_dg,
         CAST(sum(c_dg) OVER (PARTITION BY gram) AS DOUBLE)
           / CAST(sum(c_dg) OVER (PARTITION BY split_part(gram, ' ', 1))
                  AS DOUBLE) AS p
  FROM cdg
)
SELECT doc_id,
       CAST(sum(c_dg) AS BIGINT) AS n_bigrams,
       CAST(sum(c_dg * CAST(round(p, 12) AS DECIMAL(16,12))) AS DOUBLE)
         / CAST(sum(c_dg) AS DOUBLE) AS mean_bigram_prob,
       min(p) AS min_bigram_prob
FROM scored GROUP BY doc_id
"""


# --- decontamination: eval-set n-gram overlap --------------------------------

DECON_NGRAM = 5
DECON_PROBE_MOD = 20
#: fixed eval-set bound: probe ids live in [0, CAP) — the probe COUNT is
#: constant at any corpus scale (and key-shifted probe replicas never qualify)
DECON_PROBE_CAP = 500


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs (stand-in eval set: every 20th doc
    BELOW the fixed id cap) donate their distinct 5-grams; every other doc
    sharing at least one is flagged with its shared-gram count. Probe
    grams broadcast; corpus side stays linear — explode → distinct →
    broadcast join → map-side-combined count (dedup.probe_overlap).

    The id cap (r08) is what makes "eval sets are bounded" TRUE rather
    than asserted: the previous modulo-only probe was 5% OF THE CORPUS,
    so the overlap join's output grew superlinearly with scale (measured
    5.2× for 3× data at the 30× probe) — an artifact of deriving the eval
    set from the corpus, not of the operator. Real decontamination runs a
    FIXED benchmark set against a growing corpus; the cap models exactly
    that (≤ 25 probe docs at ANY scale), restoring the linear contract."""
    docs = load_table(spark, sf_dir, "documents")
    is_probe = (F.col("doc_id") % DECON_PROBE_MOD == 0) & (
        F.col("doc_id") < DECON_PROBE_CAP
    )
    return dedup.probe_overlap(
        docs.filter(~is_probe), docs.filter(is_probe), n=DECON_NGRAM
    )


SQL_DECONTAMINATE = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(toks) - {DECON_NGRAM - 1}),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), probe AS (
  SELECT DISTINCT s FROM g
  WHERE doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP}
), corpus AS (
  SELECT doc_id, s FROM g
  WHERE NOT (doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP})
)
SELECT doc_id, count(*) AS n_shared_ngrams
FROM corpus JOIN probe USING (s)
GROUP BY doc_id
"""


# --- Bloom-prefiltered decontamination ----------------------------------------

#: filter geometry: the probe side is the FIXED-cap eval set (~1.4k distinct
#: 5-grams at every SF — measured), so m is a constant: 32768 bits = 1024
#: 32-bit words = 4 KB dense array, k=4 → theoretical gram-level fpr
#: (1-e^(-kn/m))^k ≈ 5e-4. m scales with the PROBE set only; corpus growth
#: changes nothing on the build side.
BLOOM_M_BITS = 32768
BLOOM_K = 4


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination, with the filter's error contract
    MEASURED against the exact join (`q_decontaminate`, same probe split).

    Why the operator exists: `probe_overlap` ships the exact probe-gram SET
    to the corpus side — fine while the eval suite is small, but a full
    benchmark battery at 1e9 distinct grams is tens of GB and cannot
    broadcast. The Bloom filter is the O(m)-state summary that CAN: built
    with one map-side-combined ``bit_or`` aggregate over probe grams,
    densified to ONE 4 KB array row (`dedup.bloom_build`), broadcast;
    corpus-side membership is then PURE MAP WORK — 2 md5s + 4 codegen'd
    bit tests per gram (`dedup.bloom_member`), no join against the filter,
    no shuffle before the per-doc rollup. The price is false positives,
    and this query reports it next to ground truth: per bloom-flagged doc,
    the bloom-positive gram count, the exact shared-gram count, and
    whether the doc is a pure false positive (wasted verify work in the
    prefilter→exact-verify deployment). False negatives are impossible
    (n_bloom_pos ≥ n_exact_pos row-wise — pinned in tests), so the
    prefilter never loses a contaminated document."""
    docs = load_table(spark, sf_dir, "documents")
    is_probe = (F.col("doc_id") % DECON_PROBE_MOD == 0) & (
        F.col("doc_id") < DECON_PROBE_CAP
    )
    probe_grams = (
        dedup.shingle_rows(docs.filter(is_probe), "doc_id", "text", DECON_NGRAM)
        .select("s")
        .distinct()
    )
    corpus_grams = dedup.shingle_rows(
        docs.filter(~is_probe), "doc_id", "text", DECON_NGRAM
    ).distinct()
    bloom = dedup.bloom_build(probe_grams, "s", BLOOM_M_BITS, BLOOM_K)
    probed = corpus_grams.crossJoin(F.broadcast(bloom)).select(
        "doc_id",
        dedup.bloom_member(
            F.col("s"), F.col("bloom_words"), BLOOM_M_BITS, BLOOM_K
        ).alias("hit"),
    )
    flagged = (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("hit").cast("long")).alias("n_bloom_pos"),
        )
        .filter(F.col("n_bloom_pos") > 0)
    )
    exact = (
        corpus_grams.join(probe_grams, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_exact"))
    )
    n_exact = F.coalesce(F.col("__n_exact"), F.lit(0).cast("long"))
    return flagged.join(exact, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_bloom_pos",
        n_exact.alias("n_exact_pos"),
        (n_exact == 0).alias("false_positive"),
    )


def _sql_bloom_h(col: str, seed: int) -> str:
    return f"('0x' || substr(md5('bloom{seed}|' || {col}), 1, 8))::BIGINT"


SQL_BLOOM_DECONTAMINATE = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(toks) - {DECON_NGRAM - 1}),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), probe AS (
  SELECT DISTINCT s FROM g
  WHERE doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP}
), corpus AS (
  SELECT doc_id, s FROM g
  WHERE NOT (doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP})
), bpos AS (
  SELECT ({_sql_bloom_h('s', 1)} + j * {_sql_bloom_h('s', 2)}) % {BLOOM_M_BITS} AS p
  FROM probe, unnest(generate_series(0, {BLOOM_K - 1})) t(j)
), words AS (
  SELECT p // 32 AS widx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY 1
), hits AS (
  SELECT doc_id,
         bool_and((coalesce(w.word, 0)
                   & (CAST(1 AS BIGINT) << CAST(c.p % 32 AS INTEGER))) <> 0) AS hit
  FROM (
    SELECT doc_id, s,
           ({_sql_bloom_h('s', 1)} + j * {_sql_bloom_h('s', 2)}) % {BLOOM_M_BITS} AS p
    FROM corpus, unnest(generate_series(0, {BLOOM_K - 1})) t(j)
  ) c LEFT JOIN words w ON w.widx = c.p // 32
  GROUP BY doc_id, s
), flags AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_bloom_pos
  FROM hits GROUP BY doc_id
), exact AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM corpus JOIN probe USING (s) GROUP BY doc_id
)
SELECT f.doc_id, f.n_grams, f.n_bloom_pos,
       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact_pos,
       coalesce(e.n_exact, 0) = 0 AS false_positive
FROM flags f LEFT JOIN exact e USING (doc_id)
WHERE f.n_bloom_pos > 0
"""


def _ensure_bloom_filter(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache for the decontamination Bloom filter (r17 VERDICT
    item 4: `bloom_build`'s 4 KB one-row filter was rebuilt per
    invocation although it is exactly the persist-and-broadcast artifact
    class of `_ensure_index`). The eval suite changes when benchmarks are
    added — i.e. rarely — while decontamination runs per ingest batch,
    so the filter build (a shingle scan of the PROBE docs + one bit_or
    fold) belongs in the artifact tier with the PQ codebooks and the LR
    model. ``filter/`` holds the single (bloom_words) row; geometry
    constants ride in the ident so a (m, k, n-gram, probe-split) change
    rebuilds."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    ident = {
        "src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
        "kind": "bloom", "m": BLOOM_M_BITS, "k": BLOOM_K,
        "ngram": DECON_NGRAM,
        "probe": [DECON_PROBE_MOD, DECON_PROBE_CAP],
    }
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_dir = os.path.join(
        _ivf_cache_root(), f"{tag}_bloom_m{BLOOM_M_BITS}k{BLOOM_K}"
    )

    def _build(build_dir: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        is_probe = (F.col("doc_id") % DECON_PROBE_MOD == 0) & (
            F.col("doc_id") < DECON_PROBE_CAP
        )
        probe_grams = (
            dedup.shingle_rows(
                docs.filter(is_probe), "doc_id", "text", DECON_NGRAM
            )
            .select("s")
            .distinct()
        )
        dedup.bloom_build(
            probe_grams, "s", BLOOM_M_BITS, BLOOM_K
        ).write.parquet(os.path.join(build_dir, "filter"))

    return _ensure_index(index_dir, ident, _build)


def q_bloom_decontaminate_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination served from the PERSISTED Bloom filter — the
    deployment shape (r17 VERDICT item 4), `pq_topk_probe`'s pattern
    applied to the eval-set summary: the 4 KB (bloom_words) row is read
    back from `_ensure_bloom_filter`'s cache and broadcast; the probe
    never re-shingles the eval docs, never re-folds the filter (build
    monkeypatched-to-raise pin), and the eval docs' text is not in the
    plan at all — corpus-side membership is PURE MAP WORK (2 md5s +
    BLOOM_K codegen'd bit tests per gram) followed by one
    map-side-combined per-doc rollup. Emits the serving report only —
    (doc_id, n_grams, n_bloom_pos) for bloom-flagged docs; the
    false-positive audit against the exact join stays in
    `bloom_decontaminate`, which is the measurement harness, not the
    serving path."""
    import os

    filter_dir = _ensure_bloom_filter(spark, sf_dir)
    bloom = spark.read.parquet(os.path.join(filter_dir, "filter"))
    docs = load_table(spark, sf_dir, "documents")
    is_probe = (F.col("doc_id") % DECON_PROBE_MOD == 0) & (
        F.col("doc_id") < DECON_PROBE_CAP
    )
    corpus_grams = dedup.shingle_rows(
        docs.filter(~is_probe), "doc_id", "text", DECON_NGRAM
    ).distinct()
    probed = corpus_grams.crossJoin(F.broadcast(bloom)).select(
        "doc_id",
        dedup.bloom_member(
            F.col("s"), F.col("bloom_words"), BLOOM_M_BITS, BLOOM_K
        ).alias("hit"),
    )
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("hit").cast("long")).alias("n_bloom_pos"),
        )
        .filter(F.col("n_bloom_pos") > 0)
    )


SQL_BLOOM_DECONTAMINATE_PROBE = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(toks) - {DECON_NGRAM - 1}),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), probe AS (
  SELECT DISTINCT s FROM g
  WHERE doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP}
), corpus AS (
  SELECT doc_id, s FROM g
  WHERE NOT (doc_id % {DECON_PROBE_MOD} = 0 AND doc_id < {DECON_PROBE_CAP})
), bpos AS (
  SELECT ({_sql_bloom_h('s', 1)} + j * {_sql_bloom_h('s', 2)}) % {BLOOM_M_BITS} AS p
  FROM probe, unnest(generate_series(0, {BLOOM_K - 1})) t(j)
), words AS (
  SELECT p // 32 AS widx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY 1
), hits AS (
  SELECT doc_id,
         bool_and((coalesce(w.word, 0)
                   & (CAST(1 AS BIGINT) << CAST(c.p % 32 AS INTEGER))) <> 0) AS hit
  FROM (
    SELECT doc_id, s,
           ({_sql_bloom_h('s', 1)} + j * {_sql_bloom_h('s', 2)}) % {BLOOM_M_BITS} AS p
    FROM corpus, unnest(generate_series(0, {BLOOM_K - 1})) t(j)
  ) c LEFT JOIN words w ON w.widx = c.p // 32
  GROUP BY doc_id, s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_bloom_pos
FROM hits GROUP BY doc_id
HAVING count(*) FILTER (WHERE hit) > 0
"""


# --- snapshot delta: incremental-ingest corpus diff ---------------------------

#: deterministic two-snapshot derivation from the one documents table: the
#: md5-prefix doc hash (the same `hash_uniform` idiom every sampler uses)
#: drops ~9% from the OLD snapshot (docs "added later"), ~8% from the NEW
#: one ("removed"), and rewrites ~14% of NEW texts ("changed"). Pure row
#: functions of doc_id — snapshot membership never depends on partitioning
#: or engine.
SNAP_OLD_MOD, SNAP_OLD_DROP = 11, 3
SNAP_NEW_MOD, SNAP_NEW_DROP = 13, 5
SNAP_EDIT_MOD, SNAP_EDIT_SEL = 7, 2


def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest snapshot diff rolled up per (source, status):
    added/removed/changed/unchanged doc counts plus an order-independent
    ``bit_xor`` membership fingerprint of each group's doc hashes (the
    shard_manifest idiom — a loader can verify WHICH docs moved, not just
    how many, against constant per-group state).

    Scale shape: `validation.snapshot_diff` shuffles only (key, md5 digest)
    — never document payloads — through one full-outer hash join; the
    rollup joins status back to the (doc_id, source) projection and
    reduces to |sources| x 4 rows. This is the primitive that turns a
    100 TB reprocess into an added+changed-only delta run."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    base = docs.select("doc_id", "source", "text", h.alias("__h"))
    old = base.filter(F.col("__h") % SNAP_OLD_MOD != SNAP_OLD_DROP).select(
        "doc_id", F.md5("text").alias("fp")
    )
    new_text = F.when(
        F.col("__h") % SNAP_EDIT_MOD == SNAP_EDIT_SEL,
        F.concat(F.col("text"), F.lit(" __rev2")),
    ).otherwise(F.col("text"))
    new = base.filter(F.col("__h") % SNAP_NEW_MOD != SNAP_NEW_DROP).select(
        "doc_id", F.md5(new_text).alias("fp")
    )
    st = validation.snapshot_diff(old, new, ["doc_id"], "fp")
    return (
        st.join(base.select("doc_id", "source", "__h"), "doc_id")
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("bit_xor(__h)").alias("xor_h"),
        )
    )


SQL_SNAPSHOT_DELTA = f"""
WITH base AS (
  SELECT doc_id, source, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), old AS (
  SELECT doc_id, md5(text) AS fp_old FROM base
  WHERE h % {SNAP_OLD_MOD} <> {SNAP_OLD_DROP}
), new_ AS (
  SELECT doc_id,
         md5(CASE WHEN h % {SNAP_EDIT_MOD} = {SNAP_EDIT_SEL}
                  THEN text || ' __rev2' ELSE text END) AS fp_new
  FROM base WHERE h % {SNAP_NEW_MOD} <> {SNAP_NEW_DROP}
), st AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp_old = n.fp_new THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new_ n ON o.doc_id = n.doc_id
)
SELECT b.source, s.status, CAST(count(*) AS BIGINT) AS n_docs,
       bit_xor(b.h) AS xor_h
FROM st s JOIN base b ON b.doc_id = s.doc_id
GROUP BY 1, 2
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta-run composition snapshot_delta exists FOR: exact-dedup
    only the docs the diff marked added/changed, against the fingerprint
    index the carried-over (unchanged) corpus already has. Each delta doc
    classifies as dup_of_existing (fp already in the index — skip),
    dup_within_delta (fp new to the index but a lower-id delta doc owns
    it — keep that one), or new_unique (extend the index); rolled up per
    (source, class).

    Scale shape: the existing-index probe is one fp equi join (delta side
    is the small side by construction — a day's ingest vs the corpus —
    and carries no broadcast hint for the same AQE reason as
    probe_overlap); the within-delta canonical is a mergeable min(doc_id)
    hash agg joined back, never a window. Only digests and ids shuffle.
    At 100 TB this replaces re-deduping the corpus with work proportional
    to the DELTA — the measured point of the whole snapshot family."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    base = docs.select("doc_id", "source", "text", h.alias("__h"))
    new_text = F.when(
        F.col("__h") % SNAP_EDIT_MOD == SNAP_EDIT_SEL,
        F.concat(F.col("text"), F.lit(" __rev2")),
    ).otherwise(F.col("text"))
    old = base.filter(F.col("__h") % SNAP_OLD_MOD != SNAP_OLD_DROP).select(
        "doc_id", F.md5("text").alias("fp")
    )
    new = base.filter(F.col("__h") % SNAP_NEW_MOD != SNAP_NEW_DROP).select(
        "doc_id", "source", F.md5(new_text).alias("fp")
    )
    st = validation.snapshot_diff(
        old, new.select("doc_id", "fp"), ["doc_id"], "fp"
    )
    tagged = new.join(st, "doc_id")
    delta = tagged.filter(F.col("status").isin("added", "changed"))
    existing = (
        tagged.filter(F.col("status") == "unchanged")
        .select("fp")
        .distinct()
    )
    canon = delta.groupBy("fp").agg(F.min("doc_id").alias("__min_id"))
    hit = delta.join(
        existing.withColumn("__in_index", F.lit(True)), "fp", "left"
    ).join(canon, "fp")
    cls = (
        F.when(F.col("__in_index"), F.lit("dup_of_existing"))
        .when(F.col("doc_id") > F.col("__min_id"), F.lit("dup_within_delta"))
        .otherwise(F.lit("new_unique"))
    )
    return (
        hit.select("source", cls.alias("dedup_class"))
        .groupBy("source", "dedup_class")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_INCREMENTAL_DEDUP = f"""
WITH base AS (
  SELECT doc_id, source, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), old AS (
  SELECT doc_id, md5(text) AS fp FROM base
  WHERE h % {SNAP_OLD_MOD} <> {SNAP_OLD_DROP}
), new_ AS (
  SELECT doc_id, source,
         md5(CASE WHEN h % {SNAP_EDIT_MOD} = {SNAP_EDIT_SEL}
                  THEN text || ' __rev2' ELSE text END) AS fp
  FROM base WHERE h % {SNAP_NEW_MOD} <> {SNAP_NEW_DROP}
), tagged AS (
  SELECT n.doc_id, n.source, n.fp,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN o.fp = n.fp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM new_ n LEFT JOIN old o ON o.doc_id = n.doc_id
), delta AS (
  SELECT * FROM tagged WHERE status IN ('added', 'changed')
), existing AS (
  SELECT DISTINCT fp FROM tagged WHERE status = 'unchanged'
), canon AS (
  SELECT fp, min(doc_id) AS min_id FROM delta GROUP BY fp
)
SELECT d.source,
       CASE WHEN e.fp IS NOT NULL THEN 'dup_of_existing'
            WHEN d.doc_id > c.min_id THEN 'dup_within_delta'
            ELSE 'new_unique' END AS dedup_class,
       CAST(count(*) AS BIGINT) AS n_docs
FROM delta d
LEFT JOIN existing e ON e.fp = d.fp
JOIN canon c ON c.fp = d.fp
GROUP BY 1, 2
"""


def q_dedup_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-aware incremental dedup (r17 VERDICT item 6) — the case
    `incremental_dedup`'s three-way classifier does not cover: when docs
    are REMOVED (takedowns, licence expiry, retention), the carried
    near-dup state is wrong wherever a deleted doc was a component's
    CANONICAL — or, worse, a BRIDGE: deleting the middle of a verified
    A–B–C chain splits one component into two. Recomputing the corpus
    would defeat the delta discipline, so the repair is scoped to the
    TOUCHED components only (those containing a deleted doc): their
    SURVIVORS are re-clustered with the exact full chain
    (`_neardup_canon` — MinHash → LSH → Jaccard verify → min-label
    components, one shared definition) and each resulting sub-component
    is re-canonicalized. This component-local recompute provably equals
    the global recompute restricted to those docs: verified-duplicate
    edges never cross old component boundaries (components are the
    transitive closure), so deletion only ever REFINES components — the
    theorem that makes work-∝-delta CORRECT rather than approximate,
    and the oracle checks it (full from-scratch recompute on the
    post-delete corpus).

    Emits one row per outcome: ``retired`` (every member deleted — the
    old component leaves the index; new_canonical NULL, n_members 0),
    else one row per post-delete sub-component — ``canon_kept`` if its
    new canonical IS the old one, ``reelected`` otherwise (covers both
    a deleted canonical and a split's minted sub-labels).

    Scale shape: deletions are the snapshot diff's 'removed' class; the
    member fetch is one LEFT-SEMI join of the carried (doc_id, label)
    state — persisted at deployment, like the incremental family's fp
    index — against the ≤|deleted| touched-label set; the recluster runs
    over |touched members| docs only (bounded by |delta| × max component
    size, never the corpus), and its pair work is LSH-banded within
    that slice."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE MinHash→LSH→verify pass (r18 VERDICT item 3; was two): the
    # verified edge list is computed once, lineage-cut (both component
    # passes and the endpoint restriction reference it), and the
    # post-delete edge set is derived by RESTRICTION — shingles,
    # signatures and band keys are per-doc functions, so candidates and
    # Jaccard over the survivor subset equal the full-corpus values
    # filtered to surviving endpoints (see `_neardup_edges`); exactness
    # is pinned by test_dedup_after_delete_equals_global_recompute.
    # The cut itself: when the edge list fits the session broadcast
    # budget (the min_label_components rule — broadcast-size ⇒
    # driver-collectable), materialize it as a local relation via ONE
    # limit-probed collect; above the budget, localCheckpoint (r19 —
    # checkpoint CREATION alone measured ~0.9 s of driver-side planning,
    # so the small-edge case skips it entirely).
    v = _neardup_edges(docs)
    _max_local = similarity._broadcast_bytes_threshold(spark) // 16
    _head = v.limit(_max_local + 1).collect() if _max_local > 0 else None
    if _head is not None and len(_head) <= _max_local:
        v = spark.createDataFrame(_head, schema=v.schema)
    else:
        v = v.localCheckpoint(eager=False)
    state = _canon_from_edges(docs, v).select(
        "doc_id", F.col("canonical_id").alias("old_canonical")
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    flagged = state.withColumn(
        "__removed", h % SNAP_NEW_MOD == SNAP_NEW_DROP
    )
    touched = (
        flagged.filter(F.col("__removed"))
        .select("old_canonical")
        .distinct()
    )
    members = flagged.join(touched, "old_canonical", "left_semi")
    survivors = members.filter(~F.col("__removed")).select(
        "doc_id", "old_canonical"
    )
    # component-local recompute scoped to touched survivors, over the
    # REUSED edges: both endpoints must survive (deleting docs only ever
    # removes edges, never adds them)
    surv_ids = survivors.select("doc_id")
    v_surv = v.join(
        surv_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
    ).join(
        surv_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
    )
    relabeled = _canon_from_edges(surv_ids, v_surv).select(
        "doc_id", F.col("canonical_id").alias("new_canonical")
    )
    subs = (
        survivors.join(relabeled, "doc_id")
        .groupBy("old_canonical", "new_canonical")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    live = subs.select(
        "old_canonical",
        "new_canonical",
        "n_members",
        F.when(
            F.col("new_canonical") == F.col("old_canonical"),
            F.lit("canon_kept"),
        )
        .otherwise(F.lit("reelected"))
        .alias("action"),
    )
    retired = (
        members.groupBy("old_canonical")
        .agg(F.count(F.when(~F.col("__removed"), 1)).alias("__n_live"))
        .filter(F.col("__n_live") == 0)
        .select(
            "old_canonical",
            F.lit(None).cast("long").alias("new_canonical"),
            F.lit(0).cast("long").alias("n_members"),
            F.lit("retired").alias("action"),
        )
    )
    return live.unionByName(retired)


def _sql_neardup_chain(sfx: str, doc_where: str = "") -> str:
    """CTE block (no WITH keyword) ending in ``comp{sfx}(id, lbl)`` — the
    verified near-dup components over ``documents`` optionally filtered
    by ``doc_where``. All CTE names are suffixed so two chains (old
    corpus / post-delete corpus) can coexist in one query; the chain body
    mirrors SQL_NEARDUP_VERIFIED exactly."""
    where = f" WHERE {doc_where}" if doc_where else ""
    mh = ", ".join(f"{_sql_minhash(j)} AS mh{j}" for j in range(NUM_HASHES))
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', mh{2 * b}, mh{2 * b + 1}) AS bk"
        f" FROM sig{sfx} WHERE concat_ws('|', mh{2 * b}, mh{2 * b + 1}) != ''"
        for b in range(NUM_HASHES // BAND_SIZE)
    )
    return f"""d{sfx} AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents{where}),
sh{sfx} AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d{sfx}),
sig{sfx} AS (SELECT doc_id, {mh} FROM sh{sfx}),
bands{sfx} AS (
{bands}
),
cand{sfx} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands{sfx} a JOIN bands{sfx} b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
),
v{sfx} AS (
  SELECT c.id_a, c.id_b
  FROM cand{sfx} c
  JOIN sh{sfx} a ON a.doc_id = c.id_a
  JOIN sh{sfx} b ON b.doc_id = c.id_b
  WHERE len(list_intersect(a.s, b.s))
        / nullif(len(list_distinct(a.s || b.s)), 0) >= {JACCARD_THRESHOLD}
),
e{sfx} AS (
  SELECT id_a AS id, id_b AS nb FROM v{sfx}
  UNION ALL
  SELECT id_b, id_a FROM v{sfx}
),
nodes{sfx} AS (SELECT DISTINCT id FROM e{sfx}),
reach{sfx}(id, r) AS (
  SELECT id, id FROM nodes{sfx}
  UNION
  SELECT reach{sfx}.id, e{sfx}.nb FROM reach{sfx} JOIN e{sfx} ON e{sfx}.id = reach{sfx}.r
),
comp{sfx} AS (SELECT id, min(r) AS lbl FROM reach{sfx} GROUP BY id)"""


_SQL_REMOVED = (
    f"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {SNAP_NEW_MOD} = {SNAP_NEW_DROP}"
)

SQL_DEDUP_AFTER_DELETE = f"""
WITH RECURSIVE
{_sql_neardup_chain("_o")},
state AS (
  SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS old_canonical,
         {_SQL_REMOVED.replace("doc_id", "d.doc_id")} AS removed
  FROM documents d LEFT JOIN comp_o c ON c.id = d.doc_id
),
touched AS (SELECT DISTINCT old_canonical FROM state WHERE removed),
members AS (
  SELECT s.* FROM state s JOIN touched t USING (old_canonical)
),
{_sql_neardup_chain("_n", f"NOT ({_SQL_REMOVED})")},
new_lbl AS (
  SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS new_canonical
  FROM (SELECT doc_id FROM documents WHERE NOT ({_SQL_REMOVED})) d
  LEFT JOIN comp_n c ON c.id = d.doc_id
),
subs AS (
  SELECT m.old_canonical, n.new_canonical,
         CAST(count(*) AS BIGINT) AS n_members
  FROM members m JOIN new_lbl n USING (doc_id)
  WHERE NOT m.removed
  GROUP BY 1, 2
),
retired AS (
  SELECT old_canonical FROM members GROUP BY old_canonical
  HAVING count(*) FILTER (WHERE NOT removed) = 0
)
SELECT old_canonical, new_canonical, n_members,
       CASE WHEN new_canonical = old_canonical THEN 'canon_kept'
            ELSE 'reelected' END AS action
FROM subs
UNION ALL
SELECT old_canonical, NULL, CAST(0 AS BIGINT), 'retired' FROM retired
"""


# --- manifest-level snapshot diff: the two-level scale path -------------------

#: churn locality for the manifest diff: only shards ≡ MAN_DIRTY_SEL
#: (mod MAN_DIRTY_MOD) carry the snapshot churn — the realistic ingest
#: geometry (a day's crawl touches recent shards, not a uniform smear),
#: and the property that makes manifest-level pruning WORTH anything.
MAN_DIRTY_MOD, MAN_DIRTY_SEL = 4, 1

#: deterministic hash-shard count shared by the export manifest and the
#: manifest-level diff (defined here, above both f-string oracles)
N_SHARDS = 16

_SQL_H64 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


def _snap_base(docs: DataFrame) -> DataFrame:
    """Shared synthetic-snapshot derivation for the manifest family: per
    doc, its shard, the old/new membership flags and both content
    fingerprints — the frame both `q_manifest_delta` legs and the
    persisted-index build/probe read (identical expressions, so the
    materialized old side and the recompute path certify the same
    multisets)."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    shard = (h % N_SHARDS).alias("shard")
    churn = (h % N_SHARDS) % MAN_DIRTY_MOD == MAN_DIRTY_SEL
    new_text = F.when(
        churn & (F.col("__h") % SNAP_EDIT_MOD == SNAP_EDIT_SEL),
        F.concat(F.col("text"), F.lit(" __rev2")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id", "text", h.alias("__h"), shard,
        (churn & (h % SNAP_OLD_MOD == SNAP_OLD_DROP)).alias("__skip_old"),
        (churn & (h % SNAP_NEW_MOD == SNAP_NEW_DROP)).alias("__skip_new"),
    ).select(
        "doc_id", "shard", "__skip_old", "__skip_new",
        F.md5("text").alias("fp_old"),
        F.md5(new_text).alias("fp_new"),
    )


def _man_fold(rows: DataFrame, fp_col: str = "fp") -> DataFrame:
    """The level-1 multiset fingerprint over (shard, doc_id, fp) rows:
    h2 = hash(doc_id | content-fp) folded per shard as (sum, xor, count)
    — any add/remove/CHANGE perturbs the state (see `q_manifest_delta`'s
    false-clean disclosure for the collision budget). Emits (shard,
    n_docs, members_fp)."""
    h2 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col(fp_col))), 1, 8
        ),
        16, 10,
    ).cast("bigint")
    agg = rows.select("shard", h2.alias("h2")).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("h2").cast("decimal(38,0)")).alias("__sum"),
        F.expr("bit_xor(h2)").alias("__xor"),
    )
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("__sum").cast("string"),
            F.col("__xor").cast("string"),
            F.col("n_docs").cast("string"),
        )
    )
    return agg.select("shard", "n_docs", fp.alias("members_fp"))


def q_manifest_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level snapshot diff PERF.md's sixth-family analysis names
    as `snapshot_delta`'s scale path: LEVEL 1 compares per-shard MANIFEST
    fingerprints (the `shard_manifest` multiset idiom over (doc_id,
    content-fp) pairs — constant per-shard state, N_SHARDS output rows),
    and only shards whose fingerprints DISAGREE pay LEVEL 2, the
    row-level digest diff (`validation.snapshot_diff`) — clean shards are
    certified unchanged by their fingerprint and never enter the
    full-outer join. Per shard: status ('clean'/'dirty'), new-snapshot
    doc count, and added/removed/changed counts (zeros for clean shards,
    BY fingerprint, not by checking).

    Scale shape: level 1 is two map-side-combined hash aggregates to
    N_SHARDS rows (digests only, same as shard_manifest); the dirty-shard
    set (≤ N_SHARDS rows) is collected at plan-build time and inlined as
    a LITERAL membership filter on the level-2 scans (see the comment at
    the collect), so the expensive two-sided full-outer join — the
    1.79×-growth shape the row-level `snapshot_delta` measured — runs
    over the DIRTY FRACTION of the corpus only. At 100 TB with day-local churn this is
    the difference between diffing ~1% of shards and re-diffing the
    corpus. Churn here is shard-localized (MAN_DIRTY_MOD) for exactly
    that reason; a uniform smear would dirty every shard and level 1
    would prune nothing — the documented worst case, where cost degrades
    to `snapshot_delta` plus one manifest pass.

    Measured honesty (r17, PERF.md crossover legs at 30×/90×): because
    this registered query RECOMPUTES both manifests from the snapshots
    every run, and `snapshot_delta` already shuffles digests only, the
    recompute-both-sides shape never crosses the row-level diff at this
    geometry (1.3–1.6× at every measured volume; the r16 extrapolated
    crossover is withdrawn) — what level 2 confines is a digest shuffle
    ~10× lighter than the payload scans both plans pay. The asymptotic
    win belongs to the PERSISTED-manifest deployment (level 1 = an
    N_SHARDS-row comparison, zero corpus scans, total = dirty_fraction ×
    snapshot_delta), or to diffs whose row-level state is genuinely
    heavy (payload-carrying deltas).

    False-clean trade (r15 ADVICE — the same class of disclosure as
    `bloom_decontaminate`'s FP rate, in the opposite direction): the
    per-shard fingerprint folds 32-bit per-row hashes h2 with
    (sum, xor, count), so two DIFFERENT member multisets that collide on
    all three would certify a changed shard 'clean' and level 2 would
    silently skip its rows. An adversarial construction exists (swap two
    rows whose h2 values sum and xor identically); for non-adversarial
    churn the collision needs a same-size edit set preserving both a
    38-digit decimal sum and a 32-bit xor simultaneously — well under
    2⁻³² per dirty shard. Level 1 errs ONLY this way (a clean verdict can
    be wrong, a dirty verdict never is: identical multisets always
    fingerprint equal, so level 2 never diffs a truly-clean shard and
    FALSE-DIRTY is impossible). Deployments diffing adversarial input
    should widen h2 to the full 128-bit md5 folded as two 64-bit halves;
    the registered query keeps 32-bit h2 because the oracle replays the
    identical arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    base = _snap_base(docs)

    def manifest(skip_col: str, fp_col: str) -> DataFrame:
        # ONE fold definition for both the recompute path here and the
        # persisted-index build (`_ensure_manifest_index`): delegating to
        # `_man_fold` keeps the probe-vs-recompute equality contract from
        # drifting (r17 ADVICE — this local fold used to duplicate the
        # helper line-for-line).
        return _man_fold(
            base.filter(~F.col(skip_col)).select(
                "shard", "doc_id", F.col(fp_col).alias("fp")
            )
        )

    man_old = manifest("__skip_old", "fp_old")
    man_new = manifest("__skip_new", "fp_new")
    shards = (
        man_old.select(
            "shard",
            F.col("n_docs").alias("__n_old"),
            F.col("members_fp").alias("__fp_o"),
        )
        .join(
            man_new.select(
                "shard",
                F.col("n_docs").alias("n_docs_new"),
                F.col("members_fp").alias("__fp_n"),
            ),
            "shard",
            "full_outer",
        )
        .select(
            "shard",
            F.coalesce("n_docs_new", F.lit(0)).alias("n_docs_new"),
            F.when(
                F.col("__fp_o").isNotNull()
                & (F.col("__fp_o") == F.col("__fp_n")),
                F.lit("clean"),
            )
            .otherwise(F.lit("dirty"))
            .alias("status"),
        )
    )
    # the manifest verdict is driver-visible reprocessing METADATA,
    # bounded by N_SHARDS (a constant of the export layout, like the PQ
    # index metadata collect) — collecting it once turns the dirty-shard
    # membership into a LITERAL filter pushed into the level-2 scans (no
    # semi-join subtrees, which would otherwise recompute the manifest
    # aggregate once per consumer: measured 8 corpus scans as lazy
    # semi joins vs 4 this way) and pins the emitted statuses to the
    # exact decision the row-level diff acted on.
    shard_rows = shards.collect()
    dirty_list = [
        int(r["shard"]) for r in shard_rows if r["status"] == "dirty"
    ]
    in_dirty = (
        F.col("shard").isin(dirty_list) if dirty_list else F.lit(False)
    )
    old_rows = (
        base.filter(~F.col("__skip_old"))
        .filter(in_dirty)
        .select("doc_id", F.col("fp_old").alias("fp"))
    )
    new_rows = (
        base.filter(~F.col("__skip_new"))
        .filter(in_dirty)
        .select("doc_id", F.col("fp_new").alias("fp"))
    )
    st = validation.snapshot_diff(old_rows, new_rows, ["doc_id"], "fp")
    # shard is a pure row function of doc_id — re-derive, no extra join
    st_shard = st.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10,
            ).cast("bigint")
            % N_SHARDS
        ).alias("shard"),
        "status",
    )
    counts = (
        st_shard.groupBy("shard")
        .agg(
            F.count(F.when(F.col("status") == "added", 1)).alias("n_added"),
            F.count(F.when(F.col("status") == "removed", 1)).alias("n_removed"),
            F.count(F.when(F.col("status") == "changed", 1)).alias("n_changed"),
        )
    )
    # explicit by-name tuples: createDataFrame maps Row objects to a DDL
    # schema POSITIONALLY, so a reordering of the shards select upstream
    # would silently mis-map columns (r17 ADVICE)
    shards_lit = spark.createDataFrame(
        [(int(r["shard"]), int(r["n_docs_new"]), r["status"]) for r in shard_rows],
        "shard bigint, n_docs_new bigint, status string",
    )
    return (
        shards_lit.join(counts, "shard", "left")
        .select(
            "shard",
            "status",
            "n_docs_new",
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_changed", F.lit(0)).cast("long").alias("n_changed"),
        )
    )


SQL_MANIFEST_DELTA = f"""
WITH base AS (
  SELECT doc_id,
         {_SQL_H64} AS h,
         {_SQL_H64} % {N_SHARDS} AS shard,
         ({_SQL_H64} % {N_SHARDS}) % {MAN_DIRTY_MOD} = {MAN_DIRTY_SEL} AS churn,
         text
  FROM documents
), b2 AS (
  SELECT doc_id, shard,
         churn AND h % {SNAP_OLD_MOD} = {SNAP_OLD_DROP} AS skip_old,
         churn AND h % {SNAP_NEW_MOD} = {SNAP_NEW_DROP} AS skip_new,
         md5(text) AS fp_old,
         md5(CASE WHEN churn AND h % {SNAP_EDIT_MOD} = {SNAP_EDIT_SEL}
                  THEN text || ' __rev2' ELSE text END) AS fp_new
  FROM base
), mo AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         md5(CAST(sum(CAST(h2 AS DECIMAL(38,0))) AS VARCHAR) || '|'
             || CAST(bit_xor(h2) AS VARCHAR) || '|'
             || CAST(count(*) AS VARCHAR)) AS members_fp
  FROM (SELECT shard,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || fp_old), 1, 8))::BIGINT AS h2
        FROM b2 WHERE NOT skip_old)
  GROUP BY shard
), mn AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         md5(CAST(sum(CAST(h2 AS DECIMAL(38,0))) AS VARCHAR) || '|'
             || CAST(bit_xor(h2) AS VARCHAR) || '|'
             || CAST(count(*) AS VARCHAR)) AS members_fp
  FROM (SELECT shard,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || fp_new), 1, 8))::BIGINT AS h2
        FROM b2 WHERE NOT skip_new)
  GROUP BY shard
), shards AS (
  SELECT coalesce(mo.shard, mn.shard) AS shard,
         CAST(coalesce(mn.n_docs, 0) AS BIGINT) AS n_docs_new,
         CASE WHEN mo.members_fp IS NOT NULL
                   AND mo.members_fp = mn.members_fp
              THEN 'clean' ELSE 'dirty' END AS status
  FROM mo FULL OUTER JOIN mn ON mo.shard = mn.shard
), dirty AS (SELECT shard FROM shards WHERE status = 'dirty'),
st AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp_old = n.fp_new THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM (SELECT doc_id, fp_old FROM b2
        WHERE NOT skip_old AND shard IN (SELECT shard FROM dirty)) o
  FULL OUTER JOIN
       (SELECT doc_id, fp_new FROM b2
        WHERE NOT skip_new AND shard IN (SELECT shard FROM dirty)) n
  ON o.doc_id = n.doc_id
), counts AS (
  SELECT {_SQL_H64} % {N_SHARDS} AS shard,
         CAST(count(*) FILTER (WHERE status = 'added') AS BIGINT) AS n_added,
         CAST(count(*) FILTER (WHERE status = 'removed') AS BIGINT) AS n_removed,
         CAST(count(*) FILTER (WHERE status = 'changed') AS BIGINT) AS n_changed
  FROM st GROUP BY 1
)
SELECT s.shard, s.status, s.n_docs_new,
       CAST(coalesce(c.n_added, 0) AS BIGINT) AS n_added,
       CAST(coalesce(c.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(c.n_changed, 0) AS BIGINT) AS n_changed
FROM shards s LEFT JOIN counts c ON c.shard = s.shard
"""


def _ensure_manifest_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the OLD snapshot's CDC state once (the r17 PERF
    finding's prescription: the two-level diff's asymptotic win belongs
    to PERSISTED manifests, not recompute-both-sides): ``manifest/`` is
    the N_SHARDS-row (shard, n_docs, members_fp) level-1 state and
    ``digests/`` the (doc_id, fp) rows partitioned BY SHARD — so a later
    diff reads level 1 without touching the old corpus at all and level
    2's old side with real file-skipping partition pruning. Identity-
    markered like every other index cache; the snapshot-shape constants
    ride in the ident so a geometry change rebuilds."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    ident = {
        "src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
        "kind": "manifest", "n_shards": N_SHARDS,
        "dirty": [MAN_DIRTY_MOD, MAN_DIRTY_SEL],
        "old": [SNAP_OLD_MOD, SNAP_OLD_DROP],
        "edit": [SNAP_EDIT_MOD, SNAP_EDIT_SEL],
    }
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_dir = os.path.join(
        _ivf_cache_root(), f"{tag}_manifest_s{N_SHARDS}"
    )

    def _build(build_dir: str) -> None:
        base = _snap_base(load_table(spark, sf_dir, "documents"))
        old = base.filter(~F.col("__skip_old")).select(
            "shard", "doc_id", F.col("fp_old").alias("fp")
        )
        old.write.partitionBy("shard").mode("overwrite").parquet(
            os.path.join(build_dir, "digests")
        )
        _man_fold(old).write.mode("overwrite").parquet(
            os.path.join(build_dir, "manifest")
        )

    return _ensure_index(index_dir, ident, _build)


def q_manifest_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`manifest_delta` served from PERSISTED old-side CDC state — the
    deployment shape the r17 crossover legs showed is where the
    two-level diff actually wins (PERF.md: the recompute-both-manifests
    form never crosses `snapshot_delta` because the row diff already
    shuffles digests only; this form removes the old corpus from the
    plan entirely). Per diff: the NEW snapshot's (doc_id, shard, fp)
    digests are computed in ONE payload scan and lineage-cut
    (`localCheckpoint` — at cluster scale this frame is what gets
    written as the NEXT diff's persisted index, so the cut is the honest
    in-memory stand-in for that write); level 1 compares the persisted
    N_SHARDS-row manifest against one fold of the cut frame (zero old
    scans); level 2 reads the old side's digests with shard-partition
    FILE PRUNING (the dirty literal lands in PartitionFilters) and the
    new side from the same cut frame. Total: ONE payload scan +
    dirty_fraction reads of ~50-byte digest rows, vs `snapshot_delta`'s
    two payload scans + full digest shuffle — a structural win at any
    volume, not past a crossover. Same verdicts, same report schema,
    same oracle (the SQL replay recomputes both sides; the persisted
    state holds identical multisets by the shared `_snap_base`
    derivation)."""
    import os

    index_dir = _ensure_manifest_index(spark, sf_dir)
    base = _snap_base(load_table(spark, sf_dir, "documents"))
    new_digests = (
        base.filter(~F.col("__skip_new"))
        .select("shard", "doc_id", F.col("fp_new").alias("fp"))
        .localCheckpoint(eager=False)  # one payload scan; 3 consumers
    )
    man_old = spark.read.parquet(os.path.join(index_dir, "manifest"))
    shards = (
        man_old.select(
            "shard",
            F.col("n_docs").alias("__n_old"),
            F.col("members_fp").alias("__fp_o"),
        )
        .join(
            _man_fold(new_digests).select(
                "shard",
                F.col("n_docs").alias("n_docs_new"),
                F.col("members_fp").alias("__fp_n"),
            ),
            "shard",
            "full_outer",
        )
        .select(
            "shard",
            F.coalesce("n_docs_new", F.lit(0)).alias("n_docs_new"),
            F.when(
                F.col("__fp_o").isNotNull()
                & (F.col("__fp_o") == F.col("__fp_n")),
                F.lit("clean"),
            )
            .otherwise(F.lit("dirty"))
            .alias("status"),
        )
    )
    # same bounded-metadata collect as q_manifest_delta: the verdict is
    # ≤ N_SHARDS rows, and the literal membership is what turns the old
    # side's read into partition-pruned file skipping
    shard_rows = shards.collect()
    dirty_list = [
        int(r["shard"]) for r in shard_rows if r["status"] == "dirty"
    ]
    in_dirty = (
        F.col("shard").isin(dirty_list) if dirty_list else F.lit(False)
    )
    old_rows = (
        spark.read.parquet(os.path.join(index_dir, "digests"))
        .filter(in_dirty)
        .select("doc_id", "fp")
    )
    new_rows = new_digests.filter(in_dirty).select("doc_id", "fp")
    st = validation.snapshot_diff(old_rows, new_rows, ["doc_id"], "fp")
    st_shard = st.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10,
            ).cast("bigint")
            % N_SHARDS
        ).alias("shard"),
        "status",
    )
    counts = st_shard.groupBy("shard").agg(
        F.count(F.when(F.col("status") == "added", 1)).alias("n_added"),
        F.count(F.when(F.col("status") == "removed", 1)).alias("n_removed"),
        F.count(F.when(F.col("status") == "changed", 1)).alias("n_changed"),
    )
    # explicit by-name tuples: createDataFrame maps Row objects to a DDL
    # schema POSITIONALLY, so a reordering of the shards select upstream
    # would silently mis-map columns (r17 ADVICE)
    shards_lit = spark.createDataFrame(
        [(int(r["shard"]), int(r["n_docs_new"]), r["status"]) for r in shard_rows],
        "shard bigint, n_docs_new bigint, status string",
    )
    return (
        shards_lit.join(counts, "shard", "left")
        .select(
            "shard",
            "status",
            "n_docs_new",
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_changed", F.lit(0)).cast("long").alias("n_changed"),
        )
    )


# --- BPE merge training --------------------------------------------------------

#: unrolled merge steps for the harness; a deployment trains ~30k with the
#: same per-step plan (see operators/text.bpe_merge_steps docstring)
BPE_N_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training on the corpus's own vocabulary
    (`text.bpe_merge_steps`): the learned merge table for the first
    BPE_N_MERGES merges — per step, one pair hash aggregate over the
    word-frequency vocab, a deterministic 1-row argmax, and an exact
    greedy row-local merge. The corpus is scanned once; every iteration
    is vocab-scale. Oracle: the identical algorithm unrolled as chained
    DuckDB CTEs (generated below), bit-for-bit — integer counts and
    lexicographic tiebreaks, nothing float."""
    return text.bpe_merge_steps(
        load_table(spark, sf_dir, "documents"), BPE_N_MERGES
    )


def _sql_bpe_chain(n_merges: int) -> str:
    """Generate the chained-CTE DuckDB replay of the BPE train loop: v0
    is the char-symbol vocabulary; per step s, p{s} counts adjacent
    pairs, b{s} takes the deterministic argmax, v{s} applies the merge
    with the same gaps-and-islands greedy selection the Spark side uses.
    (Assumes every step finds a pair — true for any corpus with a word
    of ≥2 symbols per remaining step; the Spark loop breaks early on a
    fully-merged vocabulary, which these corpora never reach.)"""
    parts = [
        f"""WITH v0 AS (
  SELECT list_append(regexp_extract_all(w, '.'), '</w>') AS syms,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
  GROUP BY w
)"""
    ]
    for s in range(1, n_merges + 1):
        parts.append(
            f""", p{s} AS (
  SELECT lhs, rhs, CAST(sum(n) AS BIGINT) AS pair_count
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(syms) - 1), i -> syms[i])) AS lhs,
           unnest(list_transform(generate_series(1, len(syms) - 1), i -> syms[i + 1])) AS rhs,
           n
    FROM v{s - 1}
  )
  GROUP BY 1, 2
), b{s} AS (
  SELECT CAST({s} AS INTEGER) AS step, lhs, rhs, pair_count
  FROM p{s} ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
), v{s} AS (
  SELECT list_filter(
           list_transform(generate_series(1, len(syms)), i ->
             CASE WHEN list_contains(sel, i) THEN syms[i] || syms[i + 1]
                  WHEN list_contains(sel, i - 1) THEN NULL
                  ELSE syms[i] END),
           x -> x IS NOT NULL) AS syms, n
  FROM (
    SELECT syms, n,
           [cands[j] FOR j IN generate_series(1, len(cands))
            IF (j - list_position(ckey, cands[j] - j)) % 2 = 0] AS sel
    FROM (
      SELECT syms, n, cands,
             [cands[q] - q FOR q IN generate_series(1, len(cands))] AS ckey
      FROM (
        SELECT syms, n,
               [i FOR i IN generate_series(1, len(syms) - 1)
                IF syms[i] = b.lhs AND syms[i + 1] = b.rhs] AS cands
        FROM v{s - 1}, b{s} b
      )
    )
  )
)"""
        )
    return "".join(parts)


def _sql_bpe_merges(n_merges: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT step, lhs, rhs, lhs || rhs AS merged, pair_count FROM b{s}"
        for s in range(1, n_merges + 1)
    )
    return _sql_bpe_chain(n_merges) + "\n" + union


SQL_BPE_MERGES = _sql_bpe_merges(BPE_N_MERGES)


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer applied (`text.bpe_encode_stats`): corpus
    fertility and effective vocabulary after BPE_N_MERGES merges — the
    measurement that says what the merge table BOUGHT (subwords/word
    falls from the raw character count toward 1.0 as merges accumulate;
    `subword_stats` reports the same fertility notion for the regex
    pretokenizer this trainer replaces)."""
    return text.bpe_encode_stats(
        load_table(spark, sf_dir, "documents"), BPE_N_MERGES
    )


SQL_BPE_ENCODE_STATS = (
    _sql_bpe_chain(BPE_N_MERGES)
    + f"""
SELECT CAST(sum(n) AS BIGINT) AS total_words,
       CAST(sum(n * len(syms)) AS BIGINT) AS total_subwords,
       CAST(count(DISTINCT syms) AS BIGINT) AS vocab_size,
       (SELECT CAST(count(DISTINCT s) AS BIGINT)
        FROM (SELECT unnest(syms) AS s FROM v{BPE_N_MERGES})) AS subword_types,
       CAST(sum(n * len(syms)) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS fertility
FROM v{BPE_N_MERGES}
"""
)


# --- sequence packing: per-shard concat-and-chunk ----------------------------

SEQ_LEN = 512
#: sub-shards per source — the scale knob: window partition size is
#: corpus/(|sources|·N_PACK_SHARDS); grow with the corpus (pure function of
#: doc_id, so regrowing N re-derives a fully deterministic packing)
N_PACK_SHARDS = 8


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing: documents concatenated per
    (source, shard) in doc_id order, token stream chunked into SEQ_LEN
    sequences; each doc gets its absolute offset + first/last sequence
    index. One window cumsum per shard (see operators/packing.py) — the
    only distributed-safe packing formulation, since placement depends only
    on the prefix sum.

    Scale shape (r08): shard = md5(doc_id) % N_PACK_SHARDS sub-divides each
    source, so no window partition holds more than ~1/N of a source's rows
    — the previous source-only sharding funneled every row of a source
    through one task's sort (the same concentration class as the r07
    equi_depth_bins finding). md5-prefix hashing is the cross-engine idiom
    `operators/sampling.hash_uniform` already uses."""
    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    docs = docs.withColumn("shard", (h32 % N_PACK_SHARDS).cast("int"))
    return packing.concat_chunk_packing(
        docs,
        seq_len=SEQ_LEN,
        tokens=F.size(text.tokens(F.col("text"))),
        shard_col=["source", "shard"],
        order_col="doc_id",
    )


SQL_SEQUENCE_PACKING = f"""
WITH n AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {N_PACK_SHARDS} AS shard,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(shard AS INTEGER) AS shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_offset
  FROM n
)
SELECT doc_id, source, shard, n_tokens,
       end_offset - n_tokens AS start_offset,
       (end_offset - n_tokens) // {SEQ_LEN} AS first_seq,
       (end_offset - 1) // {SEQ_LEN} AS last_seq,
       (end_offset - 1) // {SEQ_LEN} - (end_offset - n_tokens) // {SEQ_LEN} + 1 AS n_seqs_spanned
FROM c
"""


# --- iterative Lloyd refinement over the IVF seed quantizer -----------------

KM_K = 16
KM_ITERS = 2


def _sql_sqd(a: str, b: str, width: int | None = None) -> str:
    terms = " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, (width or EMB_DIM) + 1)
    )
    return f"(0.0 + {terms})"


def _sql_km_assign(name: str, cents: str) -> str:
    return f"""{name} AS (
  SELECT vec_id, v, cell, d FROM (
    SELECT vec_id, v, cell, d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cell ASC) AS rn
    FROM (SELECT e.vec_id, e.v, c.cell, round({_sql_sqd('e.v', 'c.cv')}, 6) AS d
          FROM e CROSS JOIN {cents} c)
  ) WHERE rn = 1
)"""


def _sql_km_update(name: str, assigned: str) -> str:
    return f"""{name}_u AS (
  SELECT cell, pos,
         CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sq,
         count(*) AS n
  FROM (SELECT cell, pos, v[pos] AS x
        FROM (SELECT cell, v, unnest(generate_series(1, {EMB_DIM})) AS pos
              FROM {assigned}))
  GROUP BY cell, pos
), {name} AS (
  SELECT cell, list(CAST(sq AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
  FROM {name}_u GROUP BY cell
)"""


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations from the IVF seed quantizer (first
    KM_K vectors), then an evaluation assignment: per surviving cell the
    member count, decimal-exact inertia, refined-centroid norm — the
    clustering loop a semantic-dedup / topic-mixture pipeline runs before
    cell-local screening. Cross-engine determinism comes from quantized
    BIGINT centroid sums (order-proof means: operators/similarity.py
    KMEANS_Q), so the classic float-sum divergence of distributed k-means
    cannot occur; see kmeans_refine for the per-iteration scale shape."""
    return similarity.kmeans_refine(
        load_table(spark, sf_dir, "embeddings"), k=KM_K, iters=KM_ITERS
    )


SQL_KMEANS_REFINE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e
       WHERE vec_id < {KM_K}),
{_sql_km_assign('a1', 'c0')},
{_sql_km_update('c1', 'a1')},
{_sql_km_assign('a2', 'c1')},
{_sql_km_update('c2', 'a2')},
{_sql_km_assign('a3', 'c2')},
o AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(CAST(d AS DECIMAL(20,6))) AS DOUBLE) AS inertia
  FROM a3 GROUP BY cell
)
SELECT o.cell, o.n_members, o.inertia,
       round(sqrt({_sql_dot('c2.cv', 'c2.cv')}), 6) AS centroid_norm
FROM o JOIN c2 ON o.cell = c2.cell
"""


# --- chunk-level boilerplate removal (CCNet paragraph dedup, layout-free) ---

CHUNK_W = 10
BOIL_K = 2


def q_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal at fixed 10-token-chunk granularity
    (the corpus has no layout, so chunks stand in for paragraphs): a chunk
    whose fingerprint appears in ≥2 DISTINCT docs is boilerplate; each doc
    is re-assembled from its surviving chunks in order. Plan: one scan →
    chunk explode (linear, ~n_tokens/10 rows) → per-fp min/max(doc_id)
    hash aggregate (appears-in-≥2-docs ⟺ min ≠ max at BOIL_K = 2 —
    CONSTANT agg state per fp, map-side combine; a ≥K>2 threshold would
    swap in the equally-mergeable two-stage distinct count) → fp equi-join
    back → doc-hash groupBy re-assembly (ordered fold via array_sort on
    (idx, text) structs). The r08 rewrite: the previous per-fp lag/sum
    WINDOW pulled every occurrence of a fingerprint into one task — and a
    mega-frequent chunk (exactly the boilerplate this query targets) is
    the expected skew case; the join formulation streams, and AQE
    skew-splits, what the window had to buffer, at the documented price of
    a second row-local tokenize pass for the spread branch. Never
    materializes a pair space; all shuffles are linear."""
    docs = load_table(spark, sf_dir, "documents")
    toks, seq, chunk, chunk_toks = text.token_chunks("text", width=CHUNK_W)
    # tokenize ONCE per doc; the exploded chunk rows slice the materialized
    # __toks attribute (O(width) each) instead of re-splitting the document
    # per chunk — __toks stays inside the pre-exchange codegen stage and is
    # projected away with the third select
    chunks = docs.select(
        "doc_id", toks.alias("__toks")
    ).select(
        "doc_id", "__toks", F.explode(seq).alias("__ci")
    ).select(
        "doc_id",
        F.col("__ci").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        chunk_toks.alias("chunk_toks"),
    ).withColumn("fp", F.md5("chunk_text"))
    # the spread branch re-derives the chunk stream (column pruning gives
    # it a narrower payload than the join side, so exchange reuse cannot
    # collapse them): TWO linear row-local tokenize passes in exchange for
    # removing an unbounded per-fp window buffer — the right trade at
    # scale, where map passes parallelize perfectly and hot fingerprints
    # do not
    spread = chunks.groupBy("fp").agg(
        F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx")
    )
    flagged = chunks.join(spread, "fp").select(
        "doc_id", "chunk_idx", "chunk_text", "chunk_toks",
        (F.col("__mn") != F.col("__mx")).alias("is_boiler"),
    )
    keep = F.when(~F.col("is_boiler"), F.struct("chunk_idx", "chunk_text"))
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(keep)), lambda s: s.chunk_text
        ),
        " ",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_boiler_chunks"),
        F.coalesce(
            F.sum(F.when(~F.col("is_boiler"), F.col("chunk_toks")).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_kept_tokens"),
        F.md5(kept_text).alias("kept_fp"),
    )


SQL_CHUNK_BOILERPLATE = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), ix AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, (len(toks) + {CHUNK_W - 1}) // {CHUNK_W} - 1))
           AS ci
  FROM d
), ch AS (
  SELECT doc_id, ci AS chunk_idx,
         array_to_string(list_slice(toks, ci*{CHUNK_W}+1, ci*{CHUNK_W}+{CHUNK_W}), ' ')
           AS chunk_text,
         len(list_slice(toks, ci*{CHUNK_W}+1, ci*{CHUNK_W}+{CHUNK_W})) AS chunk_toks
  FROM ix
), f AS (
  SELECT *, md5(chunk_text) AS fp FROM ch
), spread AS (
  SELECT fp, min(doc_id) AS mn, max(doc_id) AS mx FROM f GROUP BY fp
), flagged AS (
  SELECT doc_id, chunk_idx, chunk_text, chunk_toks,
         mn != mx AS is_boiler
  FROM f JOIN spread USING (fp)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_chunks,
       CAST(coalesce(sum(CASE WHEN NOT is_boiler THEN chunk_toks END), 0)
            AS BIGINT) AS n_kept_tokens,
       md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk_text END,
                               ' ' ORDER BY chunk_idx ASC), '')) AS kept_fp
FROM flagged GROUP BY doc_id
"""


# --- CCNet-style perplexity tiers over the in-plan unigram LM ---------------

#: bucket = floor(mean_log_prob · PPLX_LOG_SCALE): four decimal digits of
#: log-prob resolution. The grid is bounded by scale·|ln p_min| =
#: scale·ln(corpus tokens) — LOGARITHMIC in corpus size (~280k buckets at
#: 10¹² tokens), so the histogram the cutoffs run over never grows
#: meaningfully.
PPLX_LOG_SCALE = 10000


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers by LM score: every doc's MEAN LOG token
    probability under the corpus unigram LM — (1/n_d)·Σ_t c_dt·ln(c_t/N),
    i.e. −log-perplexity, the quantity CCNet actually tiers on (Wenzek et
    al. 2020 §4.3; an arithmetic mean of raw probabilities would be
    dominated by the few highest-frequency tokens — the r07 ADVICE item) —
    bucketed on the fixed log grid above; tier cutoffs are thirds of the
    bucket histogram's cumulative counts. The quantile machinery therefore
    runs over the bounded histogram (the doc_length_quantiles pattern),
    never over doc rows — cutoffs come back as a broadcast 1-row cross
    join.

    Cross-engine exactness: ln(c_t/N) is the identical IEEE expression in
    both engines, rounded to 9 decimals and summed c_dt-weighted as DECIMAL
    (order-independent); per the registry contract the true values sit far
    from the 1e-9 rounding boundaries relative to libm's 1-ulp error."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_dt"))
    w_tok = Window.partitionBy("tok")
    scored = pairs.withColumn("c_t", F.sum("c_dt").over(w_tok))
    total_df = pairs.agg(F.sum("c_dt").cast("double").alias("__total"))
    logp = F.round(
        F.log(F.col("c_t").cast("double") / F.col("__total")), 9
    ).cast("decimal(12,9)")
    per_doc = (
        scored.crossJoin(F.broadcast(total_df))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.sum(F.col("c_dt") * logp).alias("__sum_logp"),
        )
    )
    with_p = per_doc.select(
        "doc_id",
        "n_tokens",
        F.floor(
            F.col("__sum_logp").cast("double")
            / F.col("n_tokens").cast("double")
            * PPLX_LOG_SCALE
        ).cast("int").alias("bucket"),
    )
    hist = with_p.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("tot"), F.col("bucket"))).alias("b1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("tot"), F.col("bucket"))).alias("b2"),
    )
    return with_p.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.when(F.col("bucket") <= F.col("b1"), F.lit("tail"))
        .when(F.col("bucket") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("tier"),
    )


SQL_PERPLEXITY_BUCKETS = f"""
WITH pairs AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), cdt AS (
  SELECT doc_id, tok, count(*) AS c_dt FROM pairs GROUP BY doc_id, tok
), scored AS (
  SELECT doc_id, c_dt, sum(c_dt) OVER (PARTITION BY tok) AS c_t FROM cdt
), tot AS (
  SELECT CAST(sum(c_dt) AS DOUBLE) AS total FROM cdt
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c_dt) AS BIGINT) AS n_tokens,
         sum(c_dt * CAST(round(ln(CAST(c_t AS DOUBLE) / total), 9)
                         AS DECIMAL(12,9))) AS sum_logp
  FROM scored, tot GROUP BY doc_id
), with_p AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CAST(sum_logp AS DOUBLE)
                    / CAST(n_tokens AS DOUBLE) * {PPLX_LOG_SCALE})
              AS INTEGER) AS bucket
  FROM per_doc
), hist AS (
  SELECT bucket, count(*) AS cnt FROM with_p GROUP BY bucket
), cum AS (
  SELECT bucket,
         sum(cnt) OVER (ORDER BY bucket ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS tot
  FROM hist
), cuts AS (
  SELECT min(CASE WHEN cum * 3 >= tot THEN bucket END) AS b1,
         min(CASE WHEN cum * 3 >= 2 * tot THEN bucket END) AS b2
  FROM cum
)
SELECT doc_id, n_tokens, bucket,
       CASE WHEN bucket <= b1 THEN 'tail'
            WHEN bucket <= b2 THEN 'middle'
            ELSE 'head' END AS tier
FROM with_p, cuts
"""


# --- PII detection + redaction ----------------------------------------------

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pass over the corpus: per-pattern match counts (email/IPv4/
    phone) + the fingerprint of the sequentially redacted text. Pure
    regexp projection — no shuffle at all, whole-stage codegen end-to-end;
    at 100 TB this is a map-only scan. Patterns live in the Java∩RE2
    portable subset so Spark and the DuckDB oracle redact identical spans
    (tests/test_pii.py proves span parity on adversarial crafted strings;
    the synthetic corpus itself is PII-free, so counts here are honest
    zeros)."""
    return text.pii_scrub(load_table(spark, sf_dir, "documents"))


def _sql_pii() -> str:
    from multi_source_financial_data_pipeline_spark.operators.text import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrub = "text"
    for _, pat, token in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return f"SELECT doc_id,\n       {counts},\n       md5({scrub}) AS scrubbed_fp\nFROM documents"


SQL_PII_SCRUB = _sql_pii()


# --- Flesch readability ------------------------------------------------------

def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per doc from three codegen'd regex counts —
    words (whitespace tokens), sentences (runs of .!? — floored at 1),
    syllables (vowel groups, the standard cheap estimator, floored at 1) —
    then 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    rounded at 6. Map-only scan, no shuffle; the constants are short
    decimals (single correctly-rounded conversions in both engines), the
    two ratios divide exact integers, and the arithmetic order is
    mirrored, so the score is engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(text.tokens(F.col("text"))).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0)))
        .cast("long"),
    )
    n_syll = F.greatest(
        F.lit(1).cast("long"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[aeiouyAEIOUY]+"), F.lit(0))
        ).cast("long"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


SQL_READABILITY = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_words,
         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS n_sentences,
         greatest(1, CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                          AS BIGINT)) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             6) AS flesch
FROM m
"""


# --- near-dup cluster-size histogram -----------------------------------------

def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup diagnostic a curation run reports first: how big are the
    near-dup components? (cluster_size, n_clusters) over the verified
    transitive components, INCLUDING size-1 (unique docs) —
    Σ cluster_size·n_clusters = n_docs
    is the audit identity. Two tiny groupBys over the component labels; the
    expensive part is the shared LSH→verify→components subtree
    `neardup_verified` already pays."""
    canon = q_neardup_verified(spark, sf_dir).select("canonical_id")
    sizes = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


SQL_DEDUP_CLUSTER_SIZES = f"""
WITH canon AS (SELECT canonical_id FROM ({SQL_NEARDUP_VERIFIED})),
sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM canon
  GROUP BY canonical_id
)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
"""


# --- n-gram novelty curve ----------------------------------------------------

def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty in ingestion (doc_id) order: the fraction of a doc's
    distinct 3-gram shingles that NO earlier doc contains — the
    diminishing-returns curve a data-buyer reads before paying for more of
    the same source. A gram's first owner is min(doc_id) over its gram
    partition; a doc's novel grams are those it owns. ONE scan →
    (doc, gram) distinct hash-agg [shuffle 1] → gram-partition window min
    [shuffle 2] → doc rollup [shuffle 3]; single consumer chain, nothing
    evaluated twice, linear in corpus grams. The fraction divides two
    exact integers (one IEEE op, engine-identical)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dg = docs.select(
        "doc_id", F.explode(dedup.shingles(F.col("text"))).alias("gram")
    ).groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    w_g = Window.partitionBy("gram")
    tagged = dg.select(
        "doc_id", (F.min("doc_id").over(w_g) == F.col("doc_id")).alias("novel")
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("novel").cast("long")).alias("n_novel"),
        (
            F.sum(F.col("novel").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("novelty_frac"),
    )


SQL_NGRAM_NOVELTY = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
dg AS (
  SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS gram FROM d
), tagged AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY gram) = doc_id AS novel
  FROM dg
)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty_frac
FROM tagged GROUP BY doc_id
"""


# --- embedding-norm contract audit -------------------------------------------

NORM_TOL = 0.001


def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-ANN hygiene as a contract check: cosine screening assumes a
    unit-normalized store, so the audit counts vectors whose L2 norm
    strays off 1.0 beyond NORM_TOL, zero vectors (undefined direction —
    the `_sql_cos` nullif guard exists for these), and reports min/max and
    the decimal-exact mean norm. (A z-score formulation is degenerate on a
    normalized store: the norm stddev is rounding noise.) Map-only per row
    + one 1-row aggregate — linear at any scale."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.round(
            F.sqrt(similarity.sq_norm("cast(embedding as array<double>)")), 6
        ).alias("norm"),
    )
    return e.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("norm").alias("min_norm"),
        F.max("norm").alias("max_norm"),
        (
            F.sum(F.col("norm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_norm"),
        F.sum(
            (F.abs(F.col("norm") - 1.0) > NORM_TOL).cast("long")
        ).alias("n_off_unit"),
        F.sum((F.col("norm") == 0.0).cast("long")).alias("n_zero"),
    )


_SQL_NORM = (
    "round(sqrt((0.0 + "
    + " + ".join(f"v[{i}] * v[{i}]" for i in range(1, EMB_DIM + 1))
    + ")), 6)"
)

SQL_EMBEDDING_NORM_AUDIT = f"""
WITH e AS (
  SELECT {_SQL_NORM} AS norm
  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)
)
SELECT count(*) AS n_vectors,
       min(norm) AS min_norm,
       max(norm) AS max_norm,
       CAST(sum(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_norm,
       CAST(sum(CASE WHEN abs(norm - 1.0) > {NORM_TOL} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_off_unit,
       CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM e
"""


# --- containment (near-superset) detection over LSH candidates ---------------

CONTAIN_THRESHOLD = 0.8


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over the LSH candidate pairs: C(A→B) =
    |A∩B| / |A| on distinct 3-gram shingles — the measure that catches a
    doc EMBEDDED in a longer one, which symmetric Jaccard dilutes below
    any dedup threshold (Broder's containment, the motivation for suffix
    filtering in near-dup systems). Both directions emitted; flagged at
    ≥ 0.8 either way. Pair space bounded by LSH banding as always; the
    ratios divide exact integers (one IEEE op each, engine-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, num_hashes=NUM_HASHES, keep_all_docs=False)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    sh = docs.select("doc_id", dedup.shingles(F.col("text")).alias("s"))
    j = (
        pairs.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")), "id_a"
        ).join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    c_a = inter.cast("double") / F.nullif(F.size("sa").cast("double"), F.lit(0.0))
    c_b = inter.cast("double") / F.nullif(F.size("sb").cast("double"), F.lit(0.0))
    return j.select(
        "id_a",
        "id_b",
        inter.alias("n_shared"),
        c_a.alias("contain_a_in_b"),
        c_b.alias("contain_b_in_a"),
        (
            (c_a >= CONTAIN_THRESHOLD) | (c_b >= CONTAIN_THRESHOLD)
        ).alias("is_contained"),
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH cand AS (SELECT id_a, id_b FROM ({SQL_MINHASH_LSH_PAIRS})),
d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM d),
m AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_shared,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / nullif(CAST(len(a.s) AS DOUBLE), 0.0) AS contain_a_in_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / nullif(CAST(len(b.s) AS DOUBLE), 0.0) AS contain_b_in_a
  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, n_shared, contain_a_in_b, contain_b_in_a,
       contain_a_in_b >= {CONTAIN_THRESHOLD}
       OR contain_b_in_a >= {CONTAIN_THRESHOLD} AS is_contained
FROM m
"""


# --- edit-distance verification of LSH candidates ----------------------------

EDIT_DUP_REL = 0.3


def q_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the MinHash+LSH candidate pairs:
    Levenshtein distance (native JVM `levenshtein`, no UDF) and the
    relative edit distance vs the longer side; is_dup at ≤ 0.3 — the
    n-gram-free second opinion next to `neardup_verified`'s Jaccard.

    Scale: edit distance is O(len²) PER PAIR — the expensive verifier that
    must never see a pair space; here it runs only on the LSH candidates
    (bounded by banding collisions), joined to the text column twice. The
    DuckDB oracle's `levenshtein` counts UTF-8 BYTES where Spark counts
    characters — identical on this ASCII corpus (verified corpus-wide); a
    multilingual deployment normalizes first or treats this as
    engine-local."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, num_hashes=NUM_HASHES, keep_all_docs=False)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    t = docs.select("doc_id", "text")
    j = (
        pairs.join(
            t.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")),
            "id_a",
        ).join(
            t.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")),
            "id_b",
        )
    )
    lev = F.levenshtein("ta", "tb")
    rel = lev.cast("double") / F.nullif(
        F.greatest(F.length("ta"), F.length("tb")).cast("double"), F.lit(0.0)
    )
    return j.select(
        "id_a",
        "id_b",
        lev.cast("long").alias("lev"),
        rel.alias("rel_edit"),
        (rel <= EDIT_DUP_REL).alias("is_dup"),
    )


SQL_EDITDIST_VERIFY = f"""
WITH cand AS (SELECT id_a, id_b FROM ({SQL_MINHASH_LSH_PAIRS})),
t AS (SELECT doc_id, text FROM documents)
SELECT c.id_a, c.id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       CAST(levenshtein(a.text, b.text) AS DOUBLE)
         / nullif(CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 0.0)
         AS rel_edit,
       CAST(levenshtein(a.text, b.text) AS DOUBLE)
         / nullif(CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 0.0)
         <= {EDIT_DUP_REL} AS is_dup
FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b
"""


# --- export shard manifest ---------------------------------------------------


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a training-export step publishes: deterministic hash
    sharding of the corpus into N_SHARDS, with per-shard doc counts, token
    totals, and a MULTISET fingerprint of the member ids — the artifact a
    downstream loader validates against before streaming shards. Shard
    assignment is the same md5-prefix hash every sampler here uses: a pure
    row function, so the shard of a doc never depends on partitioning,
    cluster size, or engine.

    Scale shape (r08 fix): the previous members_fp hashed the SORTED
    CONCATENATED id list — collect_list per shard buffers corpus/N_SHARDS
    ids in one agg task's state (unbounded, since the shard count is
    fixed). Now the fingerprint is the classic incremental multiset hash:
    (count, Σ h(id) as exact DECIMAL, XOR h(id)) folded into one md5 —
    CONSTANT per-group state, mergeable map-side (commutative/associative),
    order-independent (a set fingerprint validates the same membership; the
    order is re-derivable by sorting). One scan, one shard-key exchange,
    nothing grows with shard size."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    d = docs.select(
        (h % N_SHARDS).alias("shard"),
        h.alias("h"),
        F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    agg = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("__sum_h"),
        F.expr("bit_xor(h)").alias("__xor_h"),
    )
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("__sum_h").cast("string"),
            F.col("__xor_h").cast("string"),
            F.col("n_docs").cast("string"),
        )
    )
    return agg.select("shard", "n_docs", "n_tokens", fp.alias("members_fp"))


SQL_SHARD_MANIFEST = f"""
WITH d AS (
  SELECT {_SQL_H64} % {N_SHARDS} AS shard,
         {_SQL_H64} AS h,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), a AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sum_h,
         bit_xor(h) AS xor_h
  FROM d GROUP BY shard
)
SELECT shard, n_docs, n_tokens,
       md5(CAST(sum_h AS VARCHAR) || '|' || CAST(xor_h AS VARCHAR)
           || '|' || CAST(n_docs AS VARCHAR)) AS members_fp
FROM a
"""


# --- best-in-cluster selection: canonicalize by QUALITY, not by min id -------

def q_cluster_best_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster curation the way a production pipeline actually
    keeps documents: within each verified near-dup component (≥2 members),
    keep the member with the HIGHEST structural quality score (doc-id
    tiebreak) — `neardup_verified`'s min-id canonical is the cheap
    deterministic label; this query upgrades the kept representative to
    the best one. Plan: the component labels (LSH → Jaccard verify →
    min-label fixpoint) join the fused single-scan quality projection;
    ranking + member counts fold into ONE mergeable hash aggregate:
    max(struct(qs, −doc_id)) carries the winner AND its quality in a
    single constant-size agg state (lexicographic struct order = highest
    quality, then lowest doc_id), count carries the cluster size — both
    combine map-side, so even a pathological mega-cluster (e.g. thousands
    of identical boilerplate docs collapsing to one canonical id) costs
    one constant-size buffer per task, never a per-cluster sort. (The r08
    rewrite of the previous two-Window formulation, which buffered every
    member of a cluster in one task.)"""
    canon = q_neardup_verified(spark, sf_dir).select("doc_id", "canonical_id")
    quality = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.quality_columns()["quality_score"].alias("qs")
    )
    scored = canon.join(quality, "doc_id")
    best = F.max(F.struct(F.col("qs").alias("qs"), (-F.col("doc_id")).alias("nd")))
    agg = scored.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        best.alias("__best"),
    )
    return agg.filter(F.col("n_members") >= 2).select(
        "canonical_id",
        (-F.col("__best.nd")).alias("best_doc_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("__best.qs").alias("best_quality"),
    )


SQL_CLUSTER_BEST_DOC = f"""
WITH canon AS (SELECT doc_id, canonical_id FROM ({SQL_NEARDUP_VERIFIED})),
q AS (SELECT doc_id, quality_score AS qs FROM ({SQL_DOC_QUALITY})),
s AS (SELECT c.canonical_id, c.doc_id, q.qs FROM canon c JOIN q USING (doc_id)),
a AS (
  SELECT canonical_id,
         CAST(count(*) AS BIGINT) AS n_members,
         max(struct_pack(qs := qs, nd := -doc_id)) AS best
  FROM s GROUP BY canonical_id
)
SELECT canonical_id, -best.nd AS best_doc_id, n_members,
       best.qs AS best_quality
FROM a WHERE n_members >= 2
"""


# --- DSIR: hashed-n-gram importance weights for data selection ---------------

DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): unigrams hash into
    DSIR_BUCKETS feature buckets; the target distribution is the lang='en'
    slice, the raw distribution is the whole corpus; each doc scores the
    sum of its tokens' smoothed log-likelihood ratios, and kept = (score >
    0) is the importance-resampling acceptance direction.

    ONE corpus scan (the q_unigram_prob shape): token explode →
    per-(doc, bucket) counts [shuffle 1] → bucket marginals as WINDOW sums
    over the bucket partition [shuffle 2] — never a re-aggregation of the
    corpus — and the two corpus totals as a 1-row aggregate over the SAME
    doc-bucket subtree, broadcast cross-joined back (AQE exchange reuse
    executes the subtree once; pinned). The log-ratio is then a row-local
    expression and the doc score one final groupBy [shuffle 3].
    Cross-engine exactness: per-bucket log-ratios are rounded to 6
    decimals and fixed as DECIMAL(12,6); doc scores are then exact
    integer-weighted decimal sums (summation-order-proof), emitted as
    DOUBLE."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    pairs = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_tgt"),
        F.explode(text.tokens(F.col("text"))).alias("tok"),
    ).select("doc_id", "is_tgt", bucket.alias("bucket"))
    db = pairs.groupBy("doc_id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).alias("c_db")
    )
    w_b = Window.partitionBy("bucket")
    scored = db.select(
        "doc_id",
        "c_db",
        F.sum("c_db").over(w_b).alias("n_raw"),
        F.coalesce(
            F.sum(F.when(F.col("is_tgt"), F.col("c_db"))).over(w_b),
            F.lit(0).cast("long"),
        ).alias("n_tgt"),
    )
    totals = db.agg(
        F.sum("c_db").alias("tot_raw"),
        F.coalesce(
            F.sum(F.when(F.col("is_tgt"), F.col("c_db"))), F.lit(0).cast("long")
        ).alias("tot_tgt"),
    )
    lr = F.round(
        F.log(
            (F.col("n_tgt") + 1).cast("double")
            / (F.col("tot_tgt") + DSIR_BUCKETS).cast("double")
        )
        - F.log(
            (F.col("n_raw") + 1).cast("double")
            / (F.col("tot_raw") + DSIR_BUCKETS).cast("double")
        ),
        6,
    ).cast("decimal(12,6)")
    per_doc = (
        scored.crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("c_db").cast("long").alias("n_tokens"),
            F.sum(F.col("c_db").cast("decimal(18,0)") * lr)
            .cast("double")
            .alias("dsir_logw"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "dsir_logw",
        (F.col("dsir_logw") > 0.0).alias("kept"),
    )


SQL_DSIR_WEIGHTS = f"""
WITH pairs AS (
  SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_tgt,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest({_SQL_TOKS}) AS tok FROM documents)
), db AS (
  SELECT doc_id, is_tgt, bucket, count(*) AS c_db
  FROM pairs GROUP BY doc_id, is_tgt, bucket
), scored AS (
  SELECT doc_id, c_db,
         sum(c_db) OVER (PARTITION BY bucket) AS n_raw,
         coalesce(sum(CASE WHEN is_tgt THEN c_db END)
                  OVER (PARTITION BY bucket), 0) AS n_tgt
  FROM db
), totals AS (
  SELECT CAST(sum(c_db) AS BIGINT) AS tot_raw,
         CAST(coalesce(sum(CASE WHEN is_tgt THEN c_db END), 0) AS BIGINT)
           AS tot_tgt
  FROM db
), per_doc AS (
  SELECT doc_id, CAST(sum(c_db) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(c_db AS DECIMAL(18,0)) * CAST(round(
           ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tot_tgt + {DSIR_BUCKETS} AS DOUBLE))
           - ln(CAST(n_raw + 1 AS DOUBLE) / CAST(tot_raw + {DSIR_BUCKETS} AS DOUBLE)),
           6) AS DECIMAL(12,6))) AS DOUBLE) AS dsir_logw
  FROM scored, totals GROUP BY doc_id
)
SELECT doc_id, n_tokens, dsir_logw, dsir_logw > 0.0 AS kept
FROM per_doc
"""


# --- model-based quality filter: fastText-style linear classifier -----------

LRC_BUCKETS = 64   #: hashed unigram feature space (+1 bias)
LRC_STEPS = 4      #: unrolled full-batch gradient iterations
LRC_ETA = 4.0      #: step size on standardized features
LRC_TAU = 0.06     #: label threshold on the stopword-ratio heuristic
#: the production width: `lr_width_pick`'s choice on this corpus — the
#: smallest power-of-two width whose hash map is injective on the
#: label-bearing (stopword) buckets. The r17 sweep located the step
#: between its grid points 1024 and 4096 (64–1024 all carry the
#: `the` ⨯ `join` md5-low-bit collision); the rule run on the full
#: power-of-two grid finds the collision separates at 2048 already, at
#: every SF, and accuracy at 2048 equals 4096's (0.956/0.97/0.983 at
#: sf0.001/0.01/0.1) — the injectivity mechanism confirmed: width is a
#: collision property, not a capacity knob, so the smaller injective
#: width is strictly better (half the moments/weights for the same
#: accuracy).
LRC_BUCKETS_WIDE = 2048
#: candidate width grid the injectivity check sweeps (powers of two —
#: the hash modulus a production config would actually pick from)
LRW_WIDTHS = (64, 128, 256, 512, 1024, 2048, 4096)


def q_lr_width_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`text.stopword_bucket_injectivity` over the corpus vocabulary —
    the bucket-width selection rule as a registered operator (r17
    VERDICT item 3): per candidate width, how many buckets carry a
    stopword and how many of those are CONTAMINATED (shared with any
    other vocab token); ``picked`` marks the smallest injective width.
    One token scan → |V|-row distinct → one hash agg; never pairwise."""
    return text.stopword_bucket_injectivity(
        load_table(spark, sf_dir, "documents"), LRW_WIDTHS
    )


SQL_LR_WIDTH_PICK = f"""
WITH vocab AS (
  SELECT DISTINCT tok
  FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
),
vh AS (
  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h,
         tok IN ({_STOPLIST}) AS is_stop
  FROM vocab
),
pw AS (
  SELECT h, is_stop, CAST(w AS INTEGER) AS width
  FROM vh CROSS JOIN (SELECT unnest([{", ".join(str(w) for w in LRW_WIDTHS)}]) AS w)
),
bk AS (
  SELECT width, h % width AS b, count(*) AS n_toks,
         sum(CASE WHEN is_stop THEN 1 ELSE 0 END) AS n_stop
  FROM pw GROUP BY 1, 2
),
st AS (
  SELECT width,
         CAST(count(*) AS BIGINT) AS n_stop_buckets,
         CAST(count(*) FILTER (WHERE n_toks > 1) AS BIGINT)
           AS n_contaminated
  FROM bk WHERE n_stop >= 1 GROUP BY width
),
si AS (SELECT *, n_contaminated = 0 AS injective FROM st)
SELECT width, n_stop_buckets, n_contaminated, injective,
       coalesce(
         width = min(CASE WHEN injective THEN width END) OVER (), FALSE
       ) AS picked
FROM si
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filtering, the fastText-classifier pattern
    (Joulin et al. 2016) production pipelines use for quality/language
    screening: label every document with the CHEAP heuristic signal (the
    module's stopword-ratio ≥ LRC_TAU — the `lang_id` screen), train a
    hashed-feature linear model on those labels by LRC_STEPS distributed
    gradient iterations, and score the corpus with the trained model —
    heuristic distillation, the standard bootstrap when no human labels
    exist. Emits per-doc (is_target, score, predicted); on this corpus
    the model recovers the heuristic at ~0.83-0.84 accuracy against a
    ~0.52-0.56 majority class, pinned by a semantics test. The ceiling
    is hash-collision contamination of the stopword buckets — CONFIRMED
    mechanically by the r17 `lrc_bucket_sweep` (PERF.md): one specific
    pair (`the` ⨯ `join`) shares a bucket at every width 64-1024
    (md5-low-bit equality survives power-of-two moduli) and accuracy
    steps 0.84 → 0.97-0.98 exactly when the map turns injective
    (the sweep's grid located the step at 4096; `lr_width_pick` on the
    full grid finds it at 2048 — see LRC_BUCKETS_WIDE); steps/eta move
    it ≤ 0.004. LRC_BUCKETS stays 64: the registered point measures the
    contaminated regime the attribution describes; the rule is the
    registered `lr_width_pick` and the picked-width point is
    `quality_classifier_wide`.

    Plan + exactness: see `text.token_lr_classifier` — sparse dsir-shape
    feature build, decimal-exact bucket moments, IEEE-exact sqrt
    standardization, LR_Q-quantized BIGINT logit/gradient folds, and the
    algebraic sigmoid (no cross-engine `exp`); the oracle unrolls the
    same LRC_STEPS steps as CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_lr_classifier(
        docs,
        text.stopword_ratio(F.col("text")) >= LRC_TAU,
        buckets=LRC_BUCKETS,
        steps=LRC_STEPS,
        eta=LRC_ETA,
    )


def _sql_lr_step(i: int) -> str:
    """One unrolled gradient step: logits under w{i-1} (quantized BIGINT
    fold), algebraic-sigmoid residuals, per-bucket gradient (same fold),
    weight update."""
    return f"""z{i} AS (
  SELECT f.doc_id, f.is_target,
         CAST(sum(CAST(round(f.xs * w.w * 1000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS z
  FROM feat f JOIN w{i - 1} w USING (bucket)
  GROUP BY f.doc_id, f.is_target
), r{i} AS (
  SELECT doc_id,
         (CASE WHEN is_target THEN 1.0 ELSE 0.0 END)
           - (0.5 + z / (2.0 * (1.0 + abs(z)))) AS r
  FROM z{i}
), g{i} AS (
  SELECT f.bucket,
         sum(CAST(round(f.xs * r.r * 1000000.0) AS BIGINT)) AS gq
  FROM feat f JOIN r{i} r USING (doc_id) GROUP BY f.bucket
), w{i} AS (
  SELECT w.bucket,
         w.w + {LRC_ETA} * (CAST(coalesce(g.gq, 0) AS DOUBLE) / 1000000.0)
                 / n.n_docs AS w
  FROM w{i - 1} w LEFT JOIN g{i} g USING (bucket) CROSS JOIN nrow n
)"""


def _sql_quality_classifier(buckets: int = LRC_BUCKETS) -> str:
    steps = ",\n".join(_sql_lr_step(i) for i in range(1, LRC_STEPS + 1))
    fin = LRC_STEPS + 1
    return f"""
WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
lab AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ({_STOPLIST}))) / len(toks)
           >= {LRC_TAU} AS is_target
  FROM d
),
pairs AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {buckets} AS bucket
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
),
counts AS (SELECT doc_id, bucket, count(*) AS c FROM pairs GROUP BY 1, 2),
sparse AS (
  SELECT doc_id, bucket,
         CAST(c AS DOUBLE)
           / CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
  FROM counts
),
nrow AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
stats0 AS (
  SELECT bucket,
         round(CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / n.n_docs, 6) AS mu,
         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(24,12))) AS DOUBLE)
           AS sxx,
         n.n_docs AS n_docs
  FROM sparse, nrow n GROUP BY bucket, n.n_docs
),
stats AS (
  SELECT bucket, mu,
         round(sqrt(greatest(sxx / n_docs - mu * mu, 0.0)) + 1e-6, 6) AS sd
  FROM stats0
),
grid AS (
  SELECT l.doc_id, l.is_target, g.bucket
  FROM lab l CROSS JOIN
       (SELECT unnest(generate_series(0, {buckets - 1})) AS bucket) g
),
feat AS (
  SELECT g.doc_id, g.is_target, g.bucket,
         (coalesce(s.x, 0.0) - st.mu) / st.sd AS xs
  FROM grid g
  LEFT JOIN sparse s ON s.doc_id = g.doc_id AND s.bucket = g.bucket
  JOIN stats st ON st.bucket = g.bucket
  UNION ALL
  SELECT doc_id, is_target, {buckets}, 1.0 FROM lab
),
w0 AS (
  SELECT unnest(generate_series(0, {buckets})) AS bucket, 0.0 AS w
),
{steps},
z{fin} AS (
  SELECT f.doc_id, f.is_target,
         CAST(sum(CAST(round(f.xs * w.w * 1000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS z
  FROM feat f JOIN w{LRC_STEPS} w USING (bucket)
  GROUP BY f.doc_id, f.is_target
)
SELECT doc_id, is_target,
       round(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS score,
       z > 0.0 AS predicted
FROM z{fin}
"""


SQL_QUALITY_CLASSIFIER = _sql_quality_classifier()


def _ensure_lr_model(
    spark: SparkSession, sf_dir: str, buckets: int = LRC_BUCKETS
) -> str:
    """Train-once cache for the quality classifier's serving artifact
    (the `_ensure_pq_index` pattern): `text.token_lr_train`'s
    (buckets+1)-row (bucket, w, mu, sd) frame persisted as parquet under
    an identity-markered dir, so the probes pay the LRC_STEPS gradient
    iterations exactly once per (testdata tree, hyperparameters) and the
    probe itself never runs a training step. ``meta/`` records the
    bucket width IN the artifact (the `_pq_index_is_residual` pattern,
    r17 VERDICT item 7) so serving derives its feature-space modulus
    from the model it scores with — no second copy to desynchronize, no
    per-call row-count guard job."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    ident = {
        "src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
        "kind": "lr_model", "buckets": buckets, "steps": LRC_STEPS,
        "eta": LRC_ETA, "tau": LRC_TAU,
        # artifact layout version: r18 added meta/ — caches built before
        # it lack the width row and must rebuild, not 404 at serve time
        "layout": "model+meta",
    }
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_dir = os.path.join(
        _ivf_cache_root(), f"{tag}_lrc_b{buckets}s{LRC_STEPS}"
    )

    def _build(build_dir: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        model = text.token_lr_train(
            docs,
            text.stopword_ratio(F.col("text")) >= LRC_TAU,
            buckets=buckets, steps=LRC_STEPS, eta=LRC_ETA,
        )
        # buckets+1 rows: one file, one footer to read at serve time
        model.repartition(1).write.parquet(os.path.join(build_dir, "model"))
        spark.createDataFrame(
            [(int(buckets),)], "buckets int"
        ).write.parquet(os.path.join(build_dir, "meta"))

    return _ensure_index(index_dir, ident, _build)


#: (realpath, meta mtime_ns) -> buckets: the `_PQ_META_MEMO` cost
#: contract — one tiny read per DISTINCT trained model, never per call
_LR_META_MEMO: dict[tuple[str, int], int] = {}


def _lr_model_buckets(spark: SparkSession, model_dir: str) -> int:
    """Bucket width read from the model artifact's own ``meta/`` —
    serving's feature-space modulus comes from the artifact it scores
    with (r17 VERDICT item 7: the previous per-call `model.count()`
    guard was a Spark job in a serving path; this is one memoized 1-row
    read per distinct model build)."""
    import os

    meta_dir = os.path.join(model_dir, "meta")
    key = (os.path.realpath(meta_dir), os.stat(meta_dir).st_mtime_ns)
    buckets = _LR_META_MEMO.get(key)
    if buckets is None:
        buckets = int(spark.read.parquet(meta_dir).collect()[0]["buckets"])
        _LR_META_MEMO[key] = buckets
    return buckets


def q_quality_classifier_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`quality_classifier` against the build-once persisted model
    (VERDICT r16 item 3 — the `build_pq_index` → `pq_topk_probe`
    deployment split, completing the pattern across every trained
    structure in the repo): the (buckets+1)-row (bucket, w, mu, sd)
    artifact is read back and broadcast, and the corpus is scored by
    `text.token_lr_score` — ONE token scan + one quantized fold, NO
    gradient step, no moment estimation (training monkeypatched-to-raise
    pin, like the Lloyd-free ANN probes). Scores are byte-identical to
    the train-inline classifier (shared LR_Q folds), so the oracle is
    the same deterministic training replay."""
    model_dir = _ensure_lr_model(spark, sf_dir)
    import os

    model = spark.read.parquet(os.path.join(model_dir, "model"))
    docs = load_table(spark, sf_dir, "documents")
    return text.token_lr_score(
        docs,
        model,
        text.stopword_ratio(F.col("text")) >= LRC_TAU,
        # width from the artifact's own meta (memoized 1-row read) —
        # cannot mismatch the model, so the per-call count guard is off
        buckets=_lr_model_buckets(spark, model_dir),
        check_model=False,
    )


def q_quality_classifier_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-WIDTH classifier point (r17 VERDICT item 3): the
    r17 bucket sweep proved accuracy is step-shaped in width — one
    md5-low-bit collision (`the` ⨯ `join`) contaminates the stopword
    buckets at every power-of-two width up to 1024, lifting accuracy
    0.84 → 0.97/0.98 once it separates — and its deployment rule is now
    the registered `lr_width_pick` operator: check injectivity of the
    hash map on the label-bearing vocabulary, take the smallest
    collision-free width. LRC_BUCKETS_WIDE = 2048 is that pick on this
    corpus (lr_width_pick's `picked` row at every SF — the sweep's own
    grid skipped 2048 and located the step at its next point, 4096;
    accuracy at 2048 equals 4096's, 0.956/0.97/0.983 at
    sf0.001/0.01/0.1, because width is a collision property, not a
    capacity knob — see LRC_BUCKETS_WIDE; accuracy ≥ 0.95 and
    picked == LRC_BUCKETS_WIDE both pinned by test).
    Train-once / serve-sparse exactly like
    `quality_classifier_probe`: training is cached by `_ensure_lr_model`
    (the dense corpus × (buckets+1) standardized grid exists only in the
    build), and serving is `token_lr_score`'s exact SPARSE fold —
    O(corpus tokens), WIDTH-INDEPENDENT serving cost (the sweep's
    measurement), width read from the artifact's meta."""
    model_dir = _ensure_lr_model(spark, sf_dir, buckets=LRC_BUCKETS_WIDE)
    import os

    model = spark.read.parquet(os.path.join(model_dir, "model"))
    docs = load_table(spark, sf_dir, "documents")
    return text.token_lr_score(
        docs,
        model,
        text.stopword_ratio(F.col("text")) >= LRC_TAU,
        buckets=_lr_model_buckets(spark, model_dir),
        check_model=False,
    )




# --- per-source distribution shift: KL(source ‖ corpus) over hashed grams ----

def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift ranking for mixture rebalancing: each source's KL
    divergence (bits) from the whole-corpus unigram distribution over the
    same DSIR_BUCKETS hashed feature space, add-1 smoothed so every bucket
    is defined. The sources whose KL is largest are the ones a
    `mixture_weights` rebalance moves the most — this is the measurement
    that justifies the move.

    Scale shape: ONE text-column scan → (source, bucket) hash-agg
    (map-side combined, ≤ |sources|·B rows out) with per-source totals as
    a window sum — the expensive gram subtree has exactly ONE consumer, so
    nothing re-scans or re-tokenizes the corpus (the naive
    per-source-aggregate + dense-grid-join formulation duplicated the
    whole subtree: its two consumers canonicalize differently, AQE cannot
    reuse the exchange, and the corpus tokenizes twice). The dense
    |sources|×B grid comes from a DISTINCT-source scan (column-pruned to
    the source column only — trivial IO next to text) crossed with a
    literal B-row spine; missing cells take c_sb=0 and recover their
    source's total via a source-partition window max. Per-cell KL terms
    are rounded to 6 decimals and decimal-summed per source —
    summation-order-proof, engine-exact."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    sb = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("tok")
    ).select("source", bucket.alias("bucket")).groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("c_sb")
    )
    w_s = Window.partitionBy("source")
    sbt = sb.withColumn("tot_s", F.sum("c_sb").over(w_s))
    srcs = docs.select("source").distinct()
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    grid = srcs.crossJoin(F.broadcast(spine)).join(
        sbt, ["source", "bucket"], "left"
    ).select(
        "source",
        "bucket",
        F.coalesce("c_sb", F.lit(0).cast("long")).alias("c_sb"),
        "tot_s",
    )
    filled = grid.withColumn("tot_s", F.max("tot_s").over(w_s))
    w_b = Window.partitionBy("bucket")
    dense = filled.select(
        "source",
        "bucket",
        "tot_s",
        "c_sb",
        F.sum("c_sb").over(w_b).alias("c_b"),
        F.sum("tot_s").over(w_b).alias("tot"),
    )
    p_s = (F.col("c_sb") + 1).cast("double") / (
        F.col("tot_s") + DSIR_BUCKETS
    ).cast("double")
    p_c = (F.col("c_b") + 1).cast("double") / (
        F.col("tot") + DSIR_BUCKETS
    ).cast("double")
    term = F.round(p_s * F.log2(p_s / p_c), 6).cast("decimal(12,6)")
    return dense.groupBy("source").agg(
        F.max("tot_s").cast("long").alias("n_tokens"),
        F.sum(term).cast("double").alias("kl_bits"),
    )


SQL_SOURCE_KL = f"""
WITH sb AS (
  SELECT source,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket,
         count(*) AS c_sb
  FROM (SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
), sbt AS (
  SELECT source, bucket, c_sb,
         sum(c_sb) OVER (PARTITION BY source) AS tot_s
  FROM sb
), srcs AS (SELECT DISTINCT source FROM documents),
grid AS (
  SELECT r.source, t.bucket,
         CAST(coalesce(s.c_sb, 0) AS BIGINT) AS c_sb, s.tot_s
  FROM srcs r
  CROSS JOIN generate_series(0, {DSIR_BUCKETS - 1}) t(bucket)
  LEFT JOIN sbt s ON s.source = r.source AND s.bucket = t.bucket
), filled AS (
  SELECT source, bucket, c_sb,
         CAST(max(tot_s) OVER (PARTITION BY source) AS BIGINT) AS tot_s
  FROM grid
), dense AS (
  SELECT source, bucket, tot_s, c_sb,
         sum(c_sb) OVER (PARTITION BY bucket) AS c_b,
         sum(tot_s) OVER (PARTITION BY bucket) AS tot
  FROM filled
), terms AS (
  SELECT source, tot_s,
         CAST(round(
           (CAST(c_sb + 1 AS DOUBLE) / CAST(tot_s + {DSIR_BUCKETS} AS DOUBLE))
           * log2((CAST(c_sb + 1 AS DOUBLE) / CAST(tot_s + {DSIR_BUCKETS} AS DOUBLE))
                  / (CAST(c_b + 1 AS DOUBLE) / CAST(tot + {DSIR_BUCKETS} AS DOUBLE))),
           6) AS DECIMAL(12,6)) AS term
  FROM dense
)
SELECT source, CAST(max(tot_s) AS BIGINT) AS n_tokens,
       CAST(sum(term) AS DOUBLE) AS kl_bits
FROM terms GROUP BY source
"""


# --- SQ8 scalar quantization: recall cost of 8-bit embeddings ----------------

SQ8_LEVELS = 255


def _sq8_dequant_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings after a symmetric SQ8 round-trip: per-dimension min/max
    (one linear posexplode aggregate folded to two 64-element arrays,
    broadcast), each component quantized to its dimension's 255-level grid
    and dequantized back. Row-local transform — the corpus is never
    shuffled; at 100 TB the stats pass is a map-side-combined aggregate
    over dims, not rows."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    stats = e.select(F.posexplode("v").alias("pos", "x")).groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    arrs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
        ).alias("mxs"),
    )

    def _deq(x, i):
        mn = F.element_at(F.col("mns"), (i + 1).cast("int"))
        mx = F.element_at(F.col("mxs"), (i + 1).cast("int"))
        span = mx - mn
        qv = F.round(
            (x - mn) / F.nullif(span, F.lit(0.0)) * F.lit(float(SQ8_LEVELS)), 0
        )
        return F.coalesce(
            mn + qv / F.lit(float(SQ8_LEVELS)) * span, mn
        )

    return e.crossJoin(F.broadcast(arrs)).select(
        "vec_id", F.transform("v", _deq).alias("embedding")
    )


def q_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k cost of 8-bit scalar quantization: exact brute-force top-k
    on the original embeddings vs the same search on SQ8 round-tripped
    vectors (symmetric: queries quantized too). The measured answer to
    "can this corpus ship int8 embeddings?" — 4× memory/IO off the ANN
    path, same harness shape as `ann_recall_ivf`/`ann_recall_lsh` so the
    PERF.md frontier can compare all three reduction strategies."""
    deq = _sq8_dequant_frame(spark, sf_dir)
    approx = similarity.brute_force_topk(deq, _query_slice(deq), k=TOPK)
    return _recall_at_k(spark, sf_dir, approx)


_SQL_SQ8_DEQ = (
    "coalesce(mns[i] + round((x - mns[i]) / nullif(mxs[i] - mns[i], 0.0)"
    f" * {float(SQ8_LEVELS)!r}, 0) / {float(SQ8_LEVELS)!r}"
    " * (mxs[i] - mns[i]), mns[i])"
)

SQL_SQ8_RECALL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (SELECT pos, v[pos] AS x FROM e, generate_series(1, {EMB_DIM}) t(pos)),
stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM comp GROUP BY pos),
arrs AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
         FROM stats),
deq AS (
  SELECT vec_id, list_transform(v, (x, i) -> {_SQL_SQ8_DEQ}) AS dv
  FROM e, arrs
),
q AS (SELECT vec_id AS query_id, dv AS qv FROM deq WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round({_sql_cos("qv", "c.dv")}, 6) AS cos_sim
  FROM deq c JOIN q ON c.vec_id != q.query_id
),
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {TOPK}
),
{_SQL_RECALL_TAIL}"""


# --- product quantization: ADC recall ----------------------------------------

PQ_M = 8       # subspaces: 64 dims -> 8 blocks of 8
PQ_K = 16      # centroids per subspace: a code is 8 x 4 bits
PQ_ITERS = 2   # unrolled Lloyd iterations per subspace (KM_ITERS twin)
PQ256_K = 256  # the production code budget: 8-bit sub-codebooks (FAISS IVFPQ's default nbits=8), VERDICT r13 item 3
PQ256_M = 16   # subspaces at the production budget: 16 x 8-bit codes — the first budget the r14 frontier sweep shows reaching recall@10 >= 0.8 (VERDICT r14 item 2)
_PQ_SUB = EMB_DIM // PQ_M


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k cost of PRODUCT quantization (Jégou et al. 2011), the
    third and most aggressive compression on the PERF.md reduction
    frontier after SQ8 (`q_sq8_recall`) and sign-LSH: 64 doubles → 8
    nibble codes (128× smaller than raw, 64× smaller than SQ8), searched
    by asymmetric distance over per-query lookup tables — the scan never
    touches a reconstructed vector (`operators/similarity.pq_adc_topk`).
    Ground truth is the exact brute-force top-k, scored by the same
    `_recall_at_k` harness as `q_sq8_recall`, so the three strategies read
    off one another directly."""
    return _pq_recall_df(spark, sf_dir, PQ_K)


def q_pq256_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_pq_recall` at the PRODUCTION code budget (VERDICT r13 item 3):
    k_codebook = 256 — FAISS IVFPQ's default nbits=8 — so a code is 8
    bytes/vector (64× smaller than raw) instead of 8 nibbles (128×).
    Same training pipeline, same ADC scan, same harness tail; read next
    to `pq_recall` this puts the 4-bit-vs-8-bit recall trade ON the
    PERF.md reduction frontier as a measured point rather than an
    extrapolation. At fixture scales where the corpus has fewer than 256
    vectors per subspace the seed cutoff degrades gracefully (every
    vector seeds its own centroid — the exactness limit the
    `test_pq_identity_when_every_vector_is_a_seed` family pins)."""
    return _pq_recall_df(spark, sf_dir, PQ256_K)


def _pq_recall_df(spark: SparkSession, sf_dir: str, k_codebook: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.pq_adc_topk(
        emb, _query_slice(emb), m=PQ_M, k_codebook=k_codebook, iters=PQ_ITERS,
        dim=EMB_DIM, k=TOPK,
    )
    return _recall_at_k(spark, sf_dir, approx)


def _sql_pq_assign(
    name: str, cents: str, sub: int = _PQ_SUB, src: str = "es"
) -> str:
    """Per-(vector, subspace) nearest sub-centroid — `_sql_km_assign`
    generalized to the (s)-partitioned codebook and sub-width distance.
    ``src`` selects the subvector relation: the training iterations and
    the final encode can run over DIFFERENT corpora (the upserted-index
    oracle trains on the base corpus and encodes the updated one)."""
    return f"""{name} AS (
  SELECT vec_id, s, sv, cell FROM (
    SELECT vec_id, s, sv, cell,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d ASC, cell ASC) AS rn
    FROM (SELECT {src}.vec_id, {src}.s, {src}.sv, c.cell,
                 round({_sql_sqd(f'{src}.sv', 'c.cv', sub)}, 6) AS d
          FROM {src} JOIN {cents} c ON {src}.s = c.s)
  ) WHERE rn = 1
)"""


def _sql_pq_update(name: str, assigned: str, sub: int = _PQ_SUB) -> str:
    return f"""{name}_u AS (
  SELECT s, cell, pos,
         CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sq,
         count(*) AS n
  FROM (SELECT s, cell, pos, sv[pos] AS x
        FROM (SELECT s, cell, sv, unnest(generate_series(1, {sub})) AS pos
              FROM {assigned}))
  GROUP BY s, cell, pos
), {name} AS (
  SELECT s, cell, list(CAST(sq AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
  FROM {name}_u GROUP BY s, cell
)"""


#: the ADC identity the oracle replays: cos(q, recon(c)) decomposes into
#: s-ordered left folds of sub-dot / sub-norm LUT partials (list_reduce
#: over list(.. ORDER BY s) — seedless, and 0.0 + x₀ round-trips to x₀
#: bitwise, so it equals the Spark aggregate fold exactly).
def _sql_pq_recall(k_codebook: int) -> str:
    """The PQ recall oracle at an arbitrary sub-codebook budget: the
    training replay, LUT assembly and harness tail are IDENTICAL across
    budgets — only the c0 seed cutoff (k centroids per subspace) moves,
    so the 4-bit (PQ_K=16) and 8-bit (PQ256_K=256) frontier points are
    provably the same measurement at two code budgets."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
es AS (
  SELECT vec_id, s,
         list_slice(v, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS sv
  FROM e, generate_series(0, {PQ_M - 1}) t(s)
),
c0 AS (SELECT s, CAST(vec_id AS INTEGER) AS cell, sv AS cv FROM es
       WHERE vec_id < {k_codebook}),
{_sql_pq_assign('pa1', 'c0')},
{_sql_pq_update('pc1', 'pa1')},
{_sql_pq_assign('pa2', 'pc1')},
{_sql_pq_update('pc2', 'pa2')},
{_sql_pq_assign('pa3', 'pc2')},
q AS (SELECT vec_id AS query_id, v AS qv, {_sql_dot('v', 'v')} AS qn
      FROM e WHERE vec_id < {N_QUERIES}),
qs AS (
  SELECT query_id, qn, s,
         list_slice(qv, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS qsv
  FROM q, generate_series(0, {PQ_M - 1}) t(s)
),
dlut AS (
  SELECT qs.query_id, qs.qn, qs.s, c.cell,
         {_sql_dot('qsv', 'c.cv', _PQ_SUB)} AS dp
  FROM qs JOIN pc2 c ON qs.s = c.s
),
nlut AS (SELECT s, cell, {_sql_dot('cv', 'cv', _PQ_SUB)} AS np FROM pc2),
parts AS (
  SELECT d.query_id, a.vec_id AS cand_id, d.qn, a.s, d.dp, n.np
  FROM pa3 a
  JOIN dlut d ON d.s = a.s AND d.cell = a.cell
  JOIN nlut n ON n.s = a.s AND n.cell = a.cell
  WHERE a.vec_id != d.query_id
),
folded AS (
  SELECT query_id, cand_id, max(qn) AS qn,
         list_reduce(list(dp ORDER BY s), (acc, x) -> acc + x) AS dps,
         list_reduce(list(np ORDER BY s), (acc, x) -> acc + x) AS nps
  FROM parts GROUP BY query_id, cand_id
),
scored AS (
  SELECT query_id, cand_id,
         round(dps / nullif(sqrt(qn * nps), 0), 6) AS cos_sim
  FROM folded
),
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {TOPK}
),
{_SQL_RECALL_TAIL}"""


SQL_PQ_RECALL = _sql_pq_recall(PQ_K)
SQL_PQ256_RECALL = _sql_pq_recall(PQ256_K)



def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ COMPOSITION (the FAISS-IVFPQ/ScaNN
    deployment shape): the coarse quantizer prunes each query's scan to
    `IVF_NPROBE`/`IVF_NLIST` of the corpus, PQ asymmetric distance
    scores the surviving code rows. Read against `q_pq_recall` (same
    codes, full scan) this measures what the pruning costs ON TOP of
    the quantization — the last point on the PERF.md reduction
    frontier. Same harness tail as `q_sq8_recall`/`q_pq_recall`."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.ivfpq_adc_topk(
        emb, _query_slice(emb), m=PQ_M, k_codebook=PQ_K, iters=PQ_ITERS,
        dim=EMB_DIM, nlist=IVF_NLIST, nprobe=IVF_NPROBE, k=TOPK,
    )
    return _recall_at_k(spark, sf_dir, approx)


#: `_sql_ivf_common` (coarse assignment + probes, the ann_topk_ivf
#: machinery) composed with the PQ codebook/code CTEs (SQL_PQ_RECALL's
#: machinery, `pqq` renamed so the IVF chain's internal `q` alias can't
#: collide) — the parts join simply adds the cell-membership predicate.
def q_ann_topk_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVING against the build-once materialized index (VERDICT
    r13 item 2 — the `ann_topk_ivf_probe` pattern applied to codes):
    `build_pq_index` trains the codebooks ONCE per testdata tree and
    persists them with the cell-partitioned code table; this query is
    the probe alone — per-query LUT build against the broadcast
    codebooks + a dynamic-partition-pruned ADC scan of ~nprobe/nlist of
    the code files, NO Lloyd iteration (pinned by test). Same
    m/k/iters/nlist/nprobe as `ivfpq_adc_topk`, so the oracle replays
    the training pipeline and the probe must reproduce its exact top-k
    rows from parquet."""
    index_dir = _ensure_pq_index(spark, sf_dir)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.pq_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


def q_ann_topk_pq256_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_ann_topk_pq_probe` at the PRODUCTION code budget (VERDICT r14
    item 2): m=16 subspaces × k=256 (8-bit) sub-codebooks — the first
    budget the r14 probe-sweep frontier shows reaching recall@10 ≥ 0.8
    (32× compression: 16 bytes/vector vs 512 raw) — deployed as the
    REGISTERED serving path rather than left as a sweep measurement.
    Identical plan shape to the 4-bit probe: `build_pq_index` trains
    once per (testdata tree, budget), the probe builds per-query LUTs
    against the broadcast codebooks and runs a dynamic-partition-pruned
    ADC scan of ~nprobe/nlist of the code files, NO Lloyd iteration
    (same Lloyd-free monkeypatch pin). The probe reads the subspace
    geometry off the index metadata, so the only thing this function
    chooses is WHICH index to open."""
    index_dir = _ensure_pq_index(spark, sf_dir, m=PQ256_M, k=PQ256_K)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.pq_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


def q_ann_topk_pq_refined_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ serving from a materialized index built at the
    quantizer the r15 frontier proved residual encoding needs (VERDICT
    r15 item 2): `build_pq_index(coarse_centers=kmeans_centroids(...),
    by_residual=True)` persists Lloyd-REFINED coarse centers as the
    index quantizer and trains the sub-codebooks on residuals against
    them; `pq_residual_topk_probe` then serves every coarse role — query
    probing, center-dot LUTs, reconstruction norms — from that one
    persisted row, so probe centers structurally cannot drift from the
    centers that drove assignment and encoding (the in-memory
    `ivfpq_residual_refined_recall` proved this configuration restores
    raw-vector recall parity; this query is its build-once serving
    shape). Same geometry as that recall harness (m=8×k=16 codes,
    KM_ITERS-refined nlist=16 cells), so the oracle replays the identical
    trained-quantizer residual ADC chain and the probe must reproduce its
    exact ranked top-k rows from parquet — NO Lloyd iteration at probe
    time (same monkeypatch pin as the raw-vector probes)."""
    index_dir = _ensure_pq_index(spark, sf_dir, residual_refined=True)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.pq_residual_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


#: the shared IVF-PQ ADC CTE chain (coarse assignment + probes +
#: codebooks/codes + the s-ordered ADC fold), ending at the scored
#: `adc` relation — composed into the recall harness below and into
#: the serving probes' top-k oracles (`SQL_ANN_TOPK_PQ_PROBE`,
#: `SQL_ANN_TOPK_PQ256_PROBE`). A factory because the production-budget
#: serving point (m=16, k=256) replays the same training at a different
#: subspace geometry — only the slice width, subspace count and seed
#: cutoff move (r14 VERDICT item 2).
def _sql_ivfpq_adc(
    m: int = PQ_M,
    k_codebook: int = PQ_K,
    ew_cte: str | None = None,
    e_sql: str | None = None,
    train_e_sql: str | None = None,
) -> str:
    """``ew_cte`` / ``e_sql`` substitute a different corpus for the
    coarse-IVF chain and the encode/query corpus; ``train_e_sql``
    additionally splits the TRAINING corpus from the encode corpus —
    the upserted-index oracle trains the sub-codebooks on the BASE
    corpus (FAISS `add` never retrains) and encodes the UPDATED one."""
    sub = EMB_DIM // m
    e_body = e_sql or "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    train_ctes, tr = "", "es"
    if train_e_sql is not None:
        tr = "ets"
        train_ctes = f"""et AS ({train_e_sql}),
ets AS (
  SELECT vec_id, s,
         list_slice(v, s * {sub} + 1, s * {sub} + {sub}) AS sv
  FROM et, generate_series(0, {m - 1}) t(s)
),
"""
    return f"""
{_sql_ivf_common(ew_cte)},
e AS ({e_body}),
es AS (
  SELECT vec_id, s,
         list_slice(v, s * {sub} + 1, s * {sub} + {sub}) AS sv
  FROM e, generate_series(0, {m - 1}) t(s)
),
{train_ctes}c0 AS (SELECT s, CAST(vec_id AS INTEGER) AS cell, sv AS cv FROM {tr}
       WHERE vec_id < {k_codebook}),
{_sql_pq_assign('pa1', 'c0', sub, src=tr)},
{_sql_pq_update('pc1', 'pa1', sub)},
{_sql_pq_assign('pa2', 'pc1', sub, src=tr)},
{_sql_pq_update('pc2', 'pa2', sub)},
{_sql_pq_assign('pa3', 'pc2', sub)},
probes AS (
  SELECT query_id, cell FROM (
    SELECT qe.vec_id AS query_id, s.seed_id AS cell,
           {_SQL_IVF_RANK.format(part="qe.vec_id", cos=_sql_scalar_cos("qe.x", "s.s", "qe.nrm", "s.snrm"))} AS rn
    FROM ew qe CROSS JOIN seeds s WHERE qe.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
pqq AS (SELECT vec_id AS query_id, v AS qv, {_sql_dot('v', 'v')} AS qn
        FROM e WHERE vec_id < {N_QUERIES}),
qsl AS (
  SELECT query_id, qn, s,
         list_slice(qv, s * {sub} + 1, s * {sub} + {sub}) AS qsv
  FROM pqq, generate_series(0, {m - 1}) t(s)
),
dlut AS (
  SELECT qsl.query_id, qsl.qn, qsl.s, c.cell,
         {_sql_dot('qsv', 'c.cv', sub)} AS dp
  FROM qsl JOIN pc2 c ON qsl.s = c.s
),
nlut AS (SELECT s, cell, {_sql_dot('cv', 'cv', sub)} AS np FROM pc2),
parts AS (
  SELECT d.query_id, a.vec_id AS cand_id, d.qn, a.s, d.dp, n.np
  FROM pa3 a
  JOIN assign0 ia ON ia.vec_id = a.vec_id
  JOIN dlut d ON d.s = a.s AND d.cell = a.cell
  JOIN nlut n ON n.s = a.s AND n.cell = a.cell
  JOIN probes pr ON pr.query_id = d.query_id AND pr.cell = ia.cell
  WHERE a.vec_id != d.query_id
),
folded AS (
  SELECT query_id, cand_id, max(qn) AS qn,
         list_reduce(list(dp ORDER BY s), (acc, x) -> acc + x) AS dps,
         list_reduce(list(np ORDER BY s), (acc, x) -> acc + x) AS nps
  FROM parts GROUP BY query_id, cand_id
),
adc AS (
  SELECT query_id, cand_id,
         round(dps / nullif(sqrt(qn * nps), 0), 6) AS cos_sim
  FROM folded
)"""


_SQL_IVFPQ_ADC = _sql_ivfpq_adc()

SQL_IVFPQ_RECALL = f"""{_SQL_IVFPQ_ADC},
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {TOPK}
),
{_SQL_RECALL_TAIL}"""

#: serving-probe oracle: the SAME ADC chain, emitting the ranked top-k
#: rows themselves — `q_ann_topk_pq_probe` must reproduce them from the
#: MATERIALIZED index (training replayed here, served from parquet there).
SQL_ANN_TOPK_PQ_PROBE = f"""{_SQL_IVFPQ_ADC}
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {TOPK}
"""

#: the production-budget serving oracle: the SAME chain at m=16, k=256.
def _ensure_pq_upsert_index(spark: SparkSession, sf_dir: str) -> str:
    """`_ensure_ivf_upsert_index`'s PQ twin: build the IVF-PQ index on
    the BASE corpus (training runs here, once), then upsert the CDC
    delta via `similarity.pq_index_upsert` — delta vectors coded with
    the PERSISTED codebooks, appended/replaced in their code cell
    partitions; no Lloyd, no retrain (monkeypatch-pinned). One identity
    marker describes the whole recipe."""
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    ident = {
        "src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
        "kind": "pq_upsert", "m": PQ_M, "k": PQ_K, "iters": PQ_ITERS,
        "nlist": IVF_NLIST,
        "chg": [UPS_CHG_MOD, UPS_CHG_SEL],
        "new": [UPS_NEW_MOD, UPS_NEW_SEL],
    }
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_dir = os.path.join(
        _ivf_cache_root(),
        f"{tag}_pqups_m{PQ_M}k{PQ_K}i{PQ_ITERS}nlist{IVF_NLIST}",
    )

    def _build(build_dir: str) -> None:
        base, delta = _upsert_frames(load_table(spark, sf_dir, "embeddings"))
        similarity.build_pq_index(
            spark, base, build_dir, m=PQ_M, k_codebook=PQ_K,
            iters=PQ_ITERS, dim=EMB_DIM, nlist=IVF_NLIST,
        )
        similarity.pq_index_upsert(spark, build_dir, delta)

    return _ensure_index(index_dir, ident, _build)


def q_ann_topk_pq_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_topk_pq_probe` against an IVF-PQ index maintained
    INCREMENTALLY (the PQ half of r17 VERDICT item 2): codebooks and
    coarse quantizer were trained ONCE on the base corpus; the CDC delta
    (added + edited vectors) arrived via `similarity.pq_index_upsert` —
    coarse-assigned against the persisted quantizer, coded by
    `pq_encode` against the persisted codebooks (FAISS `add` semantics:
    additions never retrain), merged into touched code-cell partitions
    only. The oracle trains the sub-codebooks on the BASE corpus and
    encodes/probes the UPDATED one (`_sql_ivfpq_adc(train_e_sql=...)`)
    — exactly what a rebuild-with-frozen-codebooks would serve, so a
    green row certifies upsert ≡ re-encode. The probe plan is the
    unchanged `pq_topk_probe` (broadcast LUTs + partition-pruned code
    scan, Lloyd-free)."""
    index_dir = _ensure_pq_upsert_index(spark, sf_dir)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.pq_topk_probe(
        spark, index_dir, queries, k=TOPK, nprobe=IVF_NPROBE
    )


_SQL_E_UPDATED = (
    f"SELECT vec_id, CASE WHEN vec_id >= {IVF_NLIST}"
    f" AND vec_id % {UPS_CHG_MOD} = {UPS_CHG_SEL}"
    f" THEN list_transform(v, x -> x + 0.5) ELSE v END AS v"
    f" FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
)
_SQL_E_BASE = (
    f"SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    f" WHERE NOT (vec_id >= {IVF_NLIST}"
    f" AND vec_id % {UPS_NEW_MOD} = {UPS_NEW_SEL})"
)

SQL_ANN_TOPK_PQ_UPSERT = f"""{_sql_ivfpq_adc(
    ew_cte=_sql_ew_upserted_cte(),
    e_sql=_SQL_E_UPDATED,
    train_e_sql=_SQL_E_BASE,
)}
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {TOPK}
"""


SQL_ANN_TOPK_PQ256_PROBE = f"""{_sql_ivfpq_adc(PQ256_M, PQ256_K)}
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {TOPK}
"""

#: refine shortlist: 4×TOPK ADC candidates per query re-scored exactly
RERANK_SHORT = 40


def q_ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serving — FAISS `IndexRefineFlat`'s search-then-refine,
    completing the ANN serving story: the ADC top-RERANK_SHORT shortlist
    from the materialized PQ index, re-scored by EXACT cosine against
    raw vectors served from the materialized IVF index's
    cell-partitioned files (probe-driven dynamic partition pruning; the
    corpus is never scanned), re-ranked to TOPK. Both indexes are
    build-once at the shared seed quantizer and nlist, so the shortlist
    candidates' raw vectors are guaranteed reachable in the probed
    cells (`pq_topk_rerank`'s cross-index invariant, pinned by test).
    Oracle: the PQ-ADC training replay ranked to RERANK_SHORT, exact
    cosine from the shared `ew` CTE, re-ranked — bit-for-bit."""
    pq_dir = _ensure_pq_index(spark, sf_dir)
    ivf_dir = _ensure_ivf_index(spark, sf_dir)
    queries = _query_slice(load_table(spark, sf_dir, "embeddings"))
    return similarity.pq_topk_rerank(
        spark, pq_dir, ivf_dir, queries,
        k=TOPK, k_short=RERANK_SHORT, nprobe=IVF_NPROBE,
    )


SQL_ANN_TOPK_PQ_RERANK = f"""{_SQL_IVFPQ_ADC},
rr_short AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {RERANK_SHORT}
),
rr_q AS (SELECT vec_id AS query_id, nrm AS qnrm, {_sql_x_as("q")}
         FROM ew WHERE vec_id < {N_QUERIES}),
rr_exact AS (
  SELECT s.query_id, s.cand_id,
         round({_sql_scalar_cos("q.q", "c.x", "q.qnrm", "c.nrm")}, 6)
           AS cos_sim
  FROM rr_short s
  JOIN rr_q q ON q.query_id = s.query_id
  JOIN ew c ON c.vec_id = s.cand_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM rr_exact
) WHERE rank <= {TOPK}
"""


def q_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of RESIDUAL-encoded IVF-PQ (FAISS IVFPQ's
    ``by_residual=true`` default): the same coarse probe and code budget
    as `q_ivfpq_recall`, but the sub-codebooks quantize ``v − center``
    so the whole budget spends on within-cell geometry. Read against
    `q_ivfpq_recall` (raw-vector codes) on the PERF.md reduction
    frontier, this isolates what residual encoding buys at a FIXED
    bytes/vector — the per-cell-LUT trade named in
    `similarity.ivfpq_adc_topk`'s docstring, measured. Same harness
    tail as the other recall queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.ivfpq_residual_adc_topk(
        emb, _query_slice(emb), m=PQ_M, k_codebook=PQ_K, iters=PQ_ITERS,
        dim=EMB_DIM, nlist=IVF_NLIST, nprobe=IVF_NPROBE, k=TOPK,
    )
    return _recall_at_k(spark, sf_dir, approx)


def q_ivfpq_residual_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_ivfpq_residual_recall` with the coarse quantizer Lloyd-REFINED
    (r14 VERDICT item 5, promoted from the `scale_probe.py
    residual_refined` measurement to a driver-checked query): the same
    KM_ITERS iterations `kmeans_refine` runs feed
    `ivfpq_residual_adc_topk(coarse_centers=...)`, so the SAME refined
    centers drive assignment, residual subtraction and query probing.
    This is the configuration FAISS's by_residual default actually
    assumes — a TRAINED quantizer — and the measured contrast is the
    round's frontier finding: seed centers 0.21/0.07 recall@10,
    refined centers 0.44/0.31 (raw-vector parity) at 500/2k vectors.
    Oracle: the `kmeans_refine` Lloyd replay composed into the residual
    ADC chain (refined centers as the seeds relation), bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    refined = similarity.kmeans_centroids(emb, k=IVF_NLIST, iters=KM_ITERS)
    approx = similarity.ivfpq_residual_adc_topk(
        emb, _query_slice(emb), m=PQ_M, k_codebook=PQ_K, iters=PQ_ITERS,
        dim=EMB_DIM, nlist=IVF_NLIST, nprobe=IVF_NPROBE, k=TOPK,
        coarse_centers=refined,
    )
    return _recall_at_k(spark, sf_dir, approx)


def _sql_sqsum(a: str, b: str, width: int | None = None) -> str:
    """``Σ (a[i] + b[i])²`` in the module's unrolled left-fold term order
    — the oracle twin of ``sq_norm(zip_with(a, b, +))`` (the residual
    norm-LUT partial: |center_s + cv|²)."""
    terms = " + ".join(
        f"({a}[{i}] + {b}[{i}]) * ({a}[{i}] + {b}[{i}])"
        for i in range(1, (width or EMB_DIM) + 1)
    )
    return f"(0.0 + {terms})"


#: residual IVF-PQ oracle: the coarse chain (`_sql_ivf_common`), then the
#: SAME PQ Lloyd replay as `SQL_PQ_RECALL` but with `es` built from
#: RESIDUAL slices (rv = v − center, elementwise — list_transform keeps
#: the per-component float op identical to Spark's zip_with), per-cell
#: center LUTs (`dlutc`, probed cells only) and the (cell, s, code) norm
#: LUT (`nlutr`), folded s-ordered exactly as `_adc_fold_rank`.
SQL_IVFPQ_RESIDUAL_RECALL = f"""
{_sql_ivf_common()},
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
rve AS (
  SELECT a.vec_id, list_transform(generate_series(1, {EMB_DIM}),
                                  i -> ev.v[i] - c.v[i]) AS rv
  FROM assign0 a
  JOIN e ev ON ev.vec_id = a.vec_id
  JOIN e c ON c.vec_id = a.cell
),
es AS (
  SELECT vec_id, s,
         list_slice(rv, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS sv
  FROM rve, generate_series(0, {PQ_M - 1}) t(s)
),
c0 AS (SELECT s, CAST(vec_id AS INTEGER) AS cell, sv AS cv FROM es
       WHERE vec_id < {PQ_K}),
{_sql_pq_assign('pa1', 'c0')},
{_sql_pq_update('pc1', 'pa1')},
{_sql_pq_assign('pa2', 'pc1')},
{_sql_pq_update('pc2', 'pa2')},
{_sql_pq_assign('pa3', 'pc2')},
csub AS (
  SELECT c.vec_id AS ivf_cell, t.s,
         list_slice(c.v, t.s * {_PQ_SUB} + 1, t.s * {_PQ_SUB} + {_PQ_SUB}) AS csv
  FROM e c, generate_series(0, {PQ_M - 1}) t(s)
  WHERE c.vec_id < {IVF_NLIST}
),
nlutr AS (
  SELECT cs.ivf_cell, cs.s, pc.cell AS code,
         {_sql_sqsum('cs.csv', 'pc.cv', _PQ_SUB)} AS np
  FROM csub cs JOIN pc2 pc ON pc.s = cs.s
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT qe.vec_id AS query_id, s.seed_id AS cell,
           {_SQL_IVF_RANK.format(part="qe.vec_id", cos=_sql_scalar_cos("qe.x", "s.s", "qe.nrm", "s.snrm"))} AS rn
    FROM ew qe CROSS JOIN seeds s WHERE qe.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
pqq AS (SELECT vec_id AS query_id, v AS qv, {_sql_dot('v', 'v')} AS qn
        FROM e WHERE vec_id < {N_QUERIES}),
qsl AS (
  SELECT query_id, qn, s,
         list_slice(qv, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS qsv
  FROM pqq, generate_series(0, {PQ_M - 1}) t(s)
),
dlutr AS (
  SELECT qsl.query_id, qsl.qn, qsl.s, pc.cell AS code,
         {_sql_dot('qsv', 'pc.cv', _PQ_SUB)} AS dpr
  FROM qsl JOIN pc2 pc ON qsl.s = pc.s
),
dlutc AS (
  SELECT p.query_id, p.cell AS ivf_cell, qsl.s,
         {_sql_dot('qsl.qsv', 'cs.csv', _PQ_SUB)} AS dpc
  FROM probes p
  JOIN qsl ON qsl.query_id = p.query_id
  JOIN csub cs ON cs.ivf_cell = p.cell AND cs.s = qsl.s
),
parts AS (
  SELECT dr.query_id, a.vec_id AS cand_id, dr.qn, a.s,
         (dc.dpc + dr.dpr) AS dp, n.np
  FROM pa3 a
  JOIN assign0 ia ON ia.vec_id = a.vec_id
  JOIN probes pr ON pr.cell = ia.cell
  JOIN dlutc dc ON dc.query_id = pr.query_id AND dc.ivf_cell = ia.cell
               AND dc.s = a.s
  JOIN dlutr dr ON dr.query_id = pr.query_id AND dr.s = a.s
               AND dr.code = a.cell
  JOIN nlutr n ON n.ivf_cell = ia.cell AND n.s = a.s AND n.code = a.cell
  WHERE a.vec_id != dr.query_id
),
folded AS (
  SELECT query_id, cand_id, max(qn) AS qn,
         list_reduce(list(dp ORDER BY s), (acc, x) -> acc + x) AS dps,
         list_reduce(list(np ORDER BY s), (acc, x) -> acc + x) AS nps
  FROM parts GROUP BY query_id, cand_id
),
adc AS (
  SELECT query_id, cand_id,
         round(dps / nullif(sqrt(qn * nps), 0), 6) AS cos_sim
  FROM folded
),
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {TOPK}
),
{_SQL_RECALL_TAIL}"""


#: the refined-quantizer residual oracle: the `kmeans_refine` Lloyd replay
#: (KM_ITERS unrolled assign/update rounds, quantized-BIGINT means) feeds
#: the SAME residual ADC chain as `SQL_IVFPQ_RESIDUAL_RECALL`, with the
#: refined kc2 centers standing in for the corpus-vector seeds in all
#: three coarse roles (assignment, residual subtraction, query probing).
#: ``tail`` picks the emitted relation: the recall harness aggregate
#: ("recall") or the ranked top-k rows themselves ("topk" — the serving
#: oracle `q_ann_topk_pq_refined_probe` must reproduce from the
#: MATERIALIZED residual index, training replayed here, served from
#: parquet there — the same split as `SQL_ANN_TOPK_PQ_PROBE`).
def _sql_ivfpq_residual_refined(tail: str = "recall") -> str:
    scols = ", ".join(f"cv[{i}] AS s{i}" for i in range(1, EMB_DIM + 1))
    cos_es = _sql_scalar_cos("e.x", "s.s", "e.nrm", "s.snrm")
    return f"""
WITH {_sql_ew_cte()},
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kc0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e
        WHERE vec_id < {IVF_NLIST}),
{_sql_km_assign('ka1', 'kc0')},
{_sql_km_update('kc1', 'ka1')},
{_sql_km_assign('ka2', 'kc1')},
{_sql_km_update('kc2', 'ka2')},
seeds AS (SELECT CAST(cell AS BIGINT) AS seed_id,
                 {_sql_dot('cv', 'cv')} AS snrm, {scols}
          FROM kc2),
assign0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.seed_id AS cell,
           {_SQL_IVF_RANK.format(part="e.vec_id", cos=cos_es)} AS rn
    FROM ew e CROSS JOIN seeds s
  ) WHERE rn = 1
),
rve AS (
  SELECT a.vec_id, list_transform(generate_series(1, {EMB_DIM}),
                                  i -> ev.v[i] - c.cv[i]) AS rv
  FROM assign0 a
  JOIN e ev ON ev.vec_id = a.vec_id
  JOIN kc2 c ON c.cell = a.cell
),
es AS (
  SELECT vec_id, s,
         list_slice(rv, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS sv
  FROM rve, generate_series(0, {PQ_M - 1}) t(s)
),
pq0 AS (SELECT s, CAST(vec_id AS INTEGER) AS cell, sv AS cv FROM es
        WHERE vec_id < {PQ_K}),
{_sql_pq_assign('pa1', 'pq0')},
{_sql_pq_update('pc1', 'pa1')},
{_sql_pq_assign('pa2', 'pc1')},
{_sql_pq_update('pc2', 'pa2')},
{_sql_pq_assign('pa3', 'pc2')},
csub AS (
  SELECT CAST(c.cell AS BIGINT) AS ivf_cell, t.s,
         list_slice(c.cv, t.s * {_PQ_SUB} + 1, t.s * {_PQ_SUB} + {_PQ_SUB}) AS csv
  FROM kc2 c, generate_series(0, {PQ_M - 1}) t(s)
),
nlutr AS (
  SELECT cs.ivf_cell, cs.s, pc.cell AS code,
         {_sql_sqsum('cs.csv', 'pc.cv', _PQ_SUB)} AS np
  FROM csub cs JOIN pc2 pc ON pc.s = cs.s
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT qe.vec_id AS query_id, s.seed_id AS cell,
           {_SQL_IVF_RANK.format(part="qe.vec_id", cos=_sql_scalar_cos("qe.x", "s.s", "qe.nrm", "s.snrm"))} AS rn
    FROM ew qe CROSS JOIN seeds s WHERE qe.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
pqq AS (SELECT vec_id AS query_id, v AS qv, {_sql_dot('v', 'v')} AS qn
        FROM e WHERE vec_id < {N_QUERIES}),
qsl AS (
  SELECT query_id, qn, s,
         list_slice(qv, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS qsv
  FROM pqq, generate_series(0, {PQ_M - 1}) t(s)
),
dlutr AS (
  SELECT qsl.query_id, qsl.qn, qsl.s, pc.cell AS code,
         {_sql_dot('qsv', 'pc.cv', _PQ_SUB)} AS dpr
  FROM qsl JOIN pc2 pc ON qsl.s = pc.s
),
dlutc AS (
  SELECT p.query_id, p.cell AS ivf_cell, qsl.s,
         {_sql_dot('qsl.qsv', 'cs.csv', _PQ_SUB)} AS dpc
  FROM probes p
  JOIN qsl ON qsl.query_id = p.query_id
  JOIN csub cs ON cs.ivf_cell = p.cell AND cs.s = qsl.s
),
parts AS (
  SELECT dr.query_id, a.vec_id AS cand_id, dr.qn, a.s,
         (dc.dpc + dr.dpr) AS dp, n.np
  FROM pa3 a
  JOIN assign0 ia ON ia.vec_id = a.vec_id
  JOIN probes pr ON pr.cell = ia.cell
  JOIN dlutc dc ON dc.query_id = pr.query_id AND dc.ivf_cell = ia.cell
               AND dc.s = a.s
  JOIN dlutr dr ON dr.query_id = pr.query_id AND dr.s = a.s
               AND dr.code = a.cell
  JOIN nlutr n ON n.ivf_cell = ia.cell AND n.s = a.s AND n.code = a.cell
  WHERE a.vec_id != dr.query_id
),
folded AS (
  SELECT query_id, cand_id, max(qn) AS qn,
         list_reduce(list(dp ORDER BY s), (acc, x) -> acc + x) AS dps,
         list_reduce(list(np ORDER BY s), (acc, x) -> acc + x) AS nps
  FROM parts GROUP BY query_id, cand_id
),
adc AS (
  SELECT query_id, cand_id,
         round(dps / nullif(sqrt(qn * nps), 0), 6) AS cos_sim
  FROM folded
){_RESIDUAL_REFINED_TAILS[tail]}"""


#: the two tails `_sql_ivfpq_residual_refined` composes onto its shared
#: chain-to-`adc`: the recall aggregate and the ranked serving top-k.
_RESIDUAL_REFINED_TAILS = {
    "recall": f""",
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {TOPK}
),
{_SQL_RECALL_TAIL}""",
    "topk": f"""
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {TOPK}
""",
}


SQL_IVFPQ_RESIDUAL_REFINED_RECALL = _sql_ivfpq_residual_refined()
SQL_ANN_TOPK_PQ_REFINED_PROBE = _sql_ivfpq_residual_refined("topk")


#: refined-quantizer IVF probe oracle (r15 VERDICT item 2's plain-IVF
#: leg): the `kmeans_refine` Lloyd replay (same kc2 chain as the residual
#: oracle) supplies the seeds relation, then the raw-cosine IVF probe
#: chain of `SQL_ANN_TOPK_IVF` — assignment, probing and scoring all at
#: the refined centers, ranked top-k tail.
def _sql_ann_topk_ivf_refined() -> str:
    scols = ", ".join(f"cv[{i}] AS s{i}" for i in range(1, EMB_DIM + 1))
    cos_es = _sql_scalar_cos("e.x", "s.s", "e.nrm", "s.snrm")
    xcols = ", ".join(f"e.x{i}" for i in range(1, EMB_DIM + 1))
    return f"""
WITH {_sql_ew_cte()},
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kc0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e
        WHERE vec_id < {IVF_NLIST}),
{_sql_km_assign('ka1', 'kc0')},
{_sql_km_update('kc1', 'ka1')},
{_sql_km_assign('ka2', 'kc1')},
{_sql_km_update('kc2', 'ka2')},
seeds AS (SELECT CAST(cell AS BIGINT) AS seed_id,
                 {_sql_dot('cv', 'cv')} AS snrm, {scols}
          FROM kc2),
assign0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.seed_id AS cell,
           {_SQL_IVF_RANK.format(part="e.vec_id", cos=cos_es)} AS rn
    FROM ew e CROSS JOIN seeds s
  ) WHERE rn = 1
),
assign AS (
  SELECT a.vec_id, e.nrm, {xcols}, a.cell
  FROM assign0 a JOIN ew e ON e.vec_id = a.vec_id
),
probes AS (
  SELECT p.query_id, e.nrm AS qnrm, {_sql_x_as("q")}, p.cell
  FROM (
    SELECT query_id, cell FROM (
      SELECT q.vec_id AS query_id, s.seed_id AS cell,
             {_SQL_IVF_RANK.format(part="q.vec_id", cos=_sql_scalar_cos("q.x", "s.s", "q.nrm", "s.snrm"))} AS rn
      FROM ew q CROSS JOIN seeds s WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}
  ) p JOIN ew e ON e.vec_id = p.query_id
),
scored AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         round({_sql_scalar_cos("p.q", "a.x", "p.qnrm", "a.nrm")}, 6) AS cos_sim
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


SQL_ANN_TOPK_IVF_REFINED_PROBE = _sql_ann_topk_ivf_refined()


SPECS = {
    "token_stats": QuerySpec(
        q_token_stats, SQL_TOKEN_STATS, "per-doc token counting + type-token ratio", ("text",)
    ),
    "lang_id": QuerySpec(
        q_lang_id, SQL_LANG_ID, "stopword-ratio language-ID heuristic", ("text",)
    ),
    "doc_quality": QuerySpec(
        q_doc_quality, SQL_DOC_QUALITY, "structural quality scoring", ("text",)
    ),
    "doc_fingerprint": QuerySpec(
        q_doc_fingerprint,
        SQL_DOC_FINGERPRINT,
        "md5 fingerprint over normalized text",
        ("text", "dedup"),
    ),
    "exact_dedup": QuerySpec(
        q_exact_dedup, SQL_EXACT_DEDUP, "exact dedup groups via hash-groupBy", ("dedup",)
    ),
    "minhash_signatures": QuerySpec(
        q_minhash_signatures,
        SQL_MINHASH_SIGNATURES,
        "8-hash MinHash signature over word 3-gram shingles",
        ("dedup",),
    ),
    "minhash_lsh_pairs": QuerySpec(
        q_minhash_lsh_pairs,
        SQL_MINHASH_LSH_PAIRS,
        "LSH banding candidate pairs (4 bands × 2 hashes)",
        ("dedup",),
    ),
    "neardup_verified": QuerySpec(
        q_neardup_verified,
        SQL_NEARDUP_VERIFIED,
        "end-to-end dedup: LSH candidates → Jaccard verify → canonical ids",
        ("dedup",),
    ),
    "ngram_jaccard_pairs": QuerySpec(
        q_ngram_jaccard_pairs,
        SQL_NGRAM_JACCARD_PAIRS,
        "exact n-gram Jaccard near-dup pairs within single-MinHash LSH blocks",
        ("dedup",),
    ),
    "simhash": QuerySpec(
        q_simhash, SQL_SIMHASH, "32-bit SimHash over token multiset", ("dedup",)
    ),
    "doc_winnow": QuerySpec(
        q_doc_winnow,
        SQL_DOC_WINNOW,
        "rolling-window fingerprints with mod-p sampling (winnowing style)",
        ("dedup", "text"),
    ),
    "doc_scrub": QuerySpec(
        q_doc_scrub,
        SQL_DOC_SCRUB,
        "text cleaning: lowercase, digit-run masking, whitespace normalize",
        ("text",),
    ),
    "doc_length_quantiles": QuerySpec(
        q_doc_length_quantiles,
        SQL_DOC_LENGTH_QUANTILES,
        "exact rank-based corpus length quantiles (p50/p90/p99)",
        ("text", "agg"),
    ),
    "vocab_topk": QuerySpec(
        q_vocab_topk,
        SQL_VOCAB_TOPK,
        "corpus vocabulary heavy hitters with document frequency",
        ("text",),
    ),
    "token_len_histogram": QuerySpec(
        q_token_len_histogram,
        SQL_TOKEN_LEN_HISTOGRAM,
        "document-length distribution in fixed-width token buckets",
        ("text",),
    ),
    "tfidf_topk": QuerySpec(
        q_tfidf_topk,
        SQL_TFIDF_TOPK,
        "top-k characteristic terms per doc by tf x rational idf",
        ("text",),
    ),
    "ann_topk": QuerySpec(
        q_ann_topk,
        SQL_ANN_TOPK,
        "brute-force cosine top-k neighbors (ANN exactness baseline)",
        ("similarity", "bench"),
    ),
    "embedding_neardup": QuerySpec(
        q_embedding_neardup,
        SQL_EMBEDDING_NEARDUP,
        "embedding-cosine near-dup pairs above threshold",
        ("similarity", "dedup"),
    ),
    "embedding_centroids": QuerySpec(
        q_embedding_centroids,
        SQL_EMBEDDING_CENTROIDS,
        "per-label embedding centroids (IVF coarse-quantizer construction)",
        ("similarity", "agg"),
    ),
    "weighted_sample_k": QuerySpec(
        q_weighted_sample_k,
        SQL_WEIGHTED_SAMPLE_K,
        "Efraimidis-Spirakis weighted sample without replacement, k per "
        "source (hash-deterministic, WindowGroupLimit top-k)",
        ("documents", "window"),
    ),
    "cms_heavy_hitters": QuerySpec(
        q_cms_heavy_hitters,
        SQL_CMS_HEAVY_HITTERS,
        "Count-Min sketch heavy hitters: d x w mergeable counter table, "
        "min-of-rows estimates vs exact truth (never underestimates)",
        ("documents", "agg"),
    ),
    "sample_k_per_group": QuerySpec(
        q_sample_k_per_group,
        SQL_SAMPLE_K_PER_GROUP,
        "exact-k deterministic uniform sample per source (hash rank + "
        "WindowGroupLimit): the eval-holdout primitive",
        ("documents", "window"),
    ),
    "stratified_sample": QuerySpec(
        q_stratified_sample,
        SQL_STRATIFIED_SAMPLE,
        "deterministic hash-threshold mixture sampling per language",
        ("text", "sampling"),
    ),
    "sequence_packing": QuerySpec(
        q_sequence_packing,
        SQL_SEQUENCE_PACKING,
        "concat-and-chunk packing offsets per doc: one window cumsum per shard",
        ("text", "window"),
    ),
    "doc_repetition": QuerySpec(
        q_doc_repetition,
        SQL_DOC_REPETITION,
        "Gopher-style repetition filters: top-bigram + duplicate-trigram fractions",
        ("text", "agg"),
    ),
    "mixture_weights": QuerySpec(
        q_mixture_weights,
        SQL_MIXTURE_WEIGHTS,
        "per-source token shares + uniform-mixture sampling rates",
        ("text", "agg"),
    ),
    "mixture_resample": QuerySpec(
        q_mixture_resample,
        SQL_MIXTURE_RESAMPLE,
        "uniform-mixture rates APPLIED: data-dependent hash-threshold "
        "resample, kept docs per source",
        ("text", "sampling"),
    ),
    "unigram_prob": QuerySpec(
        q_unigram_prob,
        SQL_UNIGRAM_PROB,
        "corpus unigram-LM doc scoring (mean/min token probability, "
        "integer-exact until one final division)",
        ("text", "agg"),
    ),
    "dup_span_stats": QuerySpec(
        q_dup_span_stats,
        SQL_DUP_SPAN_STATS,
        "substring-level dedup profile: per-doc fraction of 20-token spans "
        "occurring >=2x corpus-wide",
        ("text", "dedup"),
    ),
    "decontaminate_overlap": QuerySpec(
        q_decontaminate,
        SQL_DECONTAMINATE,
        "benchmark decontamination: 5-gram overlap vs a broadcast eval-probe set",
        ("text", "join"),
    ),
    "bloom_decontaminate": QuerySpec(
        q_bloom_decontaminate,
        SQL_BLOOM_DECONTAMINATE,
        "Bloom-prefiltered decontamination: 4KB broadcast filter, map-only "
        "membership, measured false-positive price vs the exact join",
        ("text", "sketch", "bench"),
    ),
    "bloom_decontaminate_probe": QuerySpec(
        q_bloom_decontaminate_probe,
        SQL_BLOOM_DECONTAMINATE_PROBE,
        "decontamination served from the PERSISTED Bloom filter: no "
        "eval-set re-shingle, no filter re-fold — broadcast artifact + "
        "pure map-work membership + one per-doc rollup",
        ("text", "sketch"),
    ),
    "dedup_after_delete": QuerySpec(
        q_dedup_after_delete,
        SQL_DEDUP_AFTER_DELETE,
        "deletion-aware incremental dedup: canonical re-election scoped "
        "to the deleted docs' fingerprints only (retired / reelected / "
        "canon_kept), oracle = full recompute on the post-delete corpus",
        ("dedup", "incremental"),
    ),
    "snapshot_delta": QuerySpec(
        q_snapshot_delta,
        SQL_SNAPSHOT_DELTA,
        "CDC snapshot diff: added/removed/changed/unchanged rollup with "
        "bit_xor membership fingerprints",
        ("text", "join", "bench"),
    ),
    "incremental_dedup": QuerySpec(
        q_incremental_dedup,
        SQL_INCREMENTAL_DEDUP,
        "delta-run dedup: added/changed docs classified against the "
        "carried-over corpus's fingerprint index — work proportional to "
        "the delta, never the corpus",
        ("text", "dedup", "bench"),
    ),
    "manifest_delta": QuerySpec(
        q_manifest_delta,
        SQL_MANIFEST_DELTA,
        "two-level snapshot diff: per-shard manifest fingerprints certify "
        "clean shards, the row-level full-outer diff runs only inside "
        "dirty shards — snapshot_delta's scale path",
        ("text", "join", "bench"),
    ),
    "ann_topk_pq_rerank": QuerySpec(
        q_ann_topk_pq_rerank,
        SQL_ANN_TOPK_PQ_RERANK,
        "two-stage ANN serving (FAISS search-then-refine): ADC shortlist "
        "from the PQ index, exact-cosine re-rank against raw vectors "
        "served partition-pruned from the IVF index — no corpus scan",
        ("similarity", "topk"),
    ),
    "manifest_delta_probe": QuerySpec(
        q_manifest_delta_probe,
        SQL_MANIFEST_DELTA,
        "manifest_delta served from persisted old-side CDC state: level 1 "
        "reads N_SHARDS rows, level 2's old side is shard-partition-pruned "
        "digest files, the new side is one payload scan — the deployment "
        "shape where the two-level diff structurally beats the row diff",
        ("text", "join"),
    ),
    "curation_kept": QuerySpec(
        q_curation_kept,
        SQL_CURATION_KEPT,
        "end-to-end curation: canonical + language + quality + token budget",
        ("text", "dedup", "bench"),
    ),
    "subword_stats": QuerySpec(
        q_subword_stats,
        SQL_SUBWORD_STATS,
        "BPE-ish pretokenizer counts + fertility vs whitespace tokens",
        ("text",),
    ),
    "bpe_merges": QuerySpec(
        q_bpe_merges,
        SQL_BPE_MERGES,
        "distributed BPE tokenizer training: first 8 learned merges from "
        "vocab-scale pair aggregates + exact greedy row-local merge",
        ("text", "bench"),
    ),
    "bpe_encode_stats": QuerySpec(
        q_bpe_encode_stats,
        SQL_BPE_ENCODE_STATS,
        "the trained BPE tokenizer applied: corpus fertility, encoded "
        "vocab size, and effective subword vocabulary after 8 merges",
        ("text",),
    ),
    "ivf_assign": QuerySpec(
        q_ivf_assign,
        SQL_IVF_ASSIGN,
        "IVF inverted-list cell assignment (index build, one linear pass)",
        ("similarity",),
    ),
    "ann_topk_ivf": QuerySpec(
        q_ann_topk_ivf,
        SQL_ANN_TOPK_IVF,
        "IVF-probed approximate top-k (nprobe nearest cells, exact re-rank)",
        ("similarity", "bench"),
    ),
    "ann_topk_ivf_probe": QuerySpec(
        q_ann_topk_ivf_probe,
        SQL_ANN_TOPK_IVF,
        "IVF top-k against the materialized cell-partitioned index "
        "(build-once deployment mode; dynamic partition pruning on probe)",
        ("similarity", "bench"),
    ),
    "ivf_index_upsert_probe": QuerySpec(
        q_ivf_index_upsert_probe,
        SQL_IVF_INDEX_UPSERT,
        "IVF top-k against an INCREMENTALLY maintained index (CDC delta "
        "upserted against the persisted quantizer — no Lloyd, no rebuild; "
        "oracle = full rebuild of the updated corpus)",
        ("similarity", "bench"),
    ),
    "ann_recall_ivf": QuerySpec(
        q_ann_recall_ivf,
        SQL_ANN_RECALL_IVF,
        "ANN quality eval: IVF recall@k vs the brute-force exact top-k in "
        "one plan (integer-exact summary)",
        ("similarity",),
    ),
    "lsh_bucket": QuerySpec(
        q_lsh_bucket,
        SQL_LSH_BUCKET,
        "16-plane sign-random-hyperplane LSH bucket per vector",
        ("similarity",),
    ),
    "lsh_neardup_pairs": QuerySpec(
        q_lsh_neardup,
        SQL_LSH_NEARDUP,
        "near-dup pairs within LSH buckets (linear-scale candidate path)",
        ("similarity", "dedup"),
    ),
    "minhash_accuracy": QuerySpec(
        q_minhash_accuracy,
        SQL_MINHASH_ACCURACY,
        "MinHash-estimated vs exact Jaccard error over LSH candidate pairs",
        ("dedup", "eval"),
    ),
    "semdedup_kept": QuerySpec(
        q_semdedup_kept,
        _sql_semdedup(),
        "SemDeDup: cell-scoped cosine screening, survivors per IVF cell",
        ("dedup", "similarity"),
    ),
    "semdedup_kept_probe": QuerySpec(
        q_semdedup_kept_probe,
        _sql_semdedup(),
        "SemDeDup on the build-once IVF index: no corpus re-assignment",
        ("dedup", "similarity"),
    ),
    "bigram_prob": QuerySpec(
        q_bigram_prob,
        SQL_BIGRAM_PROB,
        "corpus bigram-LM doc scoring: mean/min p(w2|w1), integer-exact",
        ("text", "window"),
    ),
    "token_diversity": QuerySpec(
        q_token_diversity,
        SQL_TOKEN_DIVERSITY,
        "per-source Simpson diversity (integer-exact; entropy needs logs)",
        ("text", "agg"),
    ),
    "quality_filter_funnel": QuerySpec(
        q_quality_filter_funnel,
        SQL_QUALITY_FILTER_FUNNEL,
        "curation funnel: cumulative survivor counts per filter stage",
        ("text", "agg"),
    ),
    "chunk_boilerplate": QuerySpec(
        q_chunk_boilerplate,
        SQL_CHUNK_BOILERPLATE,
        "CCNet paragraph-dedup at 10-token-chunk granularity: one fp "
        "exchange, ordered re-assembly, linear",
        ("text", "dedup"),
    ),
    "perplexity_buckets": QuerySpec(
        q_perplexity_buckets,
        SQL_PERPLEXITY_BUCKETS,
        "CCNet head/middle/tail LM tiers via bounded-grid histogram "
        "quantiles (never a doc-row window)",
        ("text", "agg"),
    ),
    "pii_scrub": QuerySpec(
        q_pii_scrub,
        SQL_PII_SCRUB,
        "PII counts + sequential redaction fingerprint: map-only scan, "
        "portable-regex span parity",
        ("text",),
    ),
    "kmeans_refine": QuerySpec(
        q_kmeans_refine,
        SQL_KMEANS_REFINE,
        "two Lloyd iterations + evaluation assign; quantized order-proof "
        "centroid means, broadcast-per-iteration",
        ("similarity", "agg"),
    ),
    "readability": QuerySpec(
        q_readability,
        SQL_READABILITY,
        "Flesch reading-ease from codegen regex counts (words, sentences, "
        "vowel-group syllables); map-only, engine-identical",
        ("text",),
    ),
    "dedup_cluster_sizes": QuerySpec(
        q_dedup_cluster_sizes,
        SQL_DEDUP_CLUSTER_SIZES,
        "near-dup component size histogram incl. singletons (sum identity "
        "= n_docs)",
        ("dedup", "agg"),
    ),
    "ngram_novelty": QuerySpec(
        q_ngram_novelty,
        SQL_NGRAM_NOVELTY,
        "per-doc fraction of shingles unseen in earlier docs: the "
        "diminishing-returns curve, one scan, linear",
        ("text", "dedup", "window"),
    ),
    "embedding_norm_audit": QuerySpec(
        q_embedding_norm_audit,
        SQL_EMBEDDING_NORM_AUDIT,
        "unit-norm contract audit: off-unit + zero-vector counts, "
        "decimal-exact mean norm; map-only + 1-row stats",
        ("similarity", "agg"),
    ),
    "containment_pairs": QuerySpec(
        q_containment_pairs,
        SQL_CONTAINMENT_PAIRS,
        "asymmetric shingle containment over LSH candidates: catches "
        "embedded near-supersets symmetric Jaccard dilutes",
        ("text", "dedup"),
    ),
    "editdist_verify": QuerySpec(
        q_editdist_verify,
        SQL_EDITDIST_VERIFY,
        "Levenshtein verification of LSH candidates: the O(len^2)-per-pair "
        "verifier bounded to banding collisions, no UDF",
        ("text", "dedup"),
    ),
    "shard_manifest": QuerySpec(
        q_shard_manifest,
        SQL_SHARD_MANIFEST,
        "deterministic hash-shard export manifest: per-shard counts, token "
        "totals, ordered member fingerprint",
        ("text", "agg"),
    ),
    "cluster_best_doc": QuerySpec(
        q_cluster_best_doc,
        SQL_CLUSTER_BEST_DOC,
        "best-quality representative per verified near-dup cluster "
        "(canonicalize by quality; one cluster-key exchange)",
        ("text", "dedup", "window"),
    ),
    "source_kl": QuerySpec(
        q_source_kl,
        SQL_SOURCE_KL,
        "per-source KL(source||corpus) over hashed-unigram features: the "
        "domain-shift measurement behind mixture rebalancing",
        ("text", "agg"),
    ),
    "dsir_weights": QuerySpec(
        q_dsir_weights,
        SQL_DSIR_WEIGHTS,
        "DSIR hashed-n-gram importance weights: one scan, broadcast "
        "log-ratio table, decimal-exact doc scores",
        ("text", "agg"),
    ),
    "sq8_recall": QuerySpec(
        q_sq8_recall,
        SQL_SQ8_RECALL,
        "recall@k after int8 scalar quantization vs exact top-k (the "
        "compressed-embeddings deployment question, measured)",
        ("similarity", "agg"),
    ),
    "pq_recall": QuerySpec(
        q_pq_recall,
        SQL_PQ_RECALL,
        "recall@k of product quantization (8x4-bit codes, 128x smaller): "
        "per-subspace Lloyd codebooks + asymmetric-distance LUT scan",
        ("similarity", "agg"),
    ),
    "ivfpq_recall": QuerySpec(
        q_ivfpq_recall,
        SQL_IVFPQ_RECALL,
        "recall@k of IVF-PQ (the FAISS-IVFPQ deployment composition): "
        "coarse-cell probe prunes the scan, PQ ADC scores the code rows",
        ("similarity", "agg"),
    ),
    "pq256_recall": QuerySpec(
        q_pq256_recall,
        SQL_PQ256_RECALL,
        "recall@k of PQ at the production 8-bit code budget (k=256 "
        "sub-codebooks, FAISS default): the measured 4-bit-vs-8-bit trade",
        ("similarity", "agg"),
    ),
    "ivfpq_residual_recall": QuerySpec(
        q_ivfpq_residual_recall,
        SQL_IVFPQ_RESIDUAL_RECALL,
        "recall@k of residual-encoded IVF-PQ (FAISS by_residual default): "
        "codes quantize v - center, per-cell LUTs, same bytes/vector",
        ("similarity", "agg"),
    ),
    "ivfpq_residual_refined_recall": QuerySpec(
        q_ivfpq_residual_refined_recall,
        SQL_IVFPQ_RESIDUAL_REFINED_RECALL,
        "residual IVF-PQ recall with a Lloyd-REFINED coarse quantizer — "
        "the trained-quantizer configuration by_residual assumes; the "
        "measured contrast with the seed-center row is the r15 frontier "
        "finding (0.21 -> 0.44 recall@10)",
        ("similarity", "agg"),
    ),
    "ann_topk_pq_probe": QuerySpec(
        q_ann_topk_pq_probe,
        SQL_ANN_TOPK_PQ_PROBE,
        "IVF-PQ serving probe against the build-once materialized index: "
        "broadcast codebook LUTs + dynamic-partition-pruned ADC code scan, "
        "no inline training",
        ("similarity", "topk"),
    ),
    "ann_topk_pq_upsert_probe": QuerySpec(
        q_ann_topk_pq_upsert_probe,
        SQL_ANN_TOPK_PQ_UPSERT,
        "IVF-PQ probe against an INCREMENTALLY maintained index: CDC "
        "delta coded with the persisted codebooks (FAISS add semantics, "
        "no retrain); oracle trains on base, encodes the updated corpus",
        ("similarity", "topk"),
    ),
    "ann_topk_pq256_probe": QuerySpec(
        q_ann_topk_pq256_probe,
        SQL_ANN_TOPK_PQ256_PROBE,
        "IVF-PQ serving probe at the production budget (m=16 x 8-bit "
        "codes, the first frontier point with recall@10 >= 0.8): same "
        "build-once index + pruned ADC scan, no inline training",
        ("similarity", "topk"),
    ),
    "ann_topk_pq_refined_probe": QuerySpec(
        q_ann_topk_pq_refined_probe,
        SQL_ANN_TOPK_PQ_REFINED_PROBE,
        "residual IVF-PQ serving probe from a materialized index built at "
        "a Lloyd-refined coarse quantizer (the configuration the r15 "
        "frontier proved by_residual needs): persisted refined centers "
        "drive assignment, encoding AND probing, no inline training",
        ("similarity", "topk"),
    ),
    "ann_topk_ivf_refined_probe": QuerySpec(
        q_ann_topk_ivf_refined_probe,
        SQL_ANN_TOPK_IVF_REFINED_PROBE,
        "plain-IVF serving probe from a materialized index whose inverted "
        "lists were assigned by a Lloyd-refined coarse quantizer; the "
        "persisted refined centers row is the probe quantizer, training "
        "only in the build",
        ("similarity", "topk"),
    ),
    "quality_classifier": QuerySpec(
        q_quality_classifier,
        SQL_QUALITY_CLASSIFIER,
        "fastText-style model-based quality filter: hashed-unigram linear "
        "model trained by unrolled distributed gradient steps on the "
        "stopword-heuristic labels (heuristic distillation), corpus scored "
        "by the trained model — quantized BIGINT folds, algebraic sigmoid",
        ("text", "model"),
    ),
    "quality_classifier_probe": QuerySpec(
        q_quality_classifier_probe,
        SQL_QUALITY_CLASSIFIER,
        "quality classifier served from the build-once persisted model: "
        "one corpus scan + one broadcast join + one quantized fold, no "
        "gradient steps — byte-identical scores to the train-inline form",
        ("text", "model"),
    ),
    "lr_width_pick": QuerySpec(
        q_lr_width_pick,
        SQL_LR_WIDTH_PICK,
        "hashed-feature width selection by label-bearing-vocab "
        "injectivity: per candidate width, stopword-bucket contamination "
        "counts; picked = smallest collision-free width",
        ("text", "model", "eval"),
    ),
    "quality_classifier_wide": QuerySpec(
        q_quality_classifier_wide,
        _sql_quality_classifier(LRC_BUCKETS_WIDE),
        "quality classifier at the lr_width_pick production width (2048, "
        "smallest injective on the stopword vocab): accuracy 0.84 -> 0.96+, "
        "served from the cached model by the width-independent sparse fold",
        ("text", "model"),
    ),
}
