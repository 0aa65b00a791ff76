"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB story):
- exact dedup is a hash-groupBy on a fingerprint — one shuffle, map-side
  combined;
- MinHash+LSH never materializes the O(n²) pair space: docs are expanded to
  (band, band-key) rows, grouped, and only same-bucket candidates are
  pair-joined. Bucket sizes are bounded by construction (signature collisions),
  so the join is skew-resistant; banding parameters trade recall vs cost;
- SimHash expands to (token, bit) rows — linear in corpus token count — and
  reduces with two groupBys;
- n-gram Jaccard verification runs only on candidate pairs (or within small
  blocks), never all-pairs.

Hash functions are md5-derived (seeded by prefix) specifically so a DuckDB
oracle can reproduce them bit-for-bit; swap `_MINHASH_HASH` for xxhash64 when
oracle parity is not needed (≈3× faster, same semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from multi_source_financial_data_pipeline_spark.operators.text import tokens, word_ngrams
from multi_source_financial_data_pipeline_spark.session import local_frame


def shingles(text: Column) -> Column:
    """Distinct word 3-grams as an array (see text.word_ngrams for the
    zipped-slice construction and why the lambda must not re-index the token
    array). Docs with < 3 tokens get an empty array, matching the oracle's
    empty generate_series."""
    return F.array_distinct(word_ngrams(text, 3))


def shingle_rows(df: DataFrame, n: int = 3) -> DataFrame:
    """(id, shingle) rows: word n-grams via zipped array slices, exploded.
    Row-level slices + one explode keep all per-element work out of nested
    lambda evaluation (a `transform` whose lambda re-reads the token array
    re-tokenizes the document once per shingle — O(doc²) per row), and the
    exploded long form feeds codegen'd hash-aggregates. Docs with < n tokens
    produce no rows."""
    toks = tokens(F.col("text"))
    width = F.size(toks) - (n - 1)
    z = F.when(
        F.size(toks) >= n,
        F.arrays_zip(*[F.slice(toks, k + 1, width) for k in range(n)]),
    )
    return df.select(F.col("doc_id"), F.explode(z).alias("g")).select(
        "doc_id",
        F.concat_ws(" ", *[F.col("g")[str(k)] for k in range(n)]).alias("s"),
    )


def probe_overlap(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Decontamination: corpus documents sharing any word n-gram with a
    probe (eval/benchmark) set, with the distinct shared-gram count per doc.

    Scale shape: explode (linear in corpus tokens) → per-doc-distinct grams
    → equi join on the gram → one map-side-combined count. The probe side
    (an eval set) is usually tiny, but it carries NO broadcast hint: a hint
    would pin the gram table into executor memory no matter how large the
    eval suite grows (AQE cannot demote a hinted broadcast — the same OOM
    cliff as hinting a scale-proportional TPC-H dim). Unhinted, AQE
    broadcasts it while it is small and falls back to one hash shuffle on
    the gram when it is not — still linear, never pairwise. Measured at the
    10× probe: the forced broadcast took 16.9 s, AQE-decided 2.1 s.
    """
    probe_grams = shingle_rows(probes, n).select("s").distinct()
    corpus_grams = shingle_rows(corpus, n).distinct()
    return (
        corpus_grams.join(probe_grams, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def dup_span_stats(
    df: DataFrame,
    n: int = 20,
) -> DataFrame:
    """Substring-level duplication profile (the exact-substring-dedup shape
    of C4/The-Pile curation, at token n-gram resolution): for every doc,
    the fraction of its n-token spans that occur at least twice anywhere in
    the corpus (other docs OR self-repeats). High ``dup_span_frac`` marks
    boilerplate/templated documents that doc-level fingerprints miss.

    Shape (r08): project the token array ONCE per pass, then one
    `transform` over an index sequence (the array is a bound row value —
    no re-tokenize per span), explode → corpus span counts as a MERGEABLE
    per-span hash aggregate joined back on the span (constant agg state,
    map-side combine, AQE-skew-splittable join) → per-doc rollup. The
    previous formulation counted with a window over the span partition —
    one scan, but a mega-frequent span (exactly the boilerplate this
    profiler targets) pulled every occurrence into one window task; the
    count branch re-derives the span stream instead (a second row-local
    tokenize pass — perfectly parallel, unlike a hot span). Linear in
    corpus tokens. Docs with < n tokens emit zero spans and are dropped —
    they have no substring of the profiled length."""
    toks = df.select("doc_id", tokens(F.col("text")).alias("__toks")).filter(
        F.size("__toks") >= n
    )
    width = F.size(F.col("__toks")) - (n - 1)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), width),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
            )
        ).alias("s"),
    )
    span_counts = spans.groupBy("s").agg(F.count(F.lit(1)).alias("c_s"))
    counted = spans.join(span_counts, "s")
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("c_s") > 1).cast("long")).alias("dup_spans"),
        (
            F.sum((F.col("c_s") > 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_span_frac"),
    )


#: universal-hash modulus: the smallest prime above 2^32. With x < 2^32 and
#: a < 2^31 the product stays under 2^63 — exact in any engine's BIGINT.
MINHASH_P = 4_294_967_311


def minhash_params(num_hashes: int = 8) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for h_j(x) = (a_j·x + b_j) mod P,
    md5-seeded so both engines inline identical literals."""
    import hashlib

    def _h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        (_h32(f"a{j}") % (2**31 - 1) + 1, _h32(f"b{j}") % (2**31))
        for j in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    keep_all_docs: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{k-1} (null for docs with no
    shingles). One explode + one map-side-combined groupBy, linear in corpus
    token count; each shingle is md5'd ONCE and the k hash family members
    are derived by universal hashing over the 32-bit digest prefix —
    integer-exact in both engines. Duplicate shingles don't change a min, so
    the rows need no distinct pass.

    ``keep_all_docs=False`` skips the left join back to the input (and its
    second scan), returning only (id, mh*) for docs with ≥1 shingle — the
    right input for pair generation, where null-signature docs are dropped
    anyway."""
    sh = shingle_rows(df.select("doc_id", "text"), 3)
    x = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    hashed = sh.select("doc_id", x.alias("x"))
    aggd = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"mh{j}"
            )
            for j, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )
    if not keep_all_docs:
        return aggd
    return df.join(aggd, ["doc_id"], "left")


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: signature split into bands of `band_size` hashes; docs
    sharing any full band become a candidate pair. Returns distinct
    (id_a, id_b) with id_a < id_b. Empty band keys (docs with no shingles)
    are dropped — they'd otherwise all collide.

    Plan: one pass over sig (posexplode, not a per-band union), then pairs
    are generated INSIDE each bucket — groupBy band key, sorted id array,
    explode × ordered-suffix explode — so the signature pipeline is computed
    exactly once (a bucket self-join would evaluate it twice, inviting the
    caller to cache corpus-sized band tables). Per-bucket pair count is
    C(k,2) either way; banding keeps k bounded FOR ORGANIC data.

    ``max_bucket_size`` is the production skew guard: a degenerate hot
    bucket (near-empty docs collapsing to one band signature, template
    spam) makes C(k,2) explode quadratically in ONE agg task. Buckets
    above the cap are dropped — a band shared by thousands of docs is
    uninformative for NEAR-dup detection (those docs are exact-dup-family
    territory), so the standard practice is to skip it and let the exact
    pass own them. None (the default, used by the oracle-checked queries
    on organic testdata) keeps every bucket."""
    n_bands = num_hashes // band_size
    band_keys = F.array(
        *[
            F.concat_ws(
                "|", *[f"mh{j}" for j in range(b * band_size, (b + 1) * band_size)]
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col("doc_id").alias("id"), F.posexplode(band_keys).alias("band", "band_key")
    ).filter(F.col("band_key") != "")
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.posexplode("ids").alias("pos", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("pos") + 2, F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    mod: int = 8,
) -> DataFrame:
    """Rolling-window document fingerprints with mod-p sampling (winnowing
    style): hash every word n-gram window, keep the ~1/mod whose hash is
    ≡ 0 (mod p). Copied passages share windows, so plagiarism/overlap
    detection joins on (fp) instead of comparing full texts; the sample rate
    bounds index size at scale. Same explode → codegen'd filter shape as
    MinHash — linear in corpus tokens."""
    sh = shingle_rows(df.select("doc_id", "text"), 3)
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    return (
        sh.withColumn("fp", h)
        .filter(F.col("fp") % mod == 0)
        .select("doc_id", "fp")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs inside a blocking key (language,
    source, LSH bucket, ...): |A∩B| / |A∪B| >= threshold. The block keeps the
    pair join bounded; never run this all-pairs at scale."""
    sh = df.select(
        F.col("doc_id").alias("id"),
        F.col("mh0").alias("blk"),
        shingles(F.col("text")).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jacc = inter / F.nullif(union, F.lit(0))  # two empty shingle sets → null
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jacc.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash32(df: DataFrame) -> DataFrame:
    """32-bit SimHash over the token multiset: per token, hash to 32 bits
    (md5-hex → int for oracle parity); per bit, sum +1/-1 across tokens;
    positive sums set the bit. One token explode + one map-side-combined
    groupBy carrying 32 conditional-sum aggregates — no (token × bit) row
    explosion, no pair joins, fully distributed."""
    tok = df.select(
        F.col("doc_id").alias("id"), F.explode(tokens(F.col("text"))).alias("t")
    )
    h = tok.select(
        "id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    # the signed sum over tokens is 2*ones_b - n, so aggregate the branchless
    # bit extraction plus one shared count instead of 32 conditional ±1 sums;
    # bit b is set iff ones_b > n - ones_b
    bit_sums = h.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.expr(f"shiftright(h, {b}) & 1")).alias(f"s{b}")
            for b in range(32)
        ],
    )
    fingerprint = sum(
        (
            F.when(
                F.col(f"s{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for b in range(32)
        ),
        start=F.lit(0).cast("long"),
    )
    return bit_sums.select(F.col("id").alias("doc_id"), fingerprint.alias("simhash"))


def min_label_components(edges: DataFrame) -> DataFrame:
    """Connected components over a SYMMETRIC edge set by iterative min-label
    propagation with pointer jumping: every node starts labeled with itself;
    each round a node takes the min of its own label and its neighbors'
    labels, then labels resolve one representative hop (lbl ← lbl[lbl], path
    compression). The jump halves the effective distance to the component
    minimum, so convergence takes O(log diameter) rounds instead of
    O(diameter) — for a 1000-node chain, ~10 shuffle rounds, not 1000.
    Rounds repeat until none lowers a label: labels only decrease and are
    bounded below by the component minimum, so the loop terminates, and it
    never returns unconverged labels.
    Returns (id, component) for nodes that appear in at least one edge;
    isolated nodes are the caller's left-join default.

    Scale: the loop runs only over EDGE ENDPOINTS (docs with at least one
    verified duplicate), not the whole corpus — at 100 TB that subgraph is a
    small fraction of the table, and each round is two shuffle joins of the
    label table (against the edge list, then itself). `localCheckpoint` cuts
    lineage so the plan doesn't grow exponentially with rounds.

    Small-graph fast path: when the edge list fits
    the session's broadcast budget — the same size class the planner
    ships to every executor for a broadcast join, so by definition
    driver-collectable — the component minimum is computed locally by
    min-label union-find (union by smaller root + path compression) in
    ONE collect job instead of O(log diameter) shuffle rounds, each of
    which costs two joins, a checkpoint and a convergence count. The
    union-find result IS the loop's fixpoint (every node labeled with
    its component minimum), so downstream values are identical; above
    the budget (or with broadcasting disabled) the distributed loop runs
    unchanged. Threshold from spark.sql.autoBroadcastJoinThreshold at
    ~16 bytes/edge — conf-driven, not a local-mode constant."""
    e_plan = edges.select(F.col("id").alias("src"), F.col("nb").alias("dst"))
    from multi_source_financial_data_pipeline_spark.operators.similarity import (
        _broadcast_bytes_threshold,
    )
    # materialize the edge list once, before the size probe: the probe and
    # every round of the distributed loop read it, and without the cut each
    # would re-execute the whole upstream pipeline (LSH banding + Jaccard
    # verification)
    e = e_plan.localCheckpoint()
    max_local_edges = _broadcast_bytes_threshold(edges.sparkSession) // 16
    if max_local_edges > 0:
        # limit+collect probes AND fetches in one job: a result within the
        # budget is by construction complete (the limit never truncated),
        # and the driver never holds more than budget+1 edge rows
        head = e.limit(max_local_edges + 1).collect()
        if len(head) <= max_local_edges:
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in head:
                a, b = r["src"], r["dst"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # min root wins -> component minimum
            id_type = e.schema["src"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("id", id_type, True),
                    T.StructField("lbl", id_type, True),
                ]
            )
            return local_frame(
                edges.sparkSession, [(x, find(x)) for x in parent], out_schema
            )
    # big-graph path. With AQE on (the default) each non-eager cut below
    # runs its shuffle and broadcast stages at the call; only the last
    # waits for round 1.
    labels = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=False)
    )
    while True:
        nb_min = (
            e.join(labels.withColumnRenamed("id", "dst_id"), F.col("dst") == F.col("dst_id"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("lbl").alias("nb_lbl"))
        )
        stepped = (
            labels.withColumnRenamed("lbl", "old_lbl")
            .join(nb_min, ["id"], "left")
            .select(
                "id",
                F.least(
                    F.col("old_lbl"), F.coalesce(F.col("nb_lbl"), F.col("old_lbl"))
                ).alias("lbl"),
                "old_lbl",
            )
        )
        # pointer jump: lbl ← lbl[lbl]. Every label IS some node's id (labels
        # start as ids and only min over ids), so the inner join is total.
        jump = stepped.select(
            F.col("id").alias("jid"), F.col("lbl").alias("jlbl")
        )
        # with AQE on (the default) the call runs this round's shuffle and
        # broadcast stages; the convergence count below runs the last one
        new_labels = (
            stepped.join(jump, stepped["lbl"] == jump["jid"])
            .select("id", F.col("jlbl").alias("lbl"), "old_lbl")
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("lbl") < F.col("old_lbl")).count()
        labels = new_labels.select("id", "lbl")
        if changed == 0:
            break
    return labels


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup as hash-groupBy: per fingerprint, the surviving (min) id
    and the group size."""
    return df.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


# --- Bloom filter: the broadcastable membership prefilter ---------------------

#: word width for the dense filter array. 32 keeps every shifted mask far from
#: the sign bit in BOTH engines (DuckDB's ``<<`` on BIGINT range-checks, and a
#: 1<<63 mask would read as negative); the 2x array-length cost is noise at
#: any sane m.
BLOOM_WORD_BITS = 32


def _bloom_h32(key: Column, salt: str) -> Column:
    """32-bit md5-prefix hash, seeded by prefix — the same oracle-replayable
    construction every sketch here uses (see module docstring)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 8), 16, 10
    ).cast("long")


def bloom_positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a key, via Kirsch-Mitzenmacher double hashing
    (h1 + j*h2 mod m): two md5 hashes serve all k probes, so per-row cost is
    2 hashes + k integer ops no matter how many probes the false-positive
    budget demands. Returned as k PLAIN column expressions (no higher-order
    functions) so build and probe both stay inside whole-stage codegen —
    the lesson the r14 pq256 argmin paid for."""
    h1 = _bloom_h32(key, "bloom1|")
    h2 = _bloom_h32(key, "bloom2|")
    _check_bloom_geometry(m_bits, k)
    return [(h1 + F.lit(j) * h2) % F.lit(m_bits) for j in range(k)]


def _check_bloom_geometry(m_bits: int, k: int) -> None:
    """Reject filter geometries that would silently break the
    no-false-negative guarantee (r14 ADVICE): if ``m_bits`` is not a
    multiple of the word width, positions in the final partial word map to
    ``widx >= m_bits // 32`` — dropped from the dense array on build, NULL
    from ``element_at`` on probe — i.e. inserted keys can probe false.
    All shipped call sites use powers of two; this guard turns the latent
    misuse into an immediate error."""
    if m_bits <= 0 or m_bits % BLOOM_WORD_BITS != 0:
        raise ValueError(
            f"m_bits must be a positive multiple of {BLOOM_WORD_BITS}, "
            f"got {m_bits}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def _bloom_masks() -> Column:
    return F.array(
        *[F.lit(1 << b).cast("long") for b in range(BLOOM_WORD_BITS)]
    )


def bloom_build(
    keys: DataFrame,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Build an m-bit Bloom filter over a key column and densify it to ONE
    row ``(bloom_words: array<long>)`` of m/32 words, ready to broadcast.

    Scale shape: keys explode to k position rows (map-only), one mergeable
    ``bit_or`` hash aggregate produces the set words, and a single-row
    collect_list densifies — per-group and final state are both bounded by
    m/32 (a CONSTANT chosen from the false-positive budget), never by the
    key count. This is the summary that ships where the exact key set
    cannot: 1e9 probe keys are tens of GB as a broadcast set, but ~14 bits
    per key (fpr 1e-3) is ~1.8 GB — and m is sized to the PROBE side,
    which in decontamination is the small, fixed benchmark suite."""
    n_words = m_bits // BLOOM_WORD_BITS
    masks = _bloom_masks()
    pos = keys.select(
        F.explode(F.array(*bloom_positions(F.col("s"), m_bits, k))).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / BLOOM_WORD_BITS).cast("int").alias("widx"),
            F.element_at(
                masks, (F.col("p") % BLOOM_WORD_BITS).cast("int") + 1
            ).alias("m"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(m)").alias("word"))
    )
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("widx", "word"))
        ).alias("__mp")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__mp"), i), F.lit(0).cast("long")
            ),
        ).alias("bloom_words")
    )


def bloom_member(
    key: Column,
    words: Column,
    m_bits: int,
    k: int,
) -> Column:
    """Membership test against a dense ``bloom_words`` array (crossJoin the
    broadcast 1-row build first): AND of k codegen'd bit tests — PURE MAP
    WORK, no join against the filter, no per-key shuffle. May return true
    for a key never inserted (the measured false-positive price); never
    false for an inserted one (every build bit is set before any probe
    reads — pinned in tests)."""
    masks = _bloom_masks()
    out: Column | None = None
    for p in bloom_positions(key, m_bits, k):
        word = F.element_at(words, (p / BLOOM_WORD_BITS).cast("int") + 1)
        mask = F.element_at(masks, (p % BLOOM_WORD_BITS).cast("int") + 1)
        test = word.bitwiseAND(mask) != 0
        out = test if out is None else (out & test)
    return out
