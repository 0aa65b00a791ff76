"""Persisted build-once artifacts — the IVF and IVF-PQ indexes (plain and
upserted), the decontamination Bloom filter, the CDC manifest and the
quality-classifier model — and the one place that names, identifies,
builds, publishes and reads them back. Each recipe declares its build
``params`` and a build function and hands both to `ensure`.

The constants parameterize the builds. The query modules import them from
here, so each has one binding: a run-time patch must patch this module.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pathlib
import shutil
import stat
import sys
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark import schemas, session
from multi_source_financial_data_pipeline_spark.operators import dedup, similarity, text
from multi_source_financial_data_pipeline_spark.sources import load_table, tables

#: the modules whose source is part of every artifact's identity: this
#: module and each package module its builds import
_BUILD_MODULES = (
    sys.modules[__name__], similarity, dedup, text, tables, schemas, session,
)


# --- build parameters --------------------------------------------------------

#: embedding width (TESTDATA schema)
EMB_DIM = 64

IVF_NLIST = 16  # coarse IVF cells
KM_ITERS = 2    # Lloyd iterations of the refined coarse quantizers

PQ_M = 8       # subspaces: 64 dims -> 8 blocks of 8
PQ_K = 16      # centroids per subspace: a code is 8 x 4 bits
PQ_ITERS = 2   # unrolled Lloyd iterations per subspace (KM_ITERS twin)

#: the CDC split of the upsert recipes (see `upsert_frames`); both exclude
#: vec_id < IVF_NLIST, so the seed quantizer (the first nlist vectors) is
#: the same for the base corpus, the updated corpus and a full rebuild
UPS_CHG_MOD, UPS_CHG_SEL = 7, 3
UPS_NEW_MOD, UPS_NEW_SEL = 11, 5

#: decontamination probe split: every DECON_PROBE_MOD-th doc below the
#: fixed id cap donates its DECON_NGRAM-grams, so the eval set is bounded
#: at every corpus scale
DECON_NGRAM = 5
DECON_PROBE_MOD = 20
DECON_PROBE_CAP = 500

#: Bloom geometry over the fixed-cap probe set (~1.4k distinct grams):
#: 32768 bits = one 4 KB row, k=4, gram-level fpr ≈ 5e-4
BLOOM_M_BITS = 32768
BLOOM_K = 4

#: two snapshots of the one documents table, by md5-prefix doc hash h:
#: OLD drops h % 11 == 3, NEW drops h % 13 == 5 and edits h % 7 == 2
SNAP_OLD_MOD, SNAP_OLD_DROP = 11, 3
SNAP_NEW_MOD, SNAP_NEW_DROP = 13, 5
SNAP_EDIT_MOD, SNAP_EDIT_SEL = 7, 2

N_SHARDS = 16  # hash shards of the export manifest and the manifest diff
#: only shards ≡ SEL (mod MOD) churn, as a day's crawl touches recent
#: shards rather than a uniform smear; manifest pruning relies on it
MAN_DIRTY_MOD, MAN_DIRTY_SEL = 4, 1

LRC_BUCKETS = 64   #: hashed unigram feature space (+1 bias)
LRC_STEPS = 4      #: unrolled full-batch gradient iterations
LRC_ETA = 4.0      #: step size on standardized features
LRC_TAU = 0.06     #: label threshold on the stopword-ratio heuristic


# --- the mechanism -----------------------------------------------------------

def cache_root() -> str:
    """The per-user artifact root ``<tempdir>/msfdp_ivf_index_<uid>``,
    created 0700. The name is predictable under a world-writable tempdir,
    so an existing one is used only if lstat shows a real directory of
    this uid with no group/other bits; otherwise the process falls back to
    one fresh mkdtemp root (losing the cache, never trusting foreign
    contents)."""
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


@functools.lru_cache(maxsize=None)
def fingerprint() -> str:
    """Hash of the `_BUILD_MODULES` sources (package-relative path +
    bytes), once per process: an edit to one of them changes every
    artifact's identity, an edit elsewhere in the package none."""
    root = pathlib.Path(__file__).resolve().parent.parent
    h = hashlib.sha256()
    for mod in _BUILD_MODULES:
        path = pathlib.Path(mod.__file__).resolve()
        h.update(path.relative_to(root).as_posix().encode() + b"\0")
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def ident(sf_dir: str, table: str, params: dict) -> dict:
    """An artifact's identity: its source table's path, mtime and size,
    the build ``params``, and the code `fingerprint`."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    return {"src": src, "mtime_ns": st.st_mtime_ns, "size": st.st_size,
            **params, "code": fingerprint()}


def _dir_name(sf_dir: str, params: dict) -> str:
    """One directory name per parameter set; list values joined by -."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    parts = [tag, str(params["kind"])]
    for k, v in params.items():
        if k != "kind":
            v = "-".join(map(str, v)) if isinstance(v, list) else v
            parts.append(f"{k}{v}")
    return "_".join(parts)


def ensure(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    params: dict,
    build: Callable[[DataFrame, str], None],
) -> str:
    """The directory of the artifact ``params`` describes over ``sf_dir``'s
    ``table``, ``<cache_root()>/<sf tag>_<kind>_<param><value>_...``. If
    it is absent or its ``_built.json`` marker is not `ident`, a build
    loads ``table`` and calls ``build(src_df, out_dir)`` to write the
    artifact into a unique sibling temp dir, writes the marker last and
    renames the dir into place, so no reader sees a half-built artifact.
    A concurrent builder's same-identity artifact, published first, is
    kept (live lazy plans may reference it) and ours discarded. A build
    that raises leaves no temp dir behind."""
    index_dir = os.path.join(cache_root(), _dir_name(sf_dir, params))
    want = ident(sf_dir, table, params)

    def _marker_matches(d: str) -> bool:
        try:
            with open(os.path.join(d, "_built.json")) as fh:
                return json.load(fh) == want
        except (OSError, ValueError):
            return False

    if _marker_matches(index_dir):
        return index_dir
    build_dir = tempfile.mkdtemp(
        prefix=os.path.basename(index_dir) + ".build.",
        dir=os.path.dirname(index_dir),
    )
    try:
        build(load_table(spark, sf_dir, table), build_dir)
        with open(os.path.join(build_dir, "_built.json"), "w") as fh:
            json.dump(want, fh)
        if _marker_matches(index_dir):
            # a concurrent builder finished first with the SAME identity:
            # swapping would rmtree a fresh index that live lazy plans may
            # already reference — keep the winner's, discard ours
            shutil.rmtree(build_dir, ignore_errors=True)
            return index_dir
        if os.path.isdir(index_dir):  # stale build from an older identity
            stale = index_dir + ".stale." + os.path.basename(build_dir)
            os.rename(index_dir, stale)
            shutil.rmtree(stale, ignore_errors=True)
        os.rename(build_dir, index_dir)
    except BaseException as exc:
        shutil.rmtree(build_dir, ignore_errors=True)
        # an OSError may be a rename lost to a concurrent builder — then
        # use the winner's; anything else (a failed Spark job) propagates
        if not (isinstance(exc, OSError) and _marker_matches(index_dir)):
            raise
    return index_dir


# --- frames the recipes and the oracle-checked queries share -----------------

def upsert_frames(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, delta) of the upsert recipes: ``base`` is the corpus without
    the NEW docs and with the edited docs at their original vectors;
    ``delta`` is the CDC batch, the NEW docs plus the edited docs at their
    updated vectors."""
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


def is_decon_probe() -> Column:
    """The decontamination eval-set predicate over ``doc_id``."""
    return (F.col("doc_id") % DECON_PROBE_MOD == 0) & (
        F.col("doc_id") < DECON_PROBE_CAP
    )


def snap_base(docs: DataFrame) -> DataFrame:
    """Per doc of ``docs``: (doc_id, shard, __skip_old, __skip_new,
    fp_old, fp_new) — its hash shard, whether the OLD/NEW snapshot drops
    it, and both content md5s. Churn touches only the MAN_DIRTY shards.
    The manifest recipe, `manifest_delta` and its probe all read this one
    derivation, so the persisted and recomputed sides hold the same
    multisets."""
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


def man_fold(rows: DataFrame) -> DataFrame:
    """The per-shard multiset fingerprint of (shard, doc_id, fp) rows:
    h2 = 32-bit md5 prefix of ``doc_id|fp``, folded per shard as
    (decimal sum, xor, count) and hashed. Emits (shard, n_docs,
    members_fp). Identical multisets always fold equal; different ones
    collide only if all three folds agree."""
    h2 = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id"), F.col("fp"))), 1, 8),
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


# --- the recipes --------------------------------------------------------------

def _refined_centers(emb: DataFrame, nlist: int) -> DataFrame:
    """KM_ITERS-refined coarse centers, trained once and lineage-cut so
    assignment, residuals and the persisted quantizer share them."""
    return similarity.kmeans_centroids(
        emb, k=nlist, iters=KM_ITERS
    ).localCheckpoint()


def ivf_index(
    spark: SparkSession,
    sf_dir: str,
    nlist: int = IVF_NLIST,
    two_level: bool = False,
    refined: bool = False,
) -> str:
    """IVF index over ``embeddings`` (`similarity.build_ivf_index`):
    ``cells/`` partitioned by cell, the ``quantizer/`` row and ``meta/``.
    ``refined`` trains the coarse centers with KM_ITERS Lloyd iterations
    (`kmeans_centroids`) and both assigns and persists with them.
    Identity params: nlist, two_level, and refined + km_iters when set."""
    params = {"kind": "ivf", "nlist": nlist, "two_level": two_level}
    if refined:
        params.update({"refined": True, "km_iters": KM_ITERS})

    def build(emb: DataFrame, out_dir: str) -> None:
        centers = _refined_centers(emb, nlist) if refined else None
        similarity.build_ivf_index(
            spark, emb, out_dir, nlist=nlist, two_level=two_level,
            coarse_centers=centers,
        )

    return ensure(spark, sf_dir, "embeddings", params, build)


def pq_index(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k: int = PQ_K,
    residual_refined: bool = False,
) -> str:
    """IVF-PQ index over ``embeddings`` (`similarity.build_pq_index`): m
    sub-codebooks of k centroids trained by PQ_ITERS Lloyd iterations,
    cell-partitioned codes at IVF_NLIST cells, the quantizer and
    ``meta/``. ``residual_refined`` refines the coarse centers with
    KM_ITERS Lloyd iterations and trains the codebooks on residuals
    against them. Identity params: m, k, iters, nlist, and residual +
    km_iters when set."""
    params = {"kind": "pq", "m": m, "k": k, "iters": PQ_ITERS,
              "nlist": IVF_NLIST}
    if residual_refined:
        params.update({"residual": True, "km_iters": KM_ITERS})

    def build(emb: DataFrame, out_dir: str) -> None:
        centers = _refined_centers(emb, IVF_NLIST) if residual_refined else None
        similarity.build_pq_index(
            spark, emb, out_dir, m=m, k_codebook=k, iters=PQ_ITERS,
            dim=EMB_DIM, nlist=IVF_NLIST, coarse_centers=centers,
            by_residual=residual_refined,
        )

    return ensure(spark, sf_dir, "embeddings", params, build)


def ivf_upsert_index(spark: SparkSession, sf_dir: str) -> str:
    """IVF index built on `upsert_frames`' base corpus, then updated in
    place with its delta by `similarity.ivf_index_upsert` (no retraining).
    Identity params: nlist and both CDC selectors, so neither half is
    served stale."""
    params = {
        "kind": "ivf_upsert", "nlist": IVF_NLIST,
        "chg": [UPS_CHG_MOD, UPS_CHG_SEL],
        "new": [UPS_NEW_MOD, UPS_NEW_SEL],
    }

    def build(emb: DataFrame, out_dir: str) -> None:
        base, delta = upsert_frames(emb)
        similarity.build_ivf_index(spark, base, out_dir, nlist=IVF_NLIST)
        similarity.ivf_index_upsert(spark, out_dir, delta)

    return ensure(spark, sf_dir, "embeddings", params, build)


def pq_upsert_index(spark: SparkSession, sf_dir: str) -> str:
    """`ivf_upsert_index` for IVF-PQ: codebooks trained on the base
    corpus, then the delta coded against them by
    `similarity.pq_index_upsert` (no retraining). Identity params: m, k,
    iters, nlist and both CDC selectors."""
    params = {
        "kind": "pq_upsert", "m": PQ_M, "k": PQ_K, "iters": PQ_ITERS,
        "nlist": IVF_NLIST,
        "chg": [UPS_CHG_MOD, UPS_CHG_SEL],
        "new": [UPS_NEW_MOD, UPS_NEW_SEL],
    }

    def build(emb: DataFrame, out_dir: str) -> None:
        base, delta = upsert_frames(emb)
        similarity.build_pq_index(
            spark, base, out_dir, m=PQ_M, k_codebook=PQ_K,
            iters=PQ_ITERS, dim=EMB_DIM, nlist=IVF_NLIST,
        )
        similarity.pq_index_upsert(spark, out_dir, delta)

    return ensure(spark, sf_dir, "embeddings", params, build)


def bloom_filter(spark: SparkSession, sf_dir: str) -> str:
    """The decontamination Bloom filter over ``documents``' eval-set
    (`is_decon_probe`) DECON_NGRAM-grams (`dedup.bloom_build`):
    ``filter/`` holds the one (bloom_words) row. Identity params: m, k,
    the n-gram length and the probe split."""
    params = {
        "kind": "bloom", "m": BLOOM_M_BITS, "k": BLOOM_K,
        "ngram": DECON_NGRAM,
        "probe": [DECON_PROBE_MOD, DECON_PROBE_CAP],
    }

    def build(docs: DataFrame, out_dir: str) -> None:
        probe_grams = (
            dedup.shingle_rows(docs.filter(is_decon_probe()), DECON_NGRAM)
            .select("s")
            .distinct()
        )
        dedup.bloom_build(
            probe_grams, BLOOM_M_BITS, BLOOM_K
        ).write.parquet(os.path.join(out_dir, "filter"))

    return ensure(spark, sf_dir, "documents", params, build)


def manifest_index(spark: SparkSession, sf_dir: str) -> str:
    """The OLD snapshot's CDC state over ``documents`` (`snap_base`):
    ``digests/`` holds its (doc_id, fp) rows partitioned by shard and
    ``manifest/`` its N_SHARDS-row `man_fold`. Identity params: the shard
    count, the churn geometry and the OLD-side snapshot constants."""
    params = {
        "kind": "manifest", "n_shards": N_SHARDS,
        "dirty": [MAN_DIRTY_MOD, MAN_DIRTY_SEL],
        "old": [SNAP_OLD_MOD, SNAP_OLD_DROP],
        "edit": [SNAP_EDIT_MOD, SNAP_EDIT_SEL],
    }

    def build(docs: DataFrame, out_dir: str) -> None:
        old = snap_base(docs).filter(~F.col("__skip_old")).select(
            "shard", "doc_id", F.col("fp_old").alias("fp")
        )
        old.write.partitionBy("shard").mode("overwrite").parquet(
            os.path.join(out_dir, "digests")
        )
        man_fold(old).write.mode("overwrite").parquet(
            os.path.join(out_dir, "manifest")
        )

    return ensure(spark, sf_dir, "documents", params, build)


def lr_model(
    spark: SparkSession, sf_dir: str, buckets: int = LRC_BUCKETS
) -> tuple[DataFrame, int]:
    """The quality classifier trained on ``documents``
    (`text.token_lr_train`, labels: stopword ratio >= LRC_TAU). Writes the
    (buckets+1)-row (bucket, w, mu, sd) ``model/`` and a one-row
    ``meta/`` holding the bucket width. Returns the model frame and that
    width, read from ``meta/`` through `similarity.artifact_row`, so
    serving cannot score at another modulus. Identity params: buckets,
    steps, eta and tau."""
    params = {
        "kind": "lr_model", "buckets": buckets, "steps": LRC_STEPS,
        "eta": LRC_ETA, "tau": LRC_TAU,
    }

    def build(docs: DataFrame, out_dir: str) -> None:
        model = text.token_lr_train(
            docs,
            text.stopword_ratio(F.col("text")) >= LRC_TAU,
            buckets=buckets, steps=LRC_STEPS, eta=LRC_ETA,
        )
        # buckets+1 rows: one file, one footer to read at serve time
        model.repartition(1).write.parquet(os.path.join(out_dir, "model"))
        session.local_frame(spark, [(int(buckets),)], "buckets int").write.parquet(
            os.path.join(out_dir, "meta")
        )

    model_dir = ensure(spark, sf_dir, "documents", params, build)
    meta = similarity.artifact_row(spark, os.path.join(model_dir, "meta"))
    return (
        spark.read.parquet(os.path.join(model_dir, "model")),
        int(meta["buckets"]),
    )
