"""Deduplication operators for large-scale training-data pipelines.

Each family is chosen for a different scale/recall trade-off:

- minhash_lsh: shingle → minhash signature → band buckets → bucket
  self-join → exact-Jaccard verify. The self-join is on (band, bucket),
  so only near-duplicates collide; at 100 TB this is the standard
  near-dup path (the verify join is tiny relative to a full cross-join).
- simhash: 64-bit signature, banded into 16-bit chunks for candidate
  generation (Hamming ≤ 3 ⇒ at least one of 4 bands equal — pigeonhole),
  then exact Hamming verify.
- ngram_jaccard: exact verification primitive (used by the LSH verify
  stage; standalone only for bounded candidate sets).
- embedding near-dup: cosine ≥ t pairs by brute force (small dims ×
  small n; oracle-checkable).

Signature math is fully vectorized: token hashing is one cython
`pd.util.hash_array` call per Arrow batch, shingles are uint64
sliding-window polynomial combines, and the n_hashes minhash family is a
single (shingles × hashes) uint64 broadcast per doc — no per-shingle
Python loops, no object-dtype arrays (both were the CPU wall of the
100 TB dedup path in round 1).

Every LSH self-join is guarded against degenerate buckets: crawl corpora
are boilerplate-heavy (one bucket holding every near-empty page), and an
unguarded bucket of B rows emits B² candidates. Buckets larger than
`max_bucket_size` emit a STAR instead — (min_id, other) for each member.
Connected components (the thing dedup keepers consume) are identical;
pairwise completeness inside oversized buckets is intentionally traded
for a hard O(B) bound.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 64-bit odd multipliers for shingle polynomial combine / splitmix64 mix.
_FNV_PRIME = 0x100000001B3
_MIX_C1 = 0xBF58476D1CE4E5B9
_MIX_C2 = 0x94D049BB133111EB

# Buckets beyond this size emit star pairs instead of all-pairs.
DEFAULT_MAX_BUCKET = 64


# ---------------------------------------------------------------------------
# vectorized token / shingle hashing (shared by minhash + jaccard verify)
# ---------------------------------------------------------------------------

# Token hashing reads at most this many leading code points (both the
# numpy path and the DuckDB oracle truncate identically; longer tokens
# colliding on a 16-char prefix is an acceptable hash property).
TOKEN_HASH_MAXLEN = 16


def _token_hashes(texts: pd.Series) -> list[np.ndarray]:
    """Per text: uint64 hash per lowercased whitespace token.

    Token hash = splitmix64 of a position-weighted polynomial over the
    token's first 16 code points: ``mix64(Σ cp_i · P^i mod 2^64)`` with
    P the FNV prime. Chosen over pandas' siphash (rounds 1-2) because
    BOTH engines can compute it — the DuckDB oracle reproduces it with
    HUGEINT arithmetic, which makes the simhash near-dup pipeline
    hash-verifiable end-to-end (r3); splitmix64 restores full-width bit
    diffusion, which simhash's per-bit votes need. Fully vectorized:
    the batch's tokens go through ONE numpy str→codepoint-matrix
    conversion (fixed-width UCS4 view, truncation built in) and 16
    fused multiply-adds — no per-token Python hashing.
    """
    tok_lists = [t.lower().split() for t in texts.fillna("")]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    flat = [tok for toks in tok_lists for tok in toks]
    if not flat:
        return [np.empty(0, dtype=np.uint64) for _ in tok_lists]
    arr = np.array(flat, dtype=f"<U{TOKEN_HASH_MAXLEN}")
    cp = arr.view(np.uint32).reshape(len(flat), TOKEN_HASH_MAXLEN)
    with np.errstate(over="ignore"):
        h0 = np.zeros(len(flat), dtype=np.uint64)
        pw = np.uint64(1)
        for i in range(TOKEN_HASH_MAXLEN):
            h0 += cp[:, i].astype(np.uint64) * pw
            pw = pw * np.uint64(_FNV_PRIME)
        hashes = _mix64(h0)
    bounds = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    return [hashes[bounds[i]: bounds[i + 1]] for i in range(len(lens))]


def _shingle_hashes(texts: pd.Series, k: int) -> list[np.ndarray]:
    """Per text: unique uint64 hashes of its k-word shingles.

    Shingle hash = wrapping uint64 polynomial over the window's token
    hashes (numpy sliding_window_view — same rolling-hash technique as
    the winnowing fingerprints in functions/text.py). Docs shorter than
    k collapse to one whole-doc shingle, empty docs to none.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    # multipliers P^(k-1), ..., P, 1 (mod 2^64), exact via Python ints
    mults_full = np.array(
        [pow(_FNV_PRIME, k - 1 - j, 1 << 64) for j in range(k)], dtype=np.uint64
    )
    out = []
    for th in _token_hashes(texts):
        n = len(th)
        if n == 0:
            out.append(np.empty(0, dtype=np.uint64))
            continue
        kk = min(k, n)
        mults = mults_full[k - kk:]
        win = sliding_window_view(th, kk)  # (n-kk+1, kk), zero-copy
        sh = (win * mults[None, :]).sum(axis=1, dtype=np.uint64)
        out.append(np.unique(sh))
    return out


def _mix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: a strong uint64 bijection."""
    z = (x ^ (x >> np.uint64(30))) * np.uint64(_MIX_C1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_MIX_C2)
    return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# minhash
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 128,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>): minhash over k-word shingles.

    Hash family i is h_i(x) = splitmix64(x XOR seed_i) — splitmix64 is a
    bijection, so each seed induces an (approximate) permutation of the
    shingle space; the signature is one (n_shingles × n_hashes) uint64
    broadcast + column-min per doc. All wrapping uint64 numpy — no
    Python-int math, no object dtype.
    """
    rng = np.random.default_rng(seed)
    seeds = rng.integers(0, 1 << 64, size=n_hashes, dtype=np.uint64)

    def sig_batch(it):
        for pdf in it:
            sigs = np.zeros((len(pdf), n_hashes), dtype=np.uint64)
            for j, hs in enumerate(_shingle_hashes(pdf[text_col], shingle_k)):
                if len(hs):
                    sigs[j] = _mix64(hs[:, None] ^ seeds[None, :]).min(axis=0)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": list(sigs.view(np.int64))}
            )

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(sig_batch, schema=schema)


def _capped_self_join_pairs(
    keyed: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int,
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from a bucketed self-join with a
    degenerate-bucket guard.

    Buckets with ≤ max_bucket_size members do the normal all-pairs
    self-join on the bucket keys. Larger buckets emit a star on the
    bucket's min id — O(B) pairs instead of O(B²) — which preserves the
    connected components exact verification will confirm. ``carry`` maps
    output-suffix -> source column for per-side payloads (e.g. simhash
    signatures): {"sh": "simhash"} yields sh_a / sh_b columns.

    The window count/min and the self-join share the same partitioning
    keys, so the window's exchange is reused by the join.
    """
    carry = carry or {}
    w = Window.partitionBy(*keys)
    rep = F.min(F.struct(id_col, *carry.values())).over(w)
    sized = keyed.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn("__rep", rep)

    small = sized.filter(F.col("__n") <= max_bucket_size)
    l, r = small.alias("l"), small.alias("r")
    cond = (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    for k in keys:
        cond &= F.col(f"l.{k}") == F.col(f"r.{k}")
    small_pairs = l.join(r, cond).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{src}").alias(f"{suf}_a") for suf, src in carry.items()],
        *[F.col(f"r.{src}").alias(f"{suf}_b") for suf, src in carry.items()],
    )
    big = sized.filter(
        (F.col("__n") > max_bucket_size) & (F.col(id_col) != F.col("__rep")[id_col])
    )
    big_pairs = big.select(
        F.col("__rep")[id_col].alias("id_a"),
        F.col(id_col).alias("id_b"),
        *[F.col("__rep")[src].alias(f"{suf}_a") for suf, src in carry.items()],
        *[F.col(src).alias(f"{suf}_b") for suf, src in carry.items()],
    )
    return small_pairs.unionByName(big_pairs).distinct()


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band the signatures, bucket-join: (id_a, id_b) candidate pairs.

    rows_per_band = n_hashes / bands. Collision probability for Jaccard
    s is 1-(1-s^r)^b — the standard S-curve knob. Oversized buckets
    (boilerplate classes) fall back to star pairs (see module doc).
    """
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.array(*[F.lit(i) for i in range(bands)]),
                lambda i: F.xxhash64(
                    F.slice(
                        F.col("sig"),
                        i * (F.size("sig") / bands).cast("int") + 1,
                        (F.size("sig") / bands).cast("int"),
                    ).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )
    return _capped_self_join_pairs(
        banded, ["band", "bucket"], id_col, max_bucket_size
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact k-word-shingle Jaccard for candidate (id_a, id_b) pairs."""
    texts = df.select(F.col(id_col), F.col(text_col))
    joined = (
        pairs.join(texts.withColumnsRenamed({id_col: "id_a", text_col: "text_a"}), "id_a")
        .join(texts.withColumnsRenamed({id_col: "id_b", text_col: "text_b"}), "id_b")
    )

    def jac(it):
        for pdf in it:
            ha = _shingle_hashes(pdf["text_a"], shingle_k)
            hb = _shingle_hashes(pdf["text_b"], shingle_k)
            out = []
            for x, y in zip(ha, hb):
                # x, y already unique+sorted (np.unique) → merge-intersect
                inter = len(np.intersect1d(x, y, assume_unique=True))
                union = len(x) + len(y) - inter
                out.append(inter / union if union else 1.0)
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "jaccard": out}
            )

    schema = T.StructType(
        [
            pairs.schema["id_a"],
            pairs.schema["id_b"],
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    return joined.mapInPandas(jac, schema=schema)


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH candidates → exact verify."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k, seed)
    cand = minhash_lsh_candidates(sigs, id_col, bands, max_bucket_size)
    verified = ngram_jaccard(df, cand, text_col, id_col, shingle_k)
    return verified.filter(F.col("jaccard") >= jaccard_threshold)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash long): 64-bit simhash over whitespace tokens.

    Whole-batch vectorized: one hash_array call for every token in the
    batch, one (tokens × 64) bit expansion, and per-doc bit votes via
    np.add.reduceat over doc offsets — no per-token Python.
    """

    def sim_batch(it):
        bitpos = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << bitpos

        for pdf in it:
            th_per_doc = _token_hashes(pdf[text_col])
            lens = np.fromiter((len(t) for t in th_per_doc), dtype=np.int64, count=len(th_per_doc))
            out = np.zeros(len(pdf), dtype=np.int64)
            nz = np.nonzero(lens > 0)[0]
            if len(nz):
                flat = np.concatenate([th_per_doc[i] for i in nz])
                bits = ((flat[:, None] >> bitpos[None, :]) & np.uint64(1)).astype(np.int8)
                offsets = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=offsets[1:])
                ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
                votes = 2 * ones - lens[nz][:, None]  # ones - zeros
                sh = ((votes > 0) * weights[None, :]).sum(axis=1, dtype=np.uint64)
                out[nz] = sh.view(np.int64)  # two's-complement long
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType())]
    )
    return df.select(id_col, text_col).mapInPandas(sim_batch, schema=schema)


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidates via 4 × 16-bit bands (pigeonhole: ≤3 differing bits can't
    touch all 4 bands), verified with an exact popcount. Oversized
    bucket guard as in the minhash path.
    """
    sigs = simhash_signatures(df, text_col, id_col)
    bands = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    cand = _capped_self_join_pairs(
        bands, ["band", "chunk"], id_col, max_bucket_size, carry={"sh": "simhash"}
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def cosine_expr(vec_a, vec_b):
    """JVM-side cosine similarity of two array<float|double> columns.

    Elements are cast to double BEFORE multiplying so the arithmetic is
    bit-identical to a double-precision oracle (float32 multiply then
    widen would differ in the last ulps)."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(vec_a) * norm(vec_b))


def embedding_dup_pairs_brute(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold — O(n²) cross join; the exact
    baseline for small n."""
    l = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    r = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# winnowing (rolling-hash fingerprint) near-dup
# ---------------------------------------------------------------------------

def winnow_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlap: float = 0.4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Copy-detection near-dup pairs over winnowing fingerprints
    (functions/text.py MOSS-style rolling-hash signatures):
    explode fps → CAPPED fp-bucket self-join for candidates → exact
    overlap verify on the bounded candidate set.

    ``overlap = |fp(a) ∩ fp(b)| / min(|fp(a)|, |fp(b)|)``; fingerprints
    are per-doc-distinct by construction (_winnow_one returns a sorted
    set), so plain counts are distinct counts throughout.

    A fingerprint shared by B boilerplate docs would emit B² join rows
    unguarded — buckets beyond ``max_bucket_size`` emit a star on the
    min id instead, the same guard as every LSH path here (connected
    components preserved; see module doc). The verify stage recomputes
    the TRUE overlap for each emitted pair, so capping only prunes
    which pairs are emitted, never their values.
    """
    from crawleria_spark.functions.text import winnow_fingerprints_udf

    fps = docs.select(
        F.col(id_col), F.explode(winnow_fingerprints_udf(text_col)).alias("fp")
    )
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    cand = _capped_self_join_pairs(fps, ["fp"], id_col, max_bucket_size)
    shared = (
        cand.join(fps.withColumnsRenamed({id_col: "id_a"}), "id_a")
        .join(fps.withColumnsRenamed({id_col: "id_b"}), ["id_b", "fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnsRenamed({id_col: "id_a", "n_fp": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_fp": "nb"}), "id_b")
        .withColumn("overlap", F.round(F.col("n_shared") / F.least("na", "nb"), 6))
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", "n_shared", "overlap")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Training-data decontamination: flag corpus docs sharing any word
    n-gram with a benchmark/eval set (the GPT-3/PaLM-style 13-gram
    overlap rule; pass smaller n for short-doc corpora).

    Returns ``(clean, contaminated)``:
    - ``contaminated``: id_col + n_hits (distinct benchmark n-grams hit)
    - ``clean``: input docs minus contaminated ids

    Scale shape (the part that matters at 100 TB): the benchmark is
    small by definition (eval sets are MBs), so its distinct-n-gram set
    BROADCASTS; corpus n-grams are checked with a broadcast LEFT SEMI
    join on the exploded grams — the 100 TB side is never shuffled, and
    rows survive the semi-join only for actual hits, so the follow-up
    per-doc count aggregates a near-empty stream. The anti-join back to
    docs broadcasts the (small) contaminated id set too.
    """
    from crawleria_spark.functions.text import word_ngrams

    bench_grams = bench.select(
        F.explode(word_ngrams(text_col, n)).alias("g")
    ).distinct()
    hits = (
        docs.select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
    )
    contaminated = hits.groupBy(id_col).agg(
        F.countDistinct("g").alias("n_hits")
    )
    clean = docs.join(
        F.broadcast(contaminated.select(id_col)), id_col, "left_anti"
    )
    return clean, contaminated


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 8,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Near-dup GROUPS from dup pairs: (id, group_id) where group_id is
    the minimum id of the connected component — Pregel-style hash-min
    label propagation (each vertex repeatedly takes the min label among
    itself and its neighbors).

    ``iters`` must be >= the largest component's diameter for exact
    convergence; near-dup graphs are short-chained (a dup-pair edge
    needs Jaccard >= threshold, so components are near-cliques) and the
    default 8 covers them. The canonical use: pick one keeper per
    group (min id) and drop the rest — the "dedup the whole cluster"
    step that pairwise output alone doesn't give.

    Scale shape: each iteration is ONE shuffle of the (deduped,
    symmetrized) edge list joined against a <=V-row label table — the
    standard distributed CC. No driver loop over data, no collect
    beyond one bounded per-iteration convergence aggregate.

    Early termination (r6, only with ``truncate_lineage``): hash-min
    labels only ever DECREASE, so an unchanged ``sum(label)`` between
    iterations means no label moved — the fixed point is reached and
    the remaining iterations would be no-ops. Stopping there returns a
    result IDENTICAL to running all ``iters`` on every input (never
    more, never fewer merges), while near-clique dup graphs converge in
    2-3 of the 8 budgeted rounds (measured: q_dup_groups 2.0 -> 1.6 s).
    The sum is a single bounded aggregate over the checkpointed label
    RDD (summed as decimal(38,0) so giant id spaces cannot overflow).

    ``truncate_lineage`` (default on, keep it on): each iteration
    references ``labels`` twice and ``edges`` once, so a purely lazy
    chain DOUBLES the logical plan per iteration — ~2^iters embeddings
    of the upstream pair pipeline, which Catalyst analyzes and the
    executor recomputes in full (measured: 295 s for iters=8 over a
    200-doc minhash-LSH slice whose pair pipeline alone runs in ~1 s —
    the r5 scale-killer). ``localCheckpoint(eager=False)`` on ``edges``
    and on each iteration's ``labels`` truncates the plan to a
    LogicalRDD, so the edge pipeline runs ONCE and each iteration is
    three small shuffles over materialized RDDs (measured: 2.2 s, 137x).
    Construction is EAGER with it on: the early-stop check runs
    ``first()`` jobs on the label sums before the loop and after each
    iteration, while this function builds the DataFrame — not at the
    caller's first action. Intermediates live only for this DataFrame's
    lifetime — nothing is reused across separate invocations. The off
    switch exists only for plan-shape tests.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    if truncate_lineage:
        edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    def label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    prev_sum = label_sum(labels) if truncate_lineage else None
    for _ in range(iters):
        # hash-min update as message-union: new(id) = min(old(id),
        # min over incoming-neighbor labels). One inner join + one
        # partial-aggregated groupBy = 3 exchanges/iteration, vs 4 (and
        # an extra outer-join sort) for the join-back/least formulation
        # this replaced — identical labels per iteration.
        msgs = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), F.col("label"))
        )
        labels = (
            msgs.unionByName(labels.select("id", "label"))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if truncate_lineage:
            labels = labels.localCheckpoint(eager=False)
            cur_sum = label_sum(labels)
            if cur_sum == prev_sum:
                break  # fixed point: further iterations are no-ops
            prev_sum = cur_sum
    return labels.select(F.col("id"), F.col("label").alias("group_id"))

