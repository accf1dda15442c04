"""Document deduplication operators for training-data pipelines.

Four tiers, all shuffle-disciplined for 100 TB inputs:

- exact_dedup: hash-groupBy on a normalization of the text (one shuffle).
- minhash_lsh: k-shingle MinHash signatures (ONE vectorized pandas UDF),
  then everything JVM-side: band keys via xxhash64 over signature slices,
  candidate pairs from `banded_pairs`, signature-estimated jaccard filter.
  Candidate generation never compares all pairs — only bucket collisions.
- simhash: 64-bit sign-of-weighted-token-hash fingerprint (pandas UDF),
  hamming distance natively via bit_count(a ^ b); candidates from band
  buckets — completeness requires bands >= max_hamming + 1 (pigeonhole),
  enforced.

`banded_pairs` is the one bucket join behind both, and behind the
embedding LSH/IVF joins in operators/similarity.py: ids and keys through
the shuffle, payload re-attached by id after the candidate dedup.

Token/shingle hashes are md5-lower-64 (== DuckDB md5_number_lower) so
every fingerprint is replayable in plain SQL for oracle parity checks.
- ngram_jaccard_exact: exact word-set jaccard via token inverted-index
  join with the size-band prefilter (J >= t implies max_size <= min_size/t),
  for small/verification workloads.

The reference's only dedup is an O(n^2) pairwise comparer
(Core/OsmData.cs:290-334); these are its scale-path replacements.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from osmalyzer_spark.lineage import truncate
from osmalyzer_spark.session import data_partitions, shuffle_partitions

_MERSENNE = (1 << 61) - 1
# star rounds are O(log n); the 1M/775 m giant component takes 8
_CC_MAX_ITER = 64


def exact_dedup(df: DataFrame, id_col: str, text_col: str, normalized: bool = True) -> DataFrame:
    """Groups of rows with identical (optionally token-set-normalized)
    text. Output: fingerprint, n_docs, keep_id (min id), member ids."""
    if normalized:
        fp = F.md5(F.concat_ws("\x1f", F.array_sort(F.array_distinct(F.split(F.col(text_col), r"\s+")))))
    else:
        fp = F.md5(F.col(text_col))
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit shingle hashes (md5 lower 64, little-endian over
    digest bytes 8..16 == DuckDB md5_number_lower) over k-word shingles.
    Tokenization = split on single space, empties dropped, matching SQL
    string_split(text, ' ') ... WHERE w <> '' so oracles can replay it.

    (Reference single-doc path, used by tests; minhash_signatures uses the
    batched zero-copy equivalent below.)"""
    from osmalyzer_spark.functions.md5 import md5_lower64_batch

    toks = [w for w in text.split(" ") if w]
    if len(toks) < k:
        toks = toks + [""] * (k - len(toks))
    n = max(1, len(toks) - k + 1)
    return np.unique(
        md5_lower64_batch([" ".join(toks[i : i + k]).encode() for i in range(n)])
    )


def _batch_shingle_spans(
    texts, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[int]]:
    """All documents' k-word shingle byte-ranges over ONE flat buffer.

    A k-word shingle " ".join(toks[i:i+k]) is a contiguous byte slice of
    " ".join(toks), so no per-shingle string/bytes object is needed —
    returns (flat_uint8, starts, lens, shingles_per_doc) ready for
    md5_lower64_ranges. This is the MinHash signature hot path
    (BENCH.md micro: ~3x over the per-shingle hashlib loop).
    """
    bufs: list[bytes] = []
    starts_parts: list[np.ndarray] = []
    lens_parts: list[np.ndarray] = []
    counts: list[int] = []
    base = 0
    for t in texts:
        toks = [w for w in (t or "").split(" ") if w]
        if len(toks) < k:
            toks = toks + [""] * (k - len(toks))
        doc = " ".join(toks).encode()
        bufs.append(doc)
        # tokens cannot contain 0x20 (they came from split(" ")) and no
        # UTF-8 continuation byte is 0x20, so separator positions are one
        # byte scan
        arr = np.frombuffer(doc, dtype=np.uint8)
        sep = np.nonzero(arr == 32)[0]
        tok_starts = np.concatenate(([0], sep + 1))
        tok_ends = np.concatenate((sep, [len(doc)]))
        n_sh = len(toks) - k + 1
        starts_parts.append(base + tok_starts[:n_sh])
        lens_parts.append(tok_ends[k - 1 :] - tok_starts[:n_sh])
        counts.append(n_sh)
        base += len(doc) + 1  # +1 for the separator byte between documents
    flat = np.frombuffer(b"\x00".join(bufs) + b"\x00", dtype=np.uint8)
    return (
        flat,
        np.concatenate(starts_parts) if starts_parts else np.zeros(0, np.int64),
        np.concatenate(lens_parts) if lens_parts else np.zeros(0, np.int64),
        counts,
    )


def minhash_params(num_hashes: int = 64, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """The (A, B) multiply-shift permutation family, exposed so oracle SQL
    generators can embed the identical constants."""
    rng = np.random.default_rng(seed)
    A = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return A, B


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash over k-word shingles.

    The only Python step in the pipeline: one Arrow-vectorized pandas UDF.
    The permutation family is multiply-shift over uint64 (h_i(x) =
    ((a_i*x + b_i) mod 2^64) >> 1 with odd a_i) — a single wrapping numpy
    broadcast per document, no bigint arithmetic; min-wise uniformity is
    ample for jaccard estimation (verified against exact shingle jaccard
    in tests).
    """
    A, B = minhash_params(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        from osmalyzer_spark.functions.md5 import md5_lower64_ranges

        # one vectorized md5 pass over every shingle of the Arrow batch
        flat, starts, lens, counts = _batch_shingle_spans(texts, shingle_k)
        hashes = md5_lower64_ranges(flat, starts, lens)
        out = []
        pos = 0
        for c in counts:
            sh = np.unique(hashes[pos : pos + c])
            pos += c
            vals = (A[:, None] * sh[None, :] + B[:, None]) >> np.uint64(1)  # uint64 wrap
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def _banded(keys):
    """`keys` (one bucket key per band) with each key's band index made part
    of its value, so two rows collide only on the same band's key."""
    return F.transform(keys, lambda key, band: F.struct(band, key))


def banded_pairs(df: DataFrame, probes: DataFrame | None = None) -> DataFrame:
    """Candidate pairs of rows that share a bucket key, each side's payload
    re-attached: the candidate step of every banded join in the engine
    (MinHash and SimHash bands, hyperplane-LSH tables, IVF lists).

    Each input holds one row per `id`, a `keys` array and payload columns.
    A banded caller makes the band part of the key value (`_banded`).
    Only (id, key) rows go through the bucket join; the candidate id pairs
    are deduplicated, and then each side's payload is joined back by id,
    once per pair instead of once per shared key. Each input is truncated
    once, so whatever computes its keys and payload runs once.

    Self join (`probes` None): pairs id_a < id_b of `df`. Two-sided:
    `probes` (small enough to collect, so broadcast) is side a and `df`
    side b, pairs id_a != id_b. Output: id_a, id_b, then each payload
    column c of side a as c_a and of side b as c_b. The caller applies its
    verify expression and output projection.
    """
    side_b = truncate(df)
    side_a = side_b if probes is None else truncate(probes)
    keyed_b = side_b.select("id", F.explode("keys").alias("key"))
    if probes is None:
        # one keyed frame on both sides: the bucket shuffle is reused
        ids = (
            keyed_b.alias("a")
            .join(keyed_b.alias("b"), "key")
            .filter(F.col("a.id") < F.col("b.id"))
        )
    else:
        keyed_a = side_a.select("id", F.explode("keys").alias("key"))
        ids = (
            keyed_b.alias("b")
            .join(F.broadcast(keyed_a.alias("a")), "key")
            .filter(F.col("a.id") != F.col("b.id"))
        )
    ids = ids.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).dropDuplicates()
    pay_a = side_a.drop("keys").alias("a")
    pay_b = side_b.drop("keys").alias("b")
    if probes is not None:
        pay_a = F.broadcast(pay_a)
    return (
        ids.join(pay_a, F.col("id_a") == F.col("a.id"))
        .join(pay_b, F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in pay_a.columns if c != "id"],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in pay_b.columns if c != "id"],
        )
    )


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int, threshold: float, num_hashes: int
) -> DataFrame:
    """Candidate pairs from LSH banding + signature-estimated jaccard.

    Output: (id_a, id_b, est_jaccard) with est_jaccard >= threshold.
    All JVM-side: band keys are xxhash64 over signature slices, and only
    (id, band key) rows go through the band join (`banded_pairs`).
    """
    if num_hashes % bands:
        raise ValueError(f"num_hashes {num_hashes} not divisible by bands {bands}")
    r = num_hashes // bands
    band_keys = F.array(
        *[F.xxhash64(F.slice("sig", i * r + 1, r), F.lit(i)) for i in range(bands)]
    )
    cand = banded_pairs(sigs.select("id", _banded(band_keys).alias("keys"), "sig"))
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(num_hashes)
    )
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return minhash_lsh_pairs(sigs, bands, threshold, num_hashes=num_hashes)


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, simhash: long) 64-bit SimHash over space-separated word tokens
    (count-weighted majority vote per bit; token hash = md5 lower 64).

    Tokenization is split-on-single-space with empties dropped, matching
    SQL string_split(text, ' ') ... WHERE w <> '' exactly.
    """

    @F.pandas_udf(T.LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        from osmalyzer_spark.functions.md5 import md5_lower64_batch

        # hash the batch's distinct vocabulary in ONE vectorized md5 pass
        tok_lists = [[w for w in (t or "").split(" ") if w] for t in texts]
        vocab = list({w for toks in tok_lists for w in toks})
        cache = dict(zip(vocab, md5_lower64_batch([w.encode() for w in vocab])))
        out = np.empty(len(texts), dtype=np.int64)
        bit_idx = np.arange(64, dtype=np.uint64)
        for i, toks in enumerate(tok_lists):
            if not toks:
                out[i] = 0
                continue
            hashes = np.fromiter((cache[w] for w in toks), dtype=np.uint64, count=len(toks))
            bits = (hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (n_tok, 64)
            score = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            fp = ((score > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
            out[i] = fp.astype(np.int64)  # wrap, not raise, on the top bit
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(fps: DataFrame, max_hamming: int, bands: int) -> DataFrame:
    """COMPLETE set of pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates via band buckets over the 64-bit fingerprint
    (`banded_pairs`); by pigeonhole a pair with <= bands-1 differing bits
    must share at least one intact band, so completeness REQUIRES
    bands >= max_hamming + 1 (enforced). Verification is native
    bit_count(a ^ b). Band widths are ceil/floor(64/bands) — uneven widths
    are fine, only coverage matters.
    """
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming={max_hamming}: "
            f"need bands >= max_hamming + 1 = {max_hamming + 1} (pigeonhole)"
        )
    if not 1 <= bands <= 64:
        raise ValueError(f"bands must be in [1, 64], got {bands}")
    base, extra = divmod(64, bands)
    widths = [base + 1] * extra + [base] * (bands - extra)
    offsets = [sum(widths[:i]) for i in range(bands)]
    band_keys = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in zip(offsets, widths)
        ]
    )
    cand = banded_pairs(fps.select("id", _banded(band_keys).alias("keys"), "simhash"))
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6
) -> DataFrame:
    """Exact word-set jaccard pairs >= threshold via inverted-index join.

    Size-band prefilter: J(A,B) >= t implies |B| <= |A|/t (and vice
    versa) — applied before the expensive grouped count so skewed common
    tokens don't explode the shuffle more than necessary. Quadratic in
    bucket sizes; use minhash_dedup at scale.
    """
    words = (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(F.split(F.col(text_col), r"\s+"))).alias("w"))
        .filter(F.col("w") != "")
    )
    sizes = words.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    wa = words.join(sizes, "doc").select(
        F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"), "w"
    )
    wb = words.join(sizes, "doc").select(
        F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"), "w"
    )
    common = (
        wa.join(
            wb,
            (wa.w == wb.w)
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.greatest("sz_a", "sz_b") * threshold <= F.least("sz_a", "sz_b")),
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _local_components(pdf: "pd.DataFrame"):
    """Driver-local CC over an edge frame (columns a, b): numpy
    scatter-min + pointer jumping, O(log n) passes. Returns (nodes,
    min-label component per node) with nodes in sorted order, so labels
    are EXACTLY the distributed star path's (min id per component, with
    F.least's lexicographic order for strings reproduced by the sorted
    factorization)."""
    codes, uniques = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True), sort=True
    )
    m = len(pdf)
    ia, ib = codes[:m], codes[m:]
    label = np.arange(len(uniques), dtype=np.int64)
    while True:
        prev = label.copy()
        np.minimum.at(label, ia, label[ib])
        np.minimum.at(label, ib, label[ia])
        while True:
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, prev):
            break
    return np.asarray(uniques), label, ia


def connected_components_star(
    pairs: DataFrame,
    with_rounds: bool = False,
    local_edge_threshold: int = 2_000_000,
    edge_count_bound: int | None = None,
    edge_counts_out: dict | None = None,
):
    """Connected components via alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    Components in MapReduce and Beyond", SoCC 2014): converges in
    O(log n) rounds INDEPENDENT of component diameter, unlike min-label
    propagation's O(diameter). This is the scale path for dense candidate
    graphs (the Riga-hotspot case, where one geometric component can span
    the whole extent and its diameter ~ extent/seek_distance — measured
    in BENCH.md).

    large-star: every node links its larger neighbors to the minimum of
    its closed neighborhood; small-star: edges oriented to the larger
    endpoint, which links its (smaller) neighbors and itself to that
    minimum. The edge set converges to per-component stars rooted at the
    component minimum; labels read off as min(closed neighborhood).

    Output: (id, component = min id of the component); optionally
    ((id, component), rounds). Raises if the rounds do not converge in
    `_CC_MAX_ITER`.

    Small-graph fast path: when the DEDUPLICATED edge count is at most
    `local_edge_threshold` (a driver-memory bound — ~32 MB of int64
    edges at the default, independent of cluster size, the same
    discipline as a broadcast-join threshold), the component solve runs
    at the driver (numpy scatter-min + pointer jumping) instead of
    paying O(log n) rounds of shuffle latency; the candidate graph
    after dead-pair pruning is typically orders of magnitude smaller
    than the input, so this triggers exactly when round latency — not
    data volume — dominates. The gate is deliberately NOT larger: the
    scatter-min's np.minimum.at constants put a worst-case random
    12M-edge solve at ~40 s on one core, while the distributed star
    rounds — with lazy per-round checkpoints — clear a 4.8M-edge
    geometric graph in ~7 s at local[8] (measured round 5), so beyond a
    few million edges the cluster path wins even at low parallelism.
    Labels are identical to the distributed path's; rounds reports 0.
    Pass local_edge_threshold=0 to force the distributed star rounds
    (tests of the scale path do).

    `edge_counts_out`: optional dict the driver-local path fills with
    {component id: number of input edge rows (duplicates included)} —
    a free byproduct of the numpy solve that lets a caller who fed one
    edge row per candidate pair skip its own per-component sizing join.
    It is filled only when the solve read those per-pair rows (taken
    through `edge_count_bound`); a solve of the deduplicated edge set
    and the distributed path leave it untouched (caller falls back).
    """
    spark = pairs.sparkSession
    raw = pairs.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    # the caller already knows an upper bound on the edge count (e.g. the
    # candidate-pair count it just materialized): take the local path
    # directly, skipping the distinct shuffle and the sizing count —
    # _local_components' scatter-min is idempotent under duplicate edges,
    # so labels are identical
    per_pair = edge_count_bound is not None and edge_count_bound <= local_edge_threshold
    e = raw
    if not per_pair:
        e = truncate(raw.distinct())  # the sizing count below materializes it
        # the ~6 shuffles per star round are sized from the EDGE COUNT,
        # not the cluster (`data_partitions`)
        n_edges = e.count()
        if n_edges > local_edge_threshold:
            cc_parts = data_partitions(n_edges)
            with shuffle_partitions(spark, cc_parts):
                return _star_rounds(e.coalesce(cc_parts), with_rounds, cc_parts)
    pdf = e.toPandas()
    nodes, label, ia = _local_components(pdf)
    # only per-pair (not deduplicated) edge rows count the caller's pairs
    if per_pair and edge_counts_out is not None and len(pdf):
        comps_u, counts = np.unique(nodes[label[ia]], return_counts=True)
        edge_counts_out.update(
            (c.item() if hasattr(c, "item") else c, int(n))
            for c, n in zip(comps_u, counts)
        )
    id_type = raw.schema["a"].dataType
    out = spark.createDataFrame(
        pd.DataFrame({"id": nodes, "component": nodes[label]}),
        schema=T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        ),
    )
    return (out, 0) if with_rounds else out


def _star_rounds(e: DataFrame, with_rounds: bool, cc_parts: int):
    """Alternating large/small-star rounds (shuffle partitions pinned to
    `cc_parts` by the caller for the duration). Each round's edge set is
    truncated through `lineage.truncate`, whose lazy checkpoint the
    round's signature collect materializes."""

    def canonical(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def signature(df: DataFrame) -> tuple[int, int]:
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    sig = signature(e)
    rounds_used = 0
    for rounds_used in range(1, _CC_MAX_ITER + 1):
        # large-star
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least("u", "mv")
        # NOT materialized, and NOT deduplicated: the small-star step
        # below consumes this twice, but both consumers share the
        # identical subplan, which Spark's ReuseExchange computes once
        # within the round's single job. Duplicate edges out of
        # large-star are harmless to small-star's min aggregates and are
        # removed by the end-of-round canonical — skipping the
        # intermediate distinct drops one exchange from every round
        # (round latency, not data volume, dominates CC wall at 1M rows)
        mid = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), m.alias("y"))
        )
        e = (
            mid.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
        )
        # small-star: orient every edge to its larger endpoint
        big = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = big.groupBy("u").agg(F.min("v").alias("mv"))
        linked = (
            big.join(mins2, "u")
            .filter(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("x"), F.col("mv").alias("y"))
        )
        selfs = mins2.select(F.col("u").alias("x"), F.col("mv").alias("y"))
        e = truncate(canonical(linked.unionAll(selfs)))
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {_CC_MAX_ITER} rounds"
        )
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return_df = (
        sym.groupBy("u")
        .agg(F.least(F.first("u"), F.min("v")).alias("component"))
        .select(F.col("u").alias("id"), "component")
    )
    return (return_df, rounds_used) if with_rounds else return_df
