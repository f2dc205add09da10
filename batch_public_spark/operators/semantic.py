"""Semantic dedup + similarity search (north-star ops, BASELINE.json).

Families implemented (each designed around its 100 TB shuffle story):

- **Exact dedup** — md5-of-normalized-text groupBy; partial agg map-side.
- **MinHash + LSH** — shingle → k minhashes → b bands → bucket equi-join.
  The band join is the scale path: candidate generation is a same-bucket
  shuffle join (linear in data + bucket collisions), never all-pairs.
- **SimHash** — 64-bit signature via per-bit weighted sums; near-dup =
  small Hamming distance. Signature build is one aggregation-free pass.
- **N-gram Jaccard** — exact verification on candidate pairs (used as the
  verifier behind MinHash candidates; or standalone on bounded subsets).
- **Embedding near-dup / ANN** — blocked-GEMM near-dup pairs, and one
  map-side GEMM top-k kernel behind brute-force, LSH and IVF search.

Everything is DataFrame-native (higher-order array functions, xxhash64,
joins); no Python in the row path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from batch_public_spark.operators.textops import normalized_text
from batch_public_spark import util

# ---------------------------------------------------------------------------
# Shingles + exact Jaccard
# ---------------------------------------------------------------------------


def word_shingles_all(text: Column, n: int = 3) -> Column:
    """ALL word n-gram shingles of the normalized text, in order and with
    repeats (position-multiset — what repetition scoring needs). Documents
    shorter than n words get their whole text as the single shingle.

    Built as ``zip_with`` over n shifted slices of the token array —
    n vectorized array ops per document instead of a per-position
    ``transform(..., slice(...))`` lambda (slice is O(words) per element,
    making the naive form O(words²) interpreted work; the shifted-slice
    form measured ~6× faster on the documents corpus). For k < n words the
    trailing slices come up short; ``zip_with`` null-pads and ``concat_ws``
    skips nulls, yielding the whole-text single shingle."""
    toks = F.split(normalized_text(text), " ")
    length = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, length)
    for i in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(toks, i, length), lambda x, y: F.concat_ws(" ", x, y)
        )
    return grams


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (set form — what Jaccard/MinHash
    consume). See :func:`word_shingles_all` for the build strategy."""
    return F.array_distinct(word_shingles_all(text, n))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def jaccard_text(a: Column, b: Column, shingle_n: int = 3) -> Column:
    """Exact word-shingle Jaccard of two RAW texts as one Arrow-batched
    pandas UDF — semantics identical to ``jaccard(word_shingles(a),
    word_shingles(b))`` (same normalization, distinct shingles, short-doc
    whole-text shingle, empty-union → 0.0).

    Exists for the verify step above candidate-pair joins. The pure-Column
    form is a hazard there: a ``.filter(jaccard >= t)`` above the pair join
    collapses into the join as a CONDITION, so the whole shingle expression
    is evaluated per probe row in interpreted (non-codegen) mode and then
    AGAIN in the projection — measured 8× slower on minhash_candidates at
    sf0.1. A Python UDF cannot appear in a join condition, so Catalyst keeps
    it (and the threshold filter) above the join, evaluated once per
    candidate pair. Candidates ≪ corpus, so the Python cost is off the
    critical path at scale. (A semi-join-then-shingle array variant was
    A/B-measured ~0.5 s slower warm — see minhash_candidates;
    tests/test_properties.py pins this UDF equal to the Column form.)"""
    n = shingle_n

    @pandas_udf("double")
    def _j(ta: pd.Series, tb: pd.Series) -> pd.Series:
        import re

        # Match normalized_text + word_shingles exactly: Java \s is ASCII.
        ws = re.compile(r"\s+", re.ASCII)

        def shingles(t: str) -> set:
            toks = ws.sub(" ", t.lower()).strip(" ").split(" ")
            return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}

        out = []
        for x, y in zip(ta, tb):
            if x is None or y is None:
                out.append(None)
                continue
            sa, sb = shingles(x), shingles(y)
            u = len(sa | sb)
            out.append(len(sa & sb) / u if u else 0.0)
        return pd.Series(out, dtype="float64")

    return _j(a, b)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per identical normalized text. Map-side partial
    min() makes this one cheap shuffle of (hash → min id) pairs."""
    h = F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


_MAX_LONG = (1 << 63) - 1
# Hashes are reduced mod 2^31-1 before the k·h2 expansion so every derived
# slot value stays < 64·2^31 ≈ 2^37 — no long overflow under ANSI mode
# (Spark 4 default), same trick as MLlib's MinHashLSH prime-modulus family.
_MERSENNE31 = (1 << 31) - 1


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """k MinHash slots via Kirsch-Mitzenmacher double hashing: slot k's hash
    of shingle s is ``h1(s) + k·h2(s)`` (wrapping long arithmetic), so each
    shingle is string-hashed exactly TWICE regardless of k — not k times.
    Standard practice for MinHash at scale; also shrinks the codegen'd
    expression tree ~k×.

    Built as ONE ``aggregate`` pass with an array-of-k accumulator
    (``zip_with(acc, hashes(s), least)``) rather than k separate
    ``array_min(transform(...))`` traversals."""
    init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes)

    def step(acc: Column, s: Column) -> Column:
        h1 = F.pmod(F.xxhash64(F.lit(0), s), F.lit(_MERSENNE31))
        h2 = F.pmod(F.xxhash64(F.lit(1), s), F.lit(_MERSENNE31))
        hashes = F.array(*[h1 + F.lit(k) * h2 for k in range(num_hashes)])
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(shingles, init, step)


def _bucket_pairs(
    postings: DataFrame, key_cols: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ids sharing a bucket key,
    evaluating the postings subtree exactly ONCE.

    ``groupBy(key).collect_set(id)`` gathers each bucket, oversized buckets
    (> max_bucket members — degenerate boilerplate) drop in the same pass,
    and the pairs come from in-array combinatorics: for the sorted member
    array, element i pairs with every later element. One shuffle of posting
    triples + one of emitted pairs; no self-join (which would re-evaluate
    the upstream — typically a whole signature pipeline — twice)."""
    members = (
        postings.groupBy(*key_cols)
        .agg(F.collect_set(id_col).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket))
        .select(F.array_sort("_ids").alias("_ids"))
    )
    ids = F.col("_ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return members.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )


def bucket_pairs(
    postings: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int,
    *,
    count_col: str | None = None,
) -> DataFrame:
    """Public wrapper over :func:`_bucket_pairs`: distinct candidate pairs,
    or — when ``count_col`` is given — pairs with their shared-bucket
    multiplicity (how many bucket keys the two ids co-occur in), for
    shared-fingerprint thresholds."""
    raw = _bucket_pairs(postings, key_cols, id_col, max_bucket)
    if count_col is None:
        return raw.distinct()
    return raw.groupBy("id_a", "id_b").agg(F.count("*").alias(count_col))


def lsh_bands(signature: Column, bands: int, rows: int) -> Column:
    """Band the signature: array of (band_id, bucket_hash) structs."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    F.concat_ws(
                        "_", *[F.element_at(signature, b * rows + r + 1).cast("string") for r in range(rows)]
                    ),
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_signature_agg(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc minhash signature as ``num_hashes`` columns ``m0..m{k-1}``
    via explode → hash-aggregate.

    Same hash family and results as :func:`minhash_signatures`
    (Kirsch-Mitzenmacher ``h1 + k·h2``: two string hashes per shingle, k
    derived slots). That function is the preferred form for new code: it
    is itself pure-JVM (one in-row ``zip_with`` HOF fold per doc, no
    Arrow/pandas, no shuffle). This explode → groupBy form is retained
    for consumers that need the signature as k separate columnar slots
    ``m0..m{k-1}`` (per-hash column pruning, per-slot statistics) rather
    than one ``array<long>``; its shuffle carries one row of k longs per
    doc, with map-side partial ``min()`` aggregation."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_s"),
    ).select(
        "_id",
        F.pmod(F.xxhash64(F.lit(0), F.col("_s")), F.lit(_MERSENNE31)).alias("_h1"),
        F.pmod(F.xxhash64(F.lit(1), F.col("_s")), F.lit(_MERSENNE31)).alias("_h2"),
    )
    return base.groupBy("_id").agg(
        *[F.min(F.col("_h1") + F.lit(k) * F.col("_h2")).alias(f"m{k}") for k in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc minhash signature as ONE ``array<long>`` column ``_sig`` —
    zero-shuffle, zero-Python formulation.

    Identical hash family and results as :func:`minhash_signature_agg`
    (Kirsch-Mitzenmacher ``h1 + k·h2`` over the same shingle set), but
    instead of explode → groupBy(k mins) — whose shuffle carries every
    (doc, shingle) hash pair — the whole reduction is the in-row
    :func:`minhash_signature` HOF aggregate (one ``zip_with(acc, hashes,
    least)`` pass over the shingle array). No exchange anywhere, and no
    Python workers either: an earlier revision ran the k-way min as an
    Arrow pandas UDF, which benched faster than the groupBy form but paid
    a Python-worker warm-up per cold executor — the pure-JVM form now
    measures ~2× faster warm at sf0.1 (0.21 s vs 0.48 s) and removes the
    worker dependency from the whole minhash path (verified
    signature-identical on the full fixture, 500/500).

    The input is ``spread()`` first: signature compute is pure per-row work,
    so it should run at full cluster width even when the corpus arrives as
    few row groups (no-op on a well-split corpus)."""
    from batch_public_spark.sources.tables import spread

    return spread(df).select(
        F.col(id_col).alias("_id"),
        minhash_signature(word_shingles(F.col(text_col), shingle_n), num_hashes).alias(
            "_sig"
        ),
    )


def minhash_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH bucket, with exact
    Jaccard attached for thresholding.

    Scale design: explode to (bucket, id) — one row per doc per band — then
    a self equi-join on (band, bucket). ``max_bucket`` drops degenerate hot
    buckets (boilerplate shingles) the way production dedup pipelines cap
    posting lists; AQE's skew-join splitting handles the rest. The exact-
    Jaccard verify joins shingle arrays back in (hash join on id).
    """
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    buckets = sig.select(
        "_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("b")
    ).select("_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    # ONE pass over the posting rows: gather each bucket's members and emit
    # its pairs with in-array combinatorics. A bucket self-JOIN would
    # evaluate the whole signature subtree twice (both join inputs) and
    # shuffle postings twice (join key + pair distinct); this shuffles the
    # (id, band, bucket) triples once, caps oversized buckets for free off
    # the gathered size, and bounds pair blowup at max_bucket² per bucket —
    # the same posting-list capping production dedup uses for boilerplate.
    from batch_public_spark.sources.tables import spread

    pairs = bucket_pairs(buckets, ["band", "bucket"], "_id", max_bucket)
    # spread(): the verify wave below is per-PAIR Python compute (shingle
    # both texts, intersect) while the pair rows are a few bytes each, so
    # AQE's byte-based coalescing runs the whole wave on one post-shuffle
    # partition (SQL metrics at sf0.1: 17,386 pairs through ArrowEvalPython
    # in a 1-task 1.7 s stage). Width must follow compute, not bytes, for
    # this stage — no-op when the pair set is already wide (guide §2.5;
    # interleaved A/B at sf0.1: 3.1 -> 2.1 s, values identical).
    pairs = spread(pairs)
    # Verify: join pairs to RAW TEXT and shingle only the matched rows in
    # one Arrow batch (jaccard_text). Two alternatives were measured and
    # rejected in matched interleaved A/B at sf0.1: pre-shingling the
    # corpus before the join re-evaluates word_shingles for every corpus
    # row during the probe (projections don't push through joins), and a
    # semi-join-then-shingle variant with lazily checkpointed pairs/
    # shingle frames added two stage barriers + two extra joins that cost
    # more (~+0.5 s warm) than the per-pair Python shingling they avoid —
    # candidates ≪ corpus, so the UDF is off the critical path at scale.
    txt = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    return (
        pairs.join(txt.withColumnRenamed("_id", "id_a").withColumnRenamed("_txt", "t_a"), "id_a")
        .join(txt.withColumnRenamed("_id", "id_b").withColumnRenamed("_txt", "t_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_text(F.col("t_a"), F.col("t_b"), shingle_n).alias("jaccard"),
        )
    )


def dedup_minhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    **kw,
) -> DataFrame:
    """Near-dup dedup decision: among verified pairs (Jaccard ≥ threshold),
    keep the smallest id of each connected pair (greedy single-link on
    direct pairs — the standard one-pass approximation; a full
    connected-components pass is an iterative join loop at scale)."""
    cand = minhash_candidates(df, text_col=text_col, id_col=id_col, **kw)
    dups = cand.filter(F.col("jaccard") >= threshold)
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash over word shingles: bit i set iff the sum of
    (hash_bit_i ? +1 : -1) over shingles is positive.

    ONE ``aggregate`` pass carrying a 64-counter array accumulator
    (``zip_with(acc, votes(h), +)``), then a fold of the counter signs into
    a bigint — not 64 separate aggregates (codegen blowup)."""
    hashes = F.transform(word_shingles(text, shingle_n), lambda s: F.xxhash64(s))
    init = F.array_repeat(F.lit(0).cast("long"), 64)

    def step(acc: Column, h: Column) -> Column:
        votes = F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
                .cast("long")
                for i in range(64)
            ]
        )
        return F.zip_with(acc, votes, lambda a, v: a + v)

    counters = F.aggregate(hashes, init, step)
    # sign(counter_i) → bit i; fold bits into one bigint in a second
    # fixed-64 pass over the counter array. shiftleft() needs a literal
    # shift, so the bit value comes from pow(2, i) — exact in double up to
    # 2^62 — with the sign bit (i=63) special-cased to Long.MIN_VALUE.
    return F.aggregate(
        F.zip_with(
            counters,
            F.sequence(F.lit(0), F.lit(63)),
            lambda c, i: F.when(
                c > 0,
                F.when(i == 63, F.lit(-(1 << 63)).cast("long")).otherwise(
                    F.pow(F.lit(2.0), i.cast("double")).cast("long")
                ),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signature_agg(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Per-doc 64-bit SimHash as ``(_id, _sig)`` via explode →
    hash-aggregate: 64 native ``sum(case)`` bit-votes per doc, then the sign
    bits folded into a bigint. Identical math to :func:`simhash64`, but
    whole-stage-codegen'd with map-side partial aggregation instead of an
    interpreted per-element lambda chain."""
    h = F.xxhash64(F.col("_s"))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_s"),
    )
    votes = base.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        bit_val = F.lit(-(1 << 63)).cast("long") if i == 63 else F.lit(1 << i).cast("long")
        sig = sig + F.when(F.col(f"v{i}") > 0, bit_val).otherwise(F.lit(0).cast("long"))
    return votes.select("_id", sig.alias("_sig"))


def simhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Per-doc 64-bit SimHash as ``(_id, _sig)`` — zero-shuffle formulation.

    Bit-identical to :func:`simhash_signature_agg` (same shingle set, same
    xxhash64 per shingle, same votes>0 sign rule), but the shingle hashes
    stay an array column and the 64 bit-votes + sign-pack run as one
    Arrow-batched pandas UDF (numpy arithmetic shift matches Spark
    ``shiftright`` on int64). Entirely map-side: the explode → groupBy(64
    sums) shuffle disappears, which is what matters at corpus scale.

    Input is ``spread()`` for full-width per-row compute (no-op on a
    well-split corpus)."""
    from batch_public_spark.sources.tables import spread

    # NULL text has no shingle array for the worker fold (and no
    # signature semantics) — drop it BEFORE spread() so malformed rows
    # never enter the repartition exchange, the same order as the
    # valid_vectors guard (tests/test_pathological_inputs.py)
    df = spread(df.filter(F.col(text_col).isNotNull()))

    @pandas_udf("long")
    def _sig(hashes: pd.Series) -> pd.Series:
        bit_ids = np.arange(64, dtype=np.int64)
        bit_vals = (np.uint64(1) << bit_ids.astype(np.uint64))
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            h = np.asarray(hs, dtype=np.int64)
            if h.size == 0:
                continue
            bits = (h[:, None] >> bit_ids) & 1  # arithmetic shift == shiftright
            votes = (2 * bits - 1).sum(axis=0)
            packed = bit_vals[votes > 0].sum(dtype=np.uint64)
            out[i] = np.int64(packed.astype(np.int64))
        return pd.Series(out)

    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.transform(word_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias(
            "_hs"
        ),
    )
    return hashed.select("_id", _sig("_hs").alias("_sig"))


def simhash_neardup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (a signature within
    Hamming ≤ 3 of another must share ≥1 of 4 bands exactly — pigeonhole),
    then verify Hamming on candidates. Same banded-join scale story as
    MinHash LSH."""
    sig = simhash_signatures(df, text_col=text_col, id_col=id_col)
    bands = 64 // band_bits
    banded = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("_sig"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # Same one-pass bucket-gather as _bucket_pairs, carrying the signature
    # inside the member struct so the Hamming verify happens in-array — the
    # banded self-join alternative evaluates the signature subtree twice.
    members = (
        banded.groupBy("band", "key")
        .agg(F.collect_set(F.struct(F.col("_id"), F.col("_sig"))).alias("_ms"))
        .filter(F.size("_ms") >= 2)
        .select(F.array_sort("_ms").alias("_ms"))
    )
    ms = F.col("_ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    hamming64(x["_sig"], y["_sig"]).alias("hamming"),
                ),
            ),
        )
    )
    # Apply the Hamming threshold IN-ARRAY, before the explode and the
    # pair-dedup exchange (guide §2.3: shuffle fewer bytes): a signature
    # is unique per id, so hamming is functionally determined by
    # (id_a, id_b) and filter-then-distinct ≡ distinct-then-filter — but
    # the distinct now shuffles only the (typically few) pairs that pass
    # the threshold instead of every candidate pair in every band.
    near = F.filter(pair_structs, lambda p: p["hamming"] <= F.lit(max_hamming))
    return (
        members.select(F.explode(near).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding similarity (cosine) — brute force + hyperplane LSH
# ---------------------------------------------------------------------------


def valid_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Ingest guard for every numpy-batched vector path: drop malformed
    embedding rows (NULL or zero-length arrays) before they reach a
    worker-side ``np.vstack``/GEMM, which cannot represent them. Value
    judgment, stated: a vector that does not exist cannot be anyone's
    neighbor — dropping beats poisoning a whole Arrow batch with one bad
    row. Value-neutral on the driver fixtures (no malformed vectors
    exist); tests/test_pathological_inputs.py exercises the guard."""
    return df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    # Divide SEQUENTIALLY (dot / na / nb) under an na>0 AND nb>0 guard:
    # each division then has a non-underflowing positive divisor, so two
    # tiny-but-positive norms (e.g. identical 1e-200 vectors) yield the
    # true cosine (1.0) instead of either raising DIVIDE_BY_ZERO under
    # ANSI mode (the r6 na*nb-denominator form: the product underflows to
    # exactly 0.0) or silently reporting 0.0 for a well-defined pair (the
    # r7-flagged na*nb>0 guard). Denormal-norm vectors are the only case
    # where the result differs from dot/(na*nb), and there it's the
    # correct one.
    return F.when((na > 0) & (nb > 0), dot / na / nb).otherwise(F.lit(0.0))


def row_norm(col: Column) -> Column:
    """``sqrt(Σx²)`` as a per-row projection — the SAME expression
    cosine() evaluates inline for each operand, factored out so pair
    streams (candidate ranking, brute-force scoring) can compute each
    side's norm once per ROW instead of once per PAIR. Bit-identical to
    the inline form: same input, same transform/fold/sqrt ops."""
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def fused_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() with the norms supplied from row_norm() projections: one
    zip_with dot fold per pair, the SEQUENTIAL dot/na/nb division and
    positive-norm guard kept verbatim — returns bit-identical values to
    ``cosine(a, b)`` whenever na/nb came from row_norm(a)/row_norm(b)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when((na > 0) & (nb > 0), dot / na / nb).otherwise(F.lit(0.0))


# Hard ceiling on any driver-side control-plane collect in the ANN family
# (query samples, centroid models). Every caller passes a fixed-count
# bounded frame by construction; this enforces the contract at the operator
# boundary so a future caller passing a corpus fraction fails loudly
# instead of OOMing the driver silently (r14 verdict item #5). 10k rows of
# (id, 64-dim double vector) ≈ 5 MB — far inside driver memory, far above
# any legitimate sample.
_CONTROL_PLANE_MAX_ROWS = 10_000

# Per-task scratch ceiling of the top-k kernel. One (corpus row, query)
# cell costs at most 32 bytes while a batch is scored: the float64 GEMM
# output, its rounded copy and the candidate-mask temporaries. A batch
# scores as many queries at a time as fit; the rest follow in slices.
_TOPK_SCRATCH_BYTES = 64 << 20
_TOPK_CELL_BYTES = 32

# Seed of the engine's one hyperplane family (see _hyperplanes).
_HYPERPLANE_SEED = 101


def _collect_control_plane(df: DataFrame, what: str, cap: int = _CONTROL_PLANE_MAX_ROWS):
    """Collect a bounded control-plane frame (ANN query sample, centroid
    model) with the bound ENFORCED: collects at most ``cap + 1`` rows (the
    limit bounds driver memory even on an unbounded input) and raises if
    the frame overflows the cap. Equivalent to the broadcast it replaces
    for any legitimate caller; order-preserving when the input is sorted
    (limit-after-sort plans as TakeOrdered)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: control-plane frame exceeds {cap} rows. This side "
            "must be a fixed-count bounded sample (id-threshold or "
            "hash-rank top-K), never a corpus fraction — it is collected "
            "to the driver and shipped in a task closure."
        )
    return rows


def _matrix(vecs) -> np.ndarray:
    """Stack vectors as float64 rows; float32 widens exactly, as the
    per-element ``cast("double")`` of the expression forms does."""
    return np.vstack(vecs).astype(np.float64) if len(vecs) else np.empty((0, 0))


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit norm; zero-norm rows stay zero, so they score
    0.0 against everything (cosine()'s guard)."""
    norms = np.linalg.norm(m, axis=1)
    out = np.zeros_like(m)
    nz = norms > 0
    out[nz] = m[nz] / norms[nz, None]
    return out


def _rounded_sims(a_unit: np.ndarray, b_unit: np.ndarray, round_sim: int) -> np.ndarray:
    """Cosines of every ``a`` row against every ``b`` row (one GEMM),
    rounded half-away-from-zero at ``round_sim`` decimals — the F.round /
    DuckDB ROUND rule (np.round would be half-to-even). In-place passes;
    the trailing +0.0 turns copysign's -0.0 into F.round's +0.0."""
    sims = a_unit @ b_unit.T
    scale = 10.0**round_sim
    r = np.abs(sims)
    r *= scale
    r += 0.5
    np.floor(r, out=r)
    np.copysign(r, sims, out=r)
    r /= scale
    r += 0.0
    return r


def _query_side(queries: DataFrame, id_col: str, vec_col: str, what: str):
    """Collect the bounded query sample: ``(ids, float64 matrix)``."""
    rows = _collect_control_plane(
        valid_vectors(queries, vec_col).select(id_col, vec_col), what
    )
    return [r[0] for r in rows], _matrix([r[1] for r in rows])


def _no_neighbors(vectors: DataFrame, id_col: str) -> DataFrame:
    id_t = vectors.schema[id_col].dataType.simpleString()
    return vectors.sparkSession.createDataFrame(
        [], f"query_id {id_t}, neighbor_id {id_t}, sim double, rank int"
    )


def _gemm_topk(
    vectors: DataFrame,
    q_ids: list,
    qmat: np.ndarray,
    candidates=None,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    round_sim: int,
) -> DataFrame:
    """The ANN family's one top-k kernel: ``(query_id, neighbor_id, sim,
    rank)`` for the k nearest corpus rows of each query by cosine.

    Shape: partition-local pruning, then a global merge. Building the plan
    collects the bounded query side (``_query_side``; IVF also collects
    its centroid list) to the driver; it ships in a ``mapInPandas``
    closure. Each corpus Arrow batch scores against the queries with one
    numpy GEMM per query slice (slices keep a task's scratch under
    ``_TOPK_SCRATCH_BYTES``) and keeps a running per-query top-k, so a
    task emits at most K·k rows however many corpus rows it scanned. The
    corpus is never shuffled or amplified; the only exchange is the final
    ``row_number`` merge of ≤ K·k·n_tasks rows.

    ``candidates(m, lo, hi)`` narrows the search: given a batch's float64
    vector matrix it returns the ``(rows × (hi - lo))`` mask of rows that
    may pair with queries ``lo..hi-1``. Brute force passes none; LSH
    passes its bucket match, IVF its probed inverted lists.

    Parity discipline (what makes the GEMM results hash-equal to the
    expression/DuckDB cosine): float32 widens to float64 exactly; sims
    are rounded half-away-from-zero at ``round_sim`` decimals BEFORE any
    ranking, which absorbs GEMM-vs-fold accumulation-order noise; -0.0
    normalizes to +0.0; zero-norm vectors score 0.0; a query never
    neighbors its own id; per-task selection and the final window use the
    identical (sim DESC, neighbor_id ASC) total order, so the global top-k
    equals the top-k of the unioned per-task top-ks exactly."""
    if not q_ids:
        return _no_neighbors(vectors, id_col)
    util.ensure_workers_can_import(vectors.sparkSession)  # closure uses this module
    id_t = vectors.schema[id_col].dataType.simpleString()
    qunit = _unit_rows(qmat)
    nq = len(q_ids)

    def top(s, i):
        if len(s) <= k:
            return s, i
        try:
            order = np.lexsort((i, -s))  # s DESC, id ASC
        except TypeError:  # non-numeric ids (object dtype)
            order = np.array(sorted(range(len(s)), key=lambda j: (-s[j], i[j])))
        order = order[:k]
        return s[order], i[order]

    def _task_topk(batches):
        best: list = [None] * nq  # per query: (sims, ids) running top-k
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = _matrix(pdf[vec_col].to_numpy())
            munit = _unit_rows(m)
            step = max(1, _TOPK_SCRATCH_BYTES // (_TOPK_CELL_BYTES * len(ids)))
            for lo in range(0, nq, step):
                hi = min(lo + step, nq)
                allowed = candidates(m, lo, hi) if candidates is not None else None
                r = _rounded_sims(munit, qunit[lo:hi], round_sim)
                for j in range(hi - lo):
                    qi = lo + j
                    mask = ids != q_ids[qi]
                    if allowed is not None:
                        mask &= allowed[:, j]
                    s, i = r[mask, j], ids[mask]
                    if best[qi] is not None:
                        s = np.concatenate([best[qi][0], s])
                        i = np.concatenate([best[qi][1], i])
                    best[qi] = top(s, i)
        out_q: list = []
        out_n: list = []
        out_s: list = []
        for qi, hit in enumerate(best):
            if hit is None or len(hit[0]) == 0:
                continue
            out_q.extend([q_ids[qi]] * len(hit[0]))
            out_n.extend(list(hit[1]))
            out_s.extend(list(hit[0]))
        if out_q:
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "sim": out_s})

    scored = (
        valid_vectors(vectors, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(_task_topk, f"query_id {id_t}, neighbor_id {id_t}, sim double")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_sim: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: the
    :func:`_gemm_topk` kernel over every corpus row. Every caller passes a
    FIXED-COUNT query sample (id-threshold or hash-rank top-K), never a
    corpus fraction; the pre-r14 form ranked the full K×|corpus| pair
    stream through the window exchange (measured 12 s → ~1 s on the
    knn-graph audit at sf0.1)."""
    q_ids, qmat = _query_side(queries, id_col, vec_col, "ann_bruteforce_topk query side")
    return _gemm_topk(
        vectors, q_ids, qmat, id_col=id_col, vec_col=vec_col, k=k, round_sim=round_sim
    )


def _hyperplanes(dim: int, tables: int, planes: int) -> np.ndarray:
    """The engine's ONE hyperplane family: a seeded ±1 ``dim ×
    tables·planes`` matrix, regenerated identically wherever it is needed
    (no stored model, no broadcast). Corpus and query sides must both
    bucket through it — mixing hash families yields zero recall."""
    return np.random.RandomState(_HYPERPLANE_SEED).choice(
        [-1.0, 1.0], size=(dim, tables * planes)
    )


def _signatures(m: np.ndarray, tables: int, planes: int) -> np.ndarray:
    """``(rows × tables)`` bucket ids: each table's hyperplane-sign bits
    packed into one int64, all tables from ONE ``(rows × dim) @ (dim ×
    tables·planes)`` matmul."""
    bits = (m @ _hyperplanes(m.shape[1], tables, planes)) > 0
    return bits.reshape(len(m), tables, planes) @ (1 << np.arange(planes, dtype=np.int64))


def hyperplane_signatures_gemm(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    planes: int,
    tables: int,
) -> DataFrame:
    """Per-vector hyperplane-sign bucket ids for every hash table as ONE
    ``array<long>`` column ``_sigs``, computed map-side per Arrow batch
    (:func:`_signatures`). Replaces the posexplode → groupBy(tables·planes
    sums) formulation, whose shuffle carries dim rows per vector
    (measured ~3× faster at sf0.1, and the gap grows with corpus size)."""
    util.ensure_workers_can_import(df.sparkSession)  # the UDF uses this module

    @pandas_udf("array<long>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_signatures(_matrix(vecs.to_numpy()), tables, planes)))

    return df.select(F.col(id_col).alias("_hid"), _sigs(F.col(vec_col)).alias("_sigs"))


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    tables: int = 8,
    round_sim: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-sign bucket with
    the query in any of ``tables`` hash tables, with multi-probe (buckets
    within Hamming distance 1 of the query's also match), ranked by exact
    cosine in :func:`_gemm_topk`. The query signatures are computed once
    on the driver; each corpus batch computes its own. Recall tunes with
    (planes↓, tables↑); ``planes`` should grow ~log(corpus) to keep bucket
    occupancy flat."""
    q_ids, qmat = _query_side(queries, id_col, vec_col, "ann_lsh_topk query side")
    qsig = _signatures(qmat, tables, planes)

    def candidates(m, lo, hi):
        # x = 0 (same bucket) or a single set bit (one plane flipped) ⇔
        # x & (x - 1) == 0: the query's bucket plus its Hamming-1 probes.
        sig = _signatures(m, tables, planes)
        hit = np.zeros((len(m), hi - lo), dtype=bool)
        for t in range(tables):
            x = sig[:, t, None] ^ qsig[None, lo:hi, t]
            hit |= (x & (x - 1)) == 0
        return hit

    return _gemm_topk(
        vectors, q_ids, qmat, candidates,
        id_col=id_col, vec_col=vec_col, k=k, round_sim=round_sim,
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    round_sim: int = 6,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: each corpus row belongs to the
    inverted list of its nearest centroid, and a query searches only its
    ``nprobe`` nearest lists, exact-cosine ranked in :func:`_gemm_topk`.

    Centroids are the ``n_centroids`` smallest md5(id) rows — a uniform
    reproducible sample standing in for k-means — optionally refined by
    ``lloyd_iters`` Lloyd iterations (L2, fixed-precision means, the
    oracle-checkable discipline of kmeans_lloyd). Nearest means the
    oracle's order: rounded cosine DESC, then centroid_id ASC — the
    centroid list is sorted by id, so a stable sort (probe ranking, on the
    driver) and ``argmax`` (row assignment, per batch) both break ties by
    the lowest id. Recall tunes with nprobe."""
    corpus = valid_vectors(vectors, vec_col)
    if lloyd_iters > 0:
        cents = lloyd_centroids(
            corpus, id_col=id_col, vec_col=vec_col, k=n_centroids, iters=lloyd_iters
        ).select(F.col("cluster_id").alias("centroid_id"), F.col("cv").alias("_cv"))
    else:
        cents = (
            corpus.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cv"))
            .orderBy(F.md5(F.col("centroid_id").cast("string")))
            .limit(n_centroids)
        )
    cent_rows = _collect_control_plane(
        cents.orderBy("centroid_id"), "ann_ivf_topk centroid model"
    )
    q_ids, qmat = _query_side(queries, id_col, vec_col, "ann_ivf_topk query side")
    if not cent_rows or not q_ids:
        return _no_neighbors(vectors, id_col)
    cunit = _unit_rows(_matrix([r["_cv"] for r in cent_rows]))
    qsims = _rounded_sims(_unit_rows(qmat), cunit, round_sim)
    probed = np.zeros(qsims.shape, dtype=bool)
    nearest_q = np.argsort(-qsims, axis=1, kind="stable")[:, :nprobe]
    np.put_along_axis(probed, nearest_q, True, axis=1)

    def candidates(m, lo, hi):
        nearest = _rounded_sims(_unit_rows(m), cunit, round_sim).argmax(axis=1)
        return probed[lo:hi, nearest].T

    return _gemm_topk(
        vectors, q_ids, qmat, candidates,
        id_col=id_col, vec_col=vec_col, k=k, round_sim=round_sim,
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_sim: int = 6,
    blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact), via blocked GEMM.

    Scale design: the naive crossJoin evaluates an interpreted expression
    per pair (O(n²·dim) scalar ops). Here each vector is replicated to its
    ``blocks`` block-pair groups (replication factor B per row) and
    ``applyInPandas`` computes each block×block cosine matrix with one
    numpy matmul — vectorized, no driver-side collect, and B(B+1)/2 tasks
    of O((n/B)²·dim) FLOPs each to spread across executors. At 100 TB-scale
    corpora the LSH bucket join (ann_lsh) prunes first; this is the exact
    verifier."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    spark_blocks = blocks

    src = valid_vectors(vectors, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.col(id_col), F.lit(spark_blocks)).cast("int").alias("_blk"),
    )
    # Row with block x joins groups (min(x,o), max(x,o)) for every block o;
    # its role in the group is 'l' if it owns the smaller block id (or the
    # diagonal), else 'r'.
    memberships = F.array(
        *[
            F.struct(
                F.least(F.col("_blk"), F.lit(o)).alias("ga"),
                F.greatest(F.col("_blk"), F.lit(o)).alias("gb"),
            )
            for o in range(spark_blocks)
        ]
    )
    exploded = (
        src.select("_id", "_v", "_blk", F.explode(F.array_distinct(memberships)).alias("g"))
        .select("_id", "_v", "_blk", F.col("g.ga").alias("ga"), F.col("g.gb").alias("gb"))
    )

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np  # noqa: PLC0415

        ga, gb = int(pdf["ga"].iloc[0]), int(pdf["gb"].iloc[0])
        ids = pdf["_id"].to_numpy()
        mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        left = pdf["_blk"].to_numpy() == ga
        if ga == gb:
            sims = np.round(unit @ unit.T, round_sim)
            iu, ju = np.triu_indices(len(ids), k=1)
            mask = sims[iu, ju] >= threshold
            id_a, id_b, s = ids[iu[mask]], ids[ju[mask]], sims[iu[mask], ju[mask]]
        else:
            right = ~left
            sims = np.round(unit[left] @ unit[right].T, round_sim)
            ia, ib = np.nonzero(sims >= threshold)
            id_a, id_b, s = ids[left][ia], ids[right][ib], sims[ia, ib]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": s})

    out_schema = "id_a long, id_b long, sim double"
    return exploded.groupBy("ga", "gb").applyInPandas(block_pairs, out_schema)


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd iterations)
# ---------------------------------------------------------------------------


def _kmeans_dist2(vv: Column, cv: Column, round_at: int) -> Column:
    """Squared L2 distance, folded left-to-right (identical accumulation
    order in both engines), rounded BEFORE any ranking so the assignment
    is reproducible across engines and partition orders."""
    sq = F.zip_with(vv, cv, lambda x, y: (x - y) * (x - y))
    return F.round(F.aggregate(sq, F.lit(0.0), lambda acc, s: acc + s), round_at)


def _kmeans_assign(v: DataFrame, cents: DataFrame, round_at: int) -> DataFrame:
    """Rank-1 nearest-centroid assignment against a BROADCAST centroid set
    — the corpus never shuffles for assignment (k×dim doubles are tiny at
    any k that fits a driver)."""
    scored = v.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "vv",
        "cluster_id",
        _kmeans_dist2(F.col("vv"), F.col("cv"), round_at).alias("d2"),
    )
    w = W.partitionBy("vec_id").orderBy("d2", "cluster_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("vec_id", "vv", "cluster_id", "d2")
    )


def lloyd_centroids(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
    round_at: int = 6,
) -> DataFrame:
    """``(cluster_id, cv)`` centroids after ``iters`` Lloyd iterations from
    the deterministic md5 seed sample. The shared refinement core of
    :func:`kmeans_lloyd` and :func:`ann_ivf_topk`'s ``lloyd_iters`` path:
    per-iteration means are rounded at ``round_at`` so the trajectory is
    bit-reproducible and fully oracle-expressible. cluster_id stays the
    seed row's id (distinct by construction — stable tie-break key)."""
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vv")
    )
    cents = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(k)
        .select(F.col("vec_id").alias("cluster_id"), F.col("vv").alias("cv"))
    )
    for _ in range(iters):
        assigned = _kmeans_assign(v, cents, round_at)
        dims = assigned.select("cluster_id", F.posexplode("vv").alias("pos", "x"))
        means = dims.groupBy("cluster_id", "pos").agg(
            F.round(F.avg("x"), round_at).alias("m")
        )
        cents = means.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    return cents


def kmeans_lloyd(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
    round_at: int = 6,
) -> DataFrame:
    """Distributed k-means: deterministic seeding (the k smallest
    md5(id) — same reproducible-sample trick as ann_ivf_topk's centroid
    pick, semantic.py) + ``iters`` Lloyd iterations, then final
    assignment stats per cluster: (cluster_id, n_members, inertia).

    Iterative-algorithm shape on DataFrames (the brief's "custom
    operators (c)" tier solved with built-ins): each iteration is
    assignment (broadcast centroids, zero corpus shuffle) + recompute
    (posexplode dims → per-(cluster, dim) mean — ONE shuffle of
    dim-exploded rows with map-side partial aggregation, then the k×dim
    means gather). Means and distances are rounded to ``round_at`` so
    every iteration is bit-reproducible — that is what makes a full
    DuckDB oracle possible for an iterative algorithm. For deep runs,
    cut each iteration (sources.tables.cut) like operators.graph's label
    propagation to keep lineage bounded; 1-3 iterations need no such
    truncation.

    Inertia is the decimal-exact sum of rounded squared distances
    (registry discipline: exact components, one final rounding).
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vv")
    )
    cents = lloyd_centroids(
        vectors, id_col=id_col, vec_col=vec_col, k=k, iters=iters, round_at=round_at
    )
    final = _kmeans_assign(v, cents, round_at)
    return final.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum(F.col("d2").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("inertia"),
    )
