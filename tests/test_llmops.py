"""Cross-checks for the LLM-data-pipeline operators (north-star set).

Hash-based candidate generators (MinHash bands, SimHash bands,
hyperplane-LSH) are rows-only in the oracle harness; here each one is
validated against its exact counterpart: recall on the pairs/neighbors
the exact method finds, plus structural invariants (idempotence,
survivor ⊆ input, deterministic signatures).
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from batch_public_spark.operators import (
    ann_bruteforce_topk,
    ann_ivf_topk,
    ann_lsh_topk,
    dedup_exact,
    dedup_minhash,
    hamming64,
    jaccard,
    minhash_candidates,
    simhash64,
    simhash_neardup_pairs,
    word_shingles,
)
from batch_public_spark.operators.multimodal import decode_features, synthesize_blobs
from batch_public_spark.plans import QUERIES
from batch_public_spark.sources.tables import load_table
from tests import conftest

SF_DIR = "/root/testdata/sf0.001"


# load_table returns one memoized frame per table, so caching it swaps the
# scan for an InMemoryRelation in every later plan over that table, in
# other test modules too: unpersist when the module is done.
@pytest.fixture(scope="module")
def documents(spark):
    df = load_table(spark, SF_DIR, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def embeddings(spark):
    df = load_table(spark, SF_DIR, "embeddings").cache()
    yield df
    df.unpersist()


def _exact_pairs(documents, threshold):
    d = documents.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    a = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return {
        (r.id_a, r.id_b)
        for r in (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
            .filter(F.col("j") >= threshold)
            .collect()
        )
    }


def test_minhash_recall_vs_exact(documents):
    """Banded MinHash candidates must recover nearly all true J ≥ 0.5 pairs
    (16 bands × 4 rows ⇒ P[candidate | J=0.5] ≈ 1-(1-0.5^4)^16 ≈ 0.65 per
    band-structure math, but real near-dup pairs sit well above threshold,
    so observed recall should be high)."""
    truth = _exact_pairs(documents, 0.5)
    assert truth, "fixture should contain J>=0.5 near-dup pairs"
    got = {
        (r.id_a, r.id_b)
        for r in minhash_candidates(documents).filter(F.col("jaccard") >= 0.5).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"minhash recall {recall} over {len(truth)} true pairs"
    # verification step attaches exact Jaccard ⇒ no false positives survive
    assert got <= truth | got  # candidates are thresholded on exact J already


def test_minhash_dedup_invariants(documents):
    kept = dedup_minhash(documents, threshold=0.6)
    n_in, n_kept = documents.count(), kept.count()
    assert 0 < n_kept <= n_in
    # survivors are a subset of input ids
    assert kept.join(documents, "doc_id", "left_anti").count() == 0
    # idempotence: deduping the survivors again removes ~nothing new
    again = dedup_minhash(kept, threshold=0.6).count()
    assert again == n_kept


def test_dedup_exact_groups_identical_text(spark):
    rows = [
        Row(doc_id=1, text="Hello   World"),
        Row(doc_id=2, text="hello world"),  # same after normalization
        Row(doc_id=3, text="different entirely"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r.n_copies for r in dedup_exact(df).collect()}
    assert out == {1: 2, 3: 1}


def test_simhash_properties(spark, documents):
    # identical text ⇒ identical signature; near-identical ⇒ small Hamming
    df = spark.createDataFrame(
        [
            Row(a="the quick brown fox jumps over the lazy dog again and again",
                b="the quick brown fox jumps over the lazy dog again and again"),
        ]
    )
    r = df.select(
        hamming64(simhash64(F.col("a")), simhash64(F.col("b"))).alias("h")
    ).collect()[0]
    assert r.h == 0
    # band blocking is pigeonhole-complete: every pair the full O(n²) scan
    # finds at Hamming ≤ 3 must appear in the banded output
    sig = documents.select(F.col("doc_id").alias("_id"), simhash64(F.col("text")).alias("_sig"))
    a, b = sig.alias("a"), sig.alias("b")
    full = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming64(F.col("a._sig"), F.col("b._sig")).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    banded = {(r.id_a, r.id_b) for r in simhash_neardup_pairs(documents).collect()}
    assert banded == full


def test_control_plane_collect_guard(spark):
    """The ANN family's driver-side collects (query sample, centroid
    model) must ENFORCE their bounded-sample contract: a frame over the
    cap raises instead of silently holding a corpus fraction on the
    driver (r14 verdict item #5)."""
    from batch_public_spark.operators.semantic import _collect_control_plane

    ok = _collect_control_plane(spark.range(10), "small frame", cap=10)
    assert len(ok) == 10
    with pytest.raises(ValueError, match="control-plane frame exceeds"):
        _collect_control_plane(spark.range(50), "oversized frame", cap=10)


def _exact_sims(embeddings, q):
    """Brute-force sim of every (query, neighbor) pair: top-k with k = |corpus|."""
    n = embeddings.count()
    return {
        (r.query_id, r.neighbor_id): r.sim
        for r in ann_bruteforce_topk(embeddings, q, k=n).collect()
    }


def _assert_exact_ranked(rows, exact, k):
    """Every approximate hit is a real pair scored with its brute-force sim,
    ranked 1..k by (sim DESC, neighbor_id ASC) within its query."""
    assert rows
    by_q: dict = {}
    for r in rows:
        assert r.sim == exact[(r.query_id, r.neighbor_id)], r
        assert 1 <= r.rank <= k, r
        by_q.setdefault(r.query_id, []).append(r)
    for hits in by_q.values():
        hits.sort(key=lambda r: r.rank)
        assert [r.rank for r in hits] == list(range(1, len(hits) + 1))
        keys = [(-r.sim, r.neighbor_id) for r in hits]
        assert keys == sorted(keys)


def test_ann_lsh_recall_vs_bruteforce(embeddings):
    q = embeddings.filter(F.col("vec_id") < 20)
    bf = {(r.query_id, r.neighbor_id) for r in ann_bruteforce_topk(embeddings, q, k=5).collect()}
    rows = ann_lsh_topk(embeddings, q, k=5, planes=6, tables=8).collect()
    lsh = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(bf & lsh) / len(bf)
    # corpus is near-random (top-5 cosine ~0.3) — 0.5 is a conservative floor
    # for the 6-plane/8-table/multiprobe config (measured ~0.8 at sf0.01)
    assert recall >= 0.5, f"ann recall {recall}"
    _assert_exact_ranked(rows, _exact_sims(embeddings, q), 5)


def test_ann_bruteforce_exact_topk(embeddings):
    q = embeddings.filter(F.col("vec_id") == 0)
    rows = ann_bruteforce_topk(embeddings, q, k=3).collect()
    assert len(rows) == 3
    sims = [r.sim for r in sorted(rows, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)
    assert all(r.neighbor_id != 0 for r in rows)


def test_multimodal_decode_deterministic(documents):
    feats1 = decode_features(synthesize_blobs(documents.limit(20))).collect()
    feats2 = decode_features(synthesize_blobs(documents.limit(20))).collect()
    by_id1 = {r.doc_id: r.features for r in feats1}
    by_id2 = {r.doc_id: r.features for r in feats2}
    assert by_id1 == by_id2
    assert all(len(v) == 16 for v in by_id1.values())


def test_ann_ivf_recall_vs_bruteforce(embeddings):
    """IVF with nprobe=4 of 16 lists must recover most exact top-5 sets;
    recall tunes with nprobe (nprobe=n_centroids degenerates to exact)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    bf = {(r.query_id, r.neighbor_id) for r in ann_bruteforce_topk(embeddings, q, k=5).collect()}
    rows = ann_ivf_topk(embeddings, q, k=5, n_centroids=16, nprobe=4).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, f"ivf recall {recall}"
    _assert_exact_ranked(rows, _exact_sims(embeddings, q), 5)


def test_ann_topk_query_slices_match_unsliced(embeddings, monkeypatch):
    """A scratch budget below one (row, query) cell scores one query per
    slice; every candidate rule must return the same rows as one slice."""
    from batch_public_spark.operators import semantic

    q = embeddings.filter(F.col("vec_id") < 20)
    runs = {
        "bruteforce": lambda: ann_bruteforce_topk(embeddings, q, k=5),
        "lsh": lambda: ann_lsh_topk(embeddings, q, k=5, planes=6, tables=8),
        "ivf": lambda: ann_ivf_topk(embeddings, q, k=5, n_centroids=16, nprobe=4),
    }
    whole = {name: sorted(build().collect()) for name, build in runs.items()}
    monkeypatch.setattr(semantic, "_TOPK_SCRATCH_BYTES", 1)
    for name, build in runs.items():
        assert whole[name], name
        assert sorted(build().collect()) == whole[name], name


def test_ann_ivf_lloyd_refinement_does_not_degrade_recall(embeddings):
    """The reason Lloyd refinement exists: data-adapted centroids must not
    lose recall vs the raw md5 seed sample at the same (k, nprobe). Guards
    against a refinement change that silently degrades the inverted lists
    (fixture values: 0.50 → 0.53 → 0.57 for iters 0/1/2)."""
    q = embeddings.filter(F.col("vec_id") < 20)
    bf = {(r.query_id, r.neighbor_id) for r in ann_bruteforce_topk(embeddings, q, k=5).collect()}

    def recall(iters):
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in ann_ivf_topk(
                embeddings, q, k=5, n_centroids=16, nprobe=4, lloyd_iters=iters
            ).collect()
        }
        return len(bf & ivf) / len(bf)

    assert recall(1) >= recall(0)


def test_ann_ivf_string_ids(embeddings):
    """ann_ivf_topk is exported as a general operator: the mapInPandas
    schema and centroid-id array must follow the id column's type, not
    assume bigint."""
    s = embeddings.limit(50).select(
        F.concat(F.lit("id_"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    rows = ann_ivf_topk(s, s.limit(3), k=3, n_centroids=8, nprobe=3).collect()
    assert rows and all(isinstance(r.query_id, str) and isinstance(r.neighbor_id, str) for r in rows)


def test_ann_ivf_empty_centroid_sets(embeddings):
    """Empty corpus or n_centroids=0 must return an empty result (with the
    output schema), not raise at plan-build time in the numpy centroid
    prep."""
    q = embeddings.filter(F.col("vec_id") < 20)
    empty_corpus = ann_ivf_topk(embeddings.filter(F.lit(False)), q, k=5, n_centroids=8)
    assert empty_corpus.collect() == []
    assert [f.name for f in empty_corpus.schema.fields] == ["query_id", "neighbor_id", "sim", "rank"]
    assert ann_ivf_topk(embeddings, q, k=5, n_centroids=0).collect() == []


def test_redact_pii_shapes(spark):
    from batch_public_spark.operators.textops import pii_count, redact_pii

    rows = [
        Row(text="contact bob.smith+x@example.co.uk now"),
        Row(text="ssn 123-45-6789 and card 4111 1111 1111 1111 ok"),
        Row(text="call +1 (415) 555-2671 tomorrow"),
        Row(text="short digits 12345 stay; so does v1.2.3"),
        Row(text="two mails a@b.io c@d.org"),
    ]
    out = (
        spark.createDataFrame(rows)
        .select(
            redact_pii(F.col("text")).alias("red"),
            pii_count(F.col("text")).alias("n"),
        )
        .collect()
    )
    assert out[0].red == "contact <EMAIL> now" and out[0].n == 1
    assert out[1].red == "ssn <SSN> and card <CARD> ok" and out[1].n == 2
    assert out[2].red == "call <PHONE> tomorrow" and out[2].n == 1
    assert out[3].red == "short digits 12345 stay; so does v1.2.3" and out[3].n == 0
    assert out[4].n == 2


def test_redact_pii_idempotent(spark):
    from batch_public_spark.operators.textops import pii_count, redact_pii

    rows = [Row(text="mail a@b.io ssn 123-45-6789 tel +1 (415) 555-2671")]
    once = spark.createDataFrame(rows).select(redact_pii(F.col("text")).alias("text"))
    twice = once.select(
        redact_pii(F.col("text")).alias("red"), pii_count(F.col("text")).alias("n")
    ).collect()[0]
    assert twice.red == once.collect()[0].text
    assert twice.n == 0


def test_sequence_pack_covers_all_tokens(spark, documents):
    """Window math invariant: per source, the windows of consecutive docs
    tile the concatenated token stream with no gaps or overlaps."""
    from batch_public_spark.plans.llmops_queries import llmops_sequence_pack

    out = llmops_sequence_pack(spark, SF_DIR).toPandas()
    for _, g in out.groupby("source"):
        g = g.sort_values("doc_id")
        pos = 0
        for r in g.itertuples():
            assert r.window_id == pos // 512
            assert r.start_offset == pos % 512
            end = pos + r.n_tokens - 1
            assert r.n_windows == end // 512 - pos // 512 + 1
            pos += r.n_tokens


def test_sample_frames_tile_blob(spark, documents):
    from batch_public_spark.operators.multimodal import sample_frames, synthesize_blobs

    blobs = synthesize_blobs(documents.limit(20))
    frames = sample_frames(blobs, frame_bytes=64).toPandas()
    src = {r.doc_id: bytes(r.blob) for r in blobs.collect()}
    for doc_id, g in frames.groupby("doc_id"):
        g = g.sort_values("frame_idx")
        # frames tile the payload exactly: lens sum to blob length, indexes
        # are 0..n-1, every frame but the last is full-size
        assert list(g.frame_idx) == list(range(len(g)))
        assert g.frame_len.sum() == len(src[doc_id])
        assert (g.frame_len.iloc[:-1] == 64).all()


def test_sample_frames_strict_raises(spark, documents):
    from batch_public_spark.operators.multimodal import sample_frames, synthesize_blobs

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    blobs = synthesize_blobs(documents.limit(2))
    with _pytest.raises((NotImplementedError, Py4JJavaError, Exception)):
        sample_frames(blobs, strict=True).collect()


def test_resize_image_size_exact(spark, documents):
    from batch_public_spark.operators.multimodal import resize_image, synthesize_blobs

    blobs = synthesize_blobs(documents.limit(10))
    out = resize_image(blobs, width=8, height=8).collect()
    assert all(len(bytes(r.resized)) == 64 for r in out)
    assert all(r.width == 8 and r.height == 8 for r in out)


def test_kmeans_lloyd_inertia_decreases(spark):
    """Lloyd's algorithm property: total inertia is non-increasing with
    more iterations (up to the fixed-precision rounding of means)."""
    from batch_public_spark.operators.semantic import kmeans_lloyd
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def inertia(iters):
        rows = kmeans_lloyd(emb, k=8, iters=iters).collect()
        assert sum(r.n_members for r in rows) == emb.count()
        return sum(r.inertia for r in rows)

    i1, i2 = inertia(1), inertia(2)
    assert i2 <= i1 * 1.0001, (i1, i2)


def test_hll_union_estimate_close_to_exact(spark):
    """Region-level HLL estimates (merged from per-nation sketches) must
    sit within the sketch's error bounds of the exact distinct counts."""
    from batch_public_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    approx = {
        r.region_key: r.approx_customers
        for r in QUERIES["agg_hll_union_region"].fn(spark, SF_DIR).collect()
    }
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    from pyspark.sql import functions as F

    exact = {
        r.n_regionkey: r.n
        for r in c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


# --- merge-trainer tokenizers (BPE, WordPiece) ---


def _reapply_merges(sf_dir: str, merges: list[str]) -> tuple[set, int]:
    """Independent (pure-Python) re-application of a learned merge list
    over the trainer's exact fixture: token types from the same corpus
    slice, spaced-symbol representation, each merge applied in rank
    order via str.replace — the same single-pass non-overlapping
    left-to-right convention both engines' replace() implements.
    Returns the surviving-symbol vocabulary and its md5 fingerprint
    input, for comparison against the query's emitted vocab_hash."""
    con = duckdb.connect()
    toks = con.sql(
        rf"""
        SELECT DISTINCT lower(tk.tok) AS tok
        FROM '{sf_dir}/documents.parquet',
             UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                                s -> length(s) > 0)) AS tk(tok)
        WHERE doc_id < 400
        """
    ).fetchall()
    vocab: set[str] = set()
    for (tok,) in toks:
        sym = " " + " ".join(tok) + " "
        for pair in merges:
            sym = sym.replace(f" {pair} ", " " + pair.replace(" ", "") + " ")
        vocab.update(s for s in sym.split() if s)
    return vocab, len(vocab)


def test_bpe_train_reapplying_merges_reproduces_segmentation(spark):
    """The trainer's emitted vocab_hash must equal the hash of the
    vocabulary obtained by independently re-applying its merge list, in
    rank order, to the fixture's token types — i.e. the learned merges
    ARE sufficient to reproduce the trainer's final segmentation (the
    apply-side contract of llmops_bpe_apply_merges, now pinned against
    the learning loop)."""
    rows = sorted(
        QUERIES["llmops_bpe_train_merges"].fn(spark, conftest.SF_DIR).collect(),
        key=lambda r: r.iter,
    )
    assert [r.iter for r in rows] == [1, 2, 3, 4, 5]
    merges = [r.pair for r in rows]
    assert all(r.merged == r.pair.replace(" ", "") for r in rows)
    vocab, size = _reapply_merges(conftest.SF_DIR, merges)
    assert size == rows[0].vocab_size
    fingerprint = hashlib.md5("|".join(sorted(vocab)).encode()).hexdigest()
    assert fingerprint == rows[0].vocab_hash


def test_bpe_train_iteration1_matches_char_pair_ranking(spark):
    """Before any merge exists, the trainer's candidate space IS the raw
    character-pair space, so iteration 1's winner must be the
    top-weighted character pair (count desc, pair asc) computed
    independently; and the winner sequence must be strictly
    non-increasing in count (a later merge can never outweigh an earlier
    one at the time it was chosen... its RECORDED count is the max of a
    shrinking candidate pool)."""
    rows = sorted(
        QUERIES["llmops_bpe_train_merges"].fn(spark, conftest.SF_DIR).collect(),
        key=lambda r: r.iter,
    )
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True), counts
    top_char_pair = duckdb.sql(
        rf"""
        WITH d AS (
          SELECT lower(tk.tok) AS tok
          FROM '{conftest.SF_DIR}/documents.parquet',
               UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                                  s -> length(s) > 0)) AS tk(tok)
          WHERE doc_id < 400
        )
        SELECT substr(tok, i, 1) || ' ' || substr(tok, i + 1, 1) AS pair,
               count(*) AS n
        FROM d, UNNEST(generate_series(1, length(tok) - 1)) AS g(i)
        WHERE length(tok) >= 2
        GROUP BY pair ORDER BY n DESC, pair LIMIT 1
        """
    ).fetchall()[0]
    assert (rows[0].pair, rows[0].n) == (top_char_pair[0], top_char_pair[1])


def test_wordpiece_objective_diverges_from_bpe_and_is_correct(spark):
    """The WordPiece rule is real, not a renamed BPE: on this corpus the
    two trainers choose DIFFERENT first merges (WordPiece picks the
    high-likelihood 'q u' — q is nearly always followed by u — over
    BPE's merely-frequent 'e r'); iteration 1's winner equals the
    independent argmax of count(ab)/(count(a)·count(b)) over raw
    character pairs; and every winner's log_score is consistent with
    its emitted counts."""
    wp = sorted(
        QUERIES["llmops_wordpiece_train_merges"].fn(spark, conftest.SF_DIR).collect(),
        key=lambda r: r.iter,
    )
    bpe = sorted(
        QUERIES["llmops_bpe_train_merges"].fn(spark, conftest.SF_DIR).collect(),
        key=lambda r: r.iter,
    )
    assert [r.iter for r in wp] == [1, 2, 3, 4]
    assert [r.pair for r in wp] != [r.pair for r in bpe[: len(wp)]]
    assert wp[0].pair == "q u"  # the canonical WordPiece pick
    for r in wp:
        assert 0 < r.n_pair <= min(r.na, r.nb), r
        expect = math.log(r.n_pair) - math.log(r.na) - math.log(r.nb)
        assert abs(r.log_score - expect) < 1e-5, r
    top = duckdb.sql(
        rf"""
        WITH d AS (
          SELECT lower(tk.tok) AS tok
          FROM '{conftest.SF_DIR}/documents.parquet',
               UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                                  s -> length(s) > 0)) AS tk(tok)
          WHERE doc_id < 400
        ), pc AS (
          SELECT substr(tok, i, 1) || ' ' || substr(tok, i + 1, 1) AS pair,
                 count(*) AS n
          FROM d, UNNEST(generate_series(1, length(tok) - 1)) AS g(i)
          WHERE length(tok) >= 2 GROUP BY pair
        ), u AS (
          SELECT substr(tok, i, 1) AS s, count(*) AS n
          FROM d, UNNEST(generate_series(1, length(tok))) AS g(i)
          GROUP BY s
        )
        SELECT pc.pair FROM pc
        JOIN u ua ON ua.s = split_part(pc.pair, ' ', 1)
        JOIN u ub ON ub.s = split_part(pc.pair, ' ', 2)
        ORDER BY CAST(pc.n AS DOUBLE) / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE))
                 DESC, pc.pair
        LIMIT 1
        """
    ).fetchall()[0][0]
    assert wp[0].pair == top


def _executed(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, conftest.SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_minhash_index_probe_has_no_index_side_exchange(spark):
    """With broadcast disabled (forcing the at-scale SMJ path), the probe
    join must read the persisted band index bucket-aligned: exactly ONE
    side (the arrivals) exchanges on the band key — the index side's
    bucketed layout IS its shuffle."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _executed(spark, "llmops_minhash_index_roundtrip")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p, p[:2000]
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p, p[:2000]
    # one bkey exchange (probe side); a second would mean the index
    # re-shuffled and the persisted bucketing bought nothing
    assert len(re.findall(r"hashpartitioning\(bkey", p)) == 1, p


def test_minhash_roundtrip_equals_in_job_twin(spark):
    """The persisted-index probe must be semantically IDENTICAL to the
    in-job incremental variant — same candidates, same verdicts, row for
    row (the two queries share one oracle; this pins the equivalence
    engine-side without DuckDB in the loop)."""
    a = QUERIES["llmops_minhash_incremental_dedup"].fn(spark, conftest.SF_DIR)
    b = QUERIES["llmops_minhash_index_roundtrip"].fn(spark, conftest.SF_DIR)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_index_merge_probe_reuses_bucketed_layout(spark):
    """Day-3's probe of the MERGED index must look exactly like day-2's
    probe of the original: under disabled broadcast, the index side reads
    bucket-aligned (no exchange) and only the arrivals shuffle on the
    band key — rotation preserved the layout. Both index generations must
    be catalogued with the same bucket spec (8 buckets on bkey)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _executed(spark, "llmops_minhash_index_merge")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p, p[:2000]
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p, p[:2000]
    assert len(re.findall(r"hashpartitioning\(bkey", p)) == 1, p
    tables = [t.name for t in spark.catalog.listTables() if "bps_mh_idx_" in t.name]
    assert any("_v1_" in t for t in tables) and any("_v2_" in t for t in tables)
    for t in tables:
        desc = {r.col_name: r.data_type for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()}
        assert desc.get("Num Buckets") == "8", (t, desc.get("Num Buckets"))
        assert desc.get("Bucket Columns") == "[`bkey`]", (t, desc.get("Bucket Columns"))


def test_index_merge_really_folds_day2(spark):
    """The merge must be observable: some day-3 arrival's candidates come
    from DAY-2 index entries (a stale-v1 probe would zero n_cand_day2
    everywhere), day-1 entries still serve probes too (the merge did not
    evict the old generation at fixture load), and the verdict columns
    reconcile per row."""
    rows = QUERIES["llmops_minhash_index_merge"].fn(spark, conftest.SF_DIR).collect()
    assert rows
    assert any(r.n_cand_day2 > 0 for r in rows), "merge contributed nothing"
    assert any(r.n_candidates > r.n_cand_day2 for r in rows), "no day-1 hits"
    for r in rows:
        assert 0 <= r.n_cand_day2 <= r.n_candidates, r
        assert r.n_dups <= r.n_candidates, r
        assert r.is_dup == (r.n_dups > 0), r
        if r.n_candidates == 0:
            assert r.best_jaccard == 0.0, r


def test_index_expire_delta_is_exactly_the_aged_generation(spark):
    """Expiry semantics pinned against the merge step's own output: for
    every day-3 arrival, candidates lost between the v2 probe (the merge
    query) and the v3 probe (the expire query) are exactly the day-1-
    generation candidates (n_candidates_v3 == n_candidates_v2 −
    n_cand_gen0), the day-2 candidates all survive, and at least one
    arrival really loses a candidate (the retention filter is
    non-vacuous at fixture SF). Gen-2 entries are never indexed, so v2
    candidates split exactly into day-1 (n_candidates − n_cand_day2)
    and day-2 (n_cand_day2) generations."""
    v2 = {r.new_id: r for r in QUERIES["llmops_minhash_index_merge"].fn(spark, conftest.SF_DIR).collect()}
    v3 = {r.new_id: r for r in QUERIES["llmops_minhash_index_expire"].fn(spark, conftest.SF_DIR).collect()}
    assert set(v2) == set(v3)
    lost_any = False
    for nid, r2 in v2.items():
        r3 = v3[nid]
        n_gen0 = r2.n_candidates - r2.n_cand_day2
        assert r3.n_candidates == r2.n_cand_day2, (nid, r2, r3)
        if n_gen0 > 0:
            lost_any = True
        if r3.n_candidates > 0:
            assert r3.best_jaccard <= r2.best_jaccard + 1e-9, (nid, r2, r3)
        assert r3.n_dups <= r2.n_dups, (nid, r2, r3)
    assert lost_any, "no arrival had a day-1 candidate — expiry untested"


def test_ngram_lm_perplexity_reconciles(spark):
    """LM-score internal consistency: perplexity == exp(cross_entropy)
    (re-derived from emitted round-6 columns, loose tolerance), every
    ce is positive and finite, and the flag rate is a proper upper-tail
    fraction (0 < flagged < 25% of docs for a mean+1sd cut)."""
    rows = QUERIES["llmops_ngram_lm_perplexity"].fn(spark, conftest.SF_DIR).collect()
    assert len(rows) > 100
    flagged = sum(1 for r in rows if r.flagged)
    assert 0 < flagged < 0.25 * len(rows), (flagged, len(rows))
    for r in rows:
        assert 0.0 < r.cross_entropy < 20.0, r
        assert abs(r.perplexity - math.exp(r.cross_entropy)) <= 1e-4 * r.perplexity, r


def test_corpus_build_funnel_telescopes_and_matches_cascade(spark):
    """Reconciliation (verdict-r12 item #5): (a) the corpus build's first
    three funnel rows equal llmops_dedup_cascade_e2e's output exactly —
    the composition reuses the cascade verbatim, so any drift in keys,
    survivor policy, or the near-dup anchor shows up here; (b) the
    funnel telescopes: every filtering row's n_removed + n_remaining ==
    the previous row's n_remaining (docs are never invented or silently
    dropped between stages); (c) the unit-change rows are consistent
    (mixture/card keep the decontaminate survivor count; pack windows
    cover the tokens implied by card's mean at >=50% fill)."""
    build = {
        r.stage: r
        for r in QUERIES["llmops_corpus_build_e2e"].fn(spark, conftest.SF_DIR).collect()
    }
    cascade = {
        r.stage: r
        for r in QUERIES["llmops_dedup_cascade_e2e"].fn(spark, conftest.SF_DIR).collect()
    }
    assert set(build) == {
        "exact", "prefix", "neardup", "quality_gate",
        "decontaminate", "mixture", "pack", "card",
    }
    for s in ("exact", "prefix", "neardup"):
        assert (build[s].n_removed, build[s].n_remaining) == (
            cascade[s].n_removed,
            cascade[s].n_remaining,
        ), s
    chain = ["exact", "prefix", "neardup", "quality_gate", "decontaminate"]
    for prev, cur in zip(chain, chain[1:]):
        assert (
            build[cur].n_removed + build[cur].n_remaining
            == build[prev].n_remaining
        ), (prev, cur)
    n_final = build["decontaminate"].n_remaining
    assert build["mixture"].n_remaining == n_final
    assert build["card"].n_remaining == n_final
    # pack: windows hold all tokens (mean * docs), each window half-full+
    total_tokens = build["card"].metric * n_final
    n_windows = build["pack"].n_remaining
    assert n_windows * 512 >= total_tokens - 1e-6
    assert 0.0 < build["pack"].metric <= 1.0


def test_corpus_build_gate_is_subset_of_standalone_filter(spark):
    """The gate stage can only keep documents the standalone
    llmops_quality_filter would keep: its keep-count over the cascade
    survivors is bounded by the standalone filter's corpus-wide keeps,
    and its survivor mean quality is >= 0.5 (the gate threshold)."""
    build = {
        r.stage: r
        for r in QUERIES["llmops_corpus_build_e2e"].fn(spark, conftest.SF_DIR).collect()
    }
    standalone_keeps = sum(
        r.n_keep
        for r in QUERIES["llmops_quality_filter"].fn(spark, conftest.SF_DIR).collect()
    )
    assert build["quality_gate"].n_remaining <= standalone_keeps
    assert build["quality_gate"].metric >= 0.5


def test_kneser_ney_beats_addk_on_training_corpus(spark):
    """KN ≤ add-k cross-entropy for the bulk of the corpus (r13 verdict
    item #4): a self-trained LM evaluated on its own training text gives
    most probability mass back to observed bigrams, and KN's fixed 0.75
    discount takes less mass from an observed bigram than add-0.5
    smoothing's ``+0.5·V`` denominator flattening — so per-document
    cross-entropy under KN should be lower for a clear majority of
    documents, and the advantage should be at least as strong on the
    above-median-repetition slice (repeated bigrams concentrate count
    mass exactly where the discount is proportionally cheapest).
    Measured on the fixture: 81% global / 85% slice at sf0.001, 79%
    global at sf0.01 — pinned with margin at 70%/75%.
    """
    kn = QUERIES["llmops_kn_lm_perplexity"].fn(spark, conftest.SF_DIR).select(
        "doc_id", F.col("cross_entropy").alias("ce_kn"),
        F.col("n_bigrams").alias("nb_kn"),
    )
    ak = QUERIES["llmops_ngram_lm_perplexity"].fn(spark, conftest.SF_DIR).select(
        "doc_id", F.col("cross_entropy").alias("ce_ak"),
        F.col("n_bigrams").alias("nb_ak"),
    )
    j = kn.join(ak, "doc_id", "full").cache()
    try:
        # Same document universe and identical bigram streams.
        mismatch = j.filter(
            F.col("ce_kn").isNull()
            | F.col("ce_ak").isNull()
            | (F.col("nb_kn") != F.col("nb_ak"))
        ).count()
        assert mismatch == 0

        row = j.agg(
            F.count("*").alias("n"),
            F.sum((F.col("ce_kn") < F.col("ce_ak")).cast("int")).alias("lower"),
        ).first()
        assert row["lower"] / row["n"] >= 0.70, row

        # Repetition = 1 - distinct/total bigrams per doc; above-median
        # slice must show at least the same KN advantage.
        from batch_public_spark.operators.textops import tokens

        d = spark.read.parquet(f"{conftest.SF_DIR}/documents.parquet")
        tk = d.select(
            "doc_id", F.transform(tokens(F.col("text")), F.lower).alias("toks")
        )
        bg = (
            tk.filter(F.size("toks") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "zip_with(slice(toks, 1, size(toks) - 1),"
                        "         slice(toks, 2, size(toks) - 1),"
                        "         (x, y) -> struct(x AS w1, y AS w2))"
                    )
                ).alias("p"),
            )
            .select("doc_id", "p.w1", "p.w2")
        )
        rep = bg.groupBy("doc_id").agg(
            (1 - F.countDistinct("w1", "w2") / F.count("*")).alias("rep")
        )
        jr = j.join(rep, "doc_id")
        med = jr.approxQuantile("rep", [0.5], 0.0)[0]
        srow = jr.filter(F.col("rep") > med).agg(
            F.count("*").alias("n"),
            F.sum((F.col("ce_kn") < F.col("ce_ak")).cast("int")).alias("lower"),
        ).first()
        assert srow["n"] > 0
        assert srow["lower"] / srow["n"] >= 0.75, srow
    finally:
        j.unpersist()


def test_span_removal_docs_are_extractor_id_b(spark):
    """Removal keeps the first copy of a shared span, so the only docs it
    rewrites are the higher ids of the extractor's pairs: every removed
    doc_id is the id_b of some llmops_repeated_span_extract pair."""
    id_b = {r.id_b for r in QUERIES["llmops_repeated_span_extract"].fn(spark, SF_DIR).collect()}
    removed = {r.doc_id for r in QUERIES["llmops_repeated_span_removal"].fn(spark, SF_DIR).collect()}
    assert removed
    assert removed <= id_b, sorted(removed - id_b)[:5]
