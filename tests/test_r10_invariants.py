"""Plan-shape pins for the r10 scale fixes.

The r9 verdict's two scale demands were plan-shape, not value, defects —
a corpus-fraction sample (quadratic at 100×) and forced population-scale
broadcasts — so their fixes are pinned at the PLAN level here, where a
regression shows up even while every value still hashes green:

* the kNN-audit query sample is a fixed COUNT (TakeOrdered top-K), not a
  corpus fraction, and the result's n_queries equals that constant;
* the persisted MinHash band index is probed with NO exchange on the
  index side — the bucketed layout is its shuffle.

(The graph family's unbounded-broadcast pin lives in tests/test_graph.py.)
"""

from __future__ import annotations

import re

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _executed(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_knn_audit_sample_is_fixed_count(spark):
    """The query sample must be a constant-size TakeOrdered top-K (cost
    linear in the corpus at fixed K), and the audit must report exactly
    K queries — min(K, corpus) with K=100 < 500 fixture vectors."""
    p = _executed(spark, "llmops_knn_graph_audit")
    # formatted explain separates the node from its arguments
    assert "TakeOrderedAndProject" in p, p[:2000]
    assert re.search(r"Arguments: 100, \[hr", p), p[:2000]
    (r,) = QUERIES["llmops_knn_graph_audit"].fn(spark, SF_DIR).collect()
    assert r.n_queries == 100, r


def test_quarantine_bitmap_partitions_the_table(spark):
    """The bitmap groups must partition orders exactly: counts sum to
    |orders|, shares sum to 1, every bitmap value is a valid 4-rule
    combination, and the sample key belongs to its group's count."""
    rows = QUERIES["dq_quarantine_bitmap"].fn(spark, SF_DIR).collect()
    total = sum(r.n_rows for r in rows)
    from batch_public_spark.sources.tables import load_table

    assert total == load_table(spark, SF_DIR, "orders").count()
    assert abs(sum(r.share for r in rows) - 1.0) < 5e-5
    for r in rows:
        assert 0 <= r.rule_bitmap <= 15, r
        assert r.quarantined == (r.rule_bitmap != 0), r
        assert r.n_rows >= 1, r


def test_url_canonical_collapses_cosmetic_variants_only(spark):
    """Per base page (r11 six-variant fixture): the four COSMETIC
    variants (case, :80+leading-then-trailing utm, fragment+slash)
    collapse to one canonical (n_docs = 4, min-doc survivorship; the
    sf-dependent partial tail base may hold fewer), the ?ref=home
    variant keeps its own canonical (n_docs = 1) — a real query param
    is a different resource — and the no-path `?utm_…&Ref=CaSe` variant
    collapses ACROSS bases to one host-keyed canonical whose query case
    survives and whose leading tracker was re-`?`-ed. An over-stripper
    merges ref=home (n_docs = 5); an under-stripper splits the cosmetic
    group or leaves `&Ref` / lowercased `ref=case` forms."""
    rows = QUERIES["llmops_url_canonical_dedup"].fn(spark, SF_DIR).collect()
    cosmetic = [r for r in rows if "?" not in r.canonical_url]
    ref_home = [r for r in rows if r.canonical_url.endswith("?ref=home")]
    host_q = [r for r in rows if r.canonical_url.endswith("?Ref=CaSe")]
    assert cosmetic and ref_home and host_q
    assert len(cosmetic) + len(ref_home) + len(host_q) == len(rows)
    # every doc lands in exactly one group
    assert sum(r.n_docs for r in rows) == sum(r.n_docs for r in cosmetic) + sum(
        r.n_docs for r in ref_home
    ) + sum(r.n_docs for r in host_q)
    # full bases collapse 4 cosmetic variants; only the tail base may be short
    assert sum(1 for r in cosmetic if r.n_docs != 4) <= 1
    for r in cosmetic:
        assert 1 <= r.n_docs <= 4 and r.n_raw_variants == r.n_docs, r
        assert r.canonical_doc % 6 == 0, r  # min of {6b, …, 6b+3}
        assert "/Articles/" in r.canonical_url, r  # path case preserved
        assert not r.canonical_url.endswith("/"), r
    for r in ref_home:
        assert r.n_docs == 1, r
        assert "utm_" not in r.canonical_url, r
        assert r.canonical_doc % 6 == 4, r  # the v4 variant
    for r in host_q:
        # host-keyed: one canonical per host, every member a v5 doc;
        # the authority is lowercased while the query kept its case,
        # and the leading tracker's '&' was normalized back to '?'
        assert r.canonical_doc % 6 == 5, r
        assert r.canonical_url.startswith("http://www.example"), r
        assert "utm_" not in r.canonical_url and "&" not in r.canonical_url, r
