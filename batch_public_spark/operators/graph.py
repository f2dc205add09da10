"""Graph kernels the registry's graph queries share: edge builders
(``copresence_edges``, ``term_cooccurrence``), mirroring (``symmetric``)
and the iterative algorithms (``connected_components``,
``pagerank_weighted``, ``label_propagation``, ``triangles``). All but
connected components run a declared, fixed number of rounds, so what the
callers share is the round body and the edge build, not a generic
fixed-point driver.

Connected components. Near-dup dedup produces PAIRS (MinHash bands,
SimHash blocks, embedding cosine); turning pairs into dedup DECISIONS
needs the transitive closure — docs A~B and B~C are one cluster even
though A~C was never emitted. The greedy single-link shortcut in
``dedup_minhash`` drops only direct losers; ``connected_components``
computes true components with hash-min label propagation:

    label(v) ← min(label(v), min over neighbors' labels)

iterated to fixpoint. Each round is two hash joins + an aggregation —
all shuffles on the vertex key, no driver-side graph. Rounds needed =
graph diameter (near-dup clusters are shallow: usually 2-4). Lineage is
truncated per round with ``sources.tables.cut`` so the plan doesn't grow
exponentially across iterations — the classic Spark iterative-algorithm
trap.

At 100 TB this is the standard formulation (cf. the large-star/small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond"); hash-min is its simple dense-diameter-tolerant cousin and is
exactly what production dedup pipelines run on candidate graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.operators.textops import tokens
from batch_public_spark.sources.tables import cut

# Per-bucket participant cap for the co-presence graphs (see
# copresence_edges). Mirrored verbatim in every co-presence oracle as
# ``row_number() OVER (PARTITION BY <bucket key> ORDER BY u) <= 256``.
PRESENCE_BUCKET_CAP = 256


def _capped_presence(pres: DataFrame, *keys: str) -> DataFrame:
    """Keep the first PRESENCE_BUCKET_CAP users (ordered by user id ``u``)
    within every bucket-key group. One partitioned row_number whose
    exchange is on the same bucket key the self-join shuffles on anyway,
    so the cap adds no extra shuffle — the join reuses the window's
    partitioning."""
    w = W.partitionBy(*keys).orderBy("u")
    return (
        pres.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PRESENCE_BUCKET_CAP)
        .drop("rn")
    )


def copresence_edges(events: DataFrame, typed: bool) -> DataFrame:
    """Undirected user co-presence edges ``(x, y)`` with ``x < y``: users
    active in the same minute bucket — and, when ``typed``, with the same
    event type — are linked.

    Construction: DISTINCT on the bounded (user, minute[, type]) grid, the
    per-bucket participant cap, then one self-equi-join on the bucket key
    (never user×user) and a DISTINCT over the pairs.

    The cap: the bucket self-join emits m²/2 pairs per bucket, so one hot
    minute (launch spike, bot storm) with m active users is a quadratic
    task-killer on a single key at scale. Capping each bucket to a
    deterministic top-PRESENCE_BUCKET_CAP by user id bounds every bucket at
    CAP²/2 pairs regardless of skew. The cap is mirrored in every oracle,
    so the hash attests the CAPPED measure, not an uncapped ideal. Fixture
    buckets sit far below it (sf0.1 max = 12 participants), so fixture
    results are the uncapped ones; tests/test_graph.py plants a hot bucket
    above the cap and checks Spark against DuckDB on the capped graph.

    The result is cut lazily (``sources.tables.cut``): every
    caller reads it more than once (mirroring, landmark, degree, peel
    rounds), and the first action that needs it materializes it inside a
    job that runs anyway."""
    keys = ["b", "et"] if typed else ["b"]
    grid = events.select(
        F.col("user_id").alias("u"),
        F.floor(F.unix_timestamp("ts") / 60).cast("bigint").alias("b"),
        F.col("event_type").alias("et"),
    )
    pres = _capped_presence(grid.select("u", *keys).distinct(), *keys)
    a = pres.select(F.col("u").alias("x"), *keys)
    b_ = pres.select(F.col("u").alias("y"), *keys)
    return (
        a.join(b_, keys)
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
        .transform(cut)
    )


def term_cooccurrence(documents: DataFrame) -> DataFrame:
    """Weighted term co-occurrence edges ``(u, v, w)`` with ``u < v`` over
    the top-30 vocabulary by document frequency (ties by term): ``w`` is
    the number of documents containing both terms (lower-cased
    whitespace tokens).

    The corpus explode+distinct has two consumers (the vocabulary pass and
    the vocab-filtered projection), so it is cut once, lazily. The top-30
    is a TakeOrdered (orderBy+limit) — at 100 TB the term vocabulary is
    tens of millions of rows, and a heap per partition beats a
    one-partition window — and broadcasts into the filter. The pair build
    is one self-join on doc_id, ordered by term so each pair appears once;
    with a bounded vocabulary it emits at most 435 pairs per document."""
    dt = (
        documents.select(
            "doc_id",
            F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("term"),
        )
        .distinct()
        .transform(cut)
    )
    vocab = (
        dt.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(30)
        .select("term")
    )
    dv = dt.join(F.broadcast(vocab), "term").select("doc_id", "term")
    a, b = dv.alias("a"), dv.alias("b")
    return (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("u"), F.col("b.term").alias("v"))
        .agg(F.count("*").alias("w"))
    )


def symmetric(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Directed form of an undirected pair list: every row plus its mirror
    (``a`` and ``b`` swapped, other columns carried). Pass canonical
    ``a < b`` pairs: a self-loop would appear twice. Dedupe BEFORE
    mirroring — a distinct over the canonical pairs shuffles |E| rows
    instead of 2|E| — and the mirror itself is a map-side projection that
    leaves the input's plan intact, so an uncut input's exchanges are
    reused by both union branches."""
    flip = {a: F.col(b).alias(a), b: F.col(a).alias(b)}
    return edges.unionAll(edges.select(*[flip.get(c, F.col(c)) for c in edges.columns]))


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Return (id, component) where component = min vertex id reachable.

    ``edges`` is an undirected pair list; isolated vertices absent from it
    are absent from the result (callers union them back with
    component = own id if needed).

    Raises ``RuntimeError`` if labels are still changing after ``max_iter``
    rounds — returning non-converged labels would silently under-merge
    clusters (dedup would keep extra duplicates with no signal)."""
    # Undirected: canonicalize to (min, max) and dedupe BEFORE mirroring.
    # A self-loop mirrors onto itself; the duplicate row cannot change a
    # min-label.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon = e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    sym = symmetric(canon, "u", "v")
    # Lazy checkpoint: the first iteration's `changed` action materializes
    # it inside a job that was running anyway (eager would schedule a
    # dedicated driver-blocking job just for the cut).
    sym = cut(sym)

    # label(v) starts as v's min direct neighbor (or itself).
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .withColumnRenamed("u", "id")
    )

    converged = False
    for _ in range(max_iter):
        # candidate label via one hop: min label among neighbors.
        nbr = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("u", "id")
        )
        # The update join already holds old AND new label side by side, so
        # carry the old label THROUGH the checkpoint and probe convergence
        # with a narrow filter over the persisted frame — the former
        # new-vs-old compare was one extra shuffle join per round whose
        # only output was a boolean (guide §2.4: remove shuffles outright).
        # Cost: one extra int column in the per-round persisted cut.
        upd = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
            .transform(cut)
        )
        changed = upd.filter(F.col("label") != F.col("old_label")).limit(1).count()
        labels = upd.select("id", "label")
        if changed == 0:
            converged = True
            break

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the budget); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative (the min id) per connected component of the
    near-dup pair graph; rows not in any pair survive untouched."""
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank_weighted(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 2,
    damping: float = 0.85,
    round_at: int = 8,
) -> DataFrame:
    """Weighted PageRank over a directed edge list → (vertex, pr).

    pr'(v) = (1-d)/N + d · Σ_{u→v} pr(u) · w(u,v) / wdeg(u)

    Spark-first iterative shape (same discipline as hash-min CC above and
    semantic.kmeans_lloyd): each iteration is one join of the edge list
    with the current rank vector plus one aggregation — both shuffles on
    the vertex key, so a cluster reuses the partitioning across rounds.
    Ranks are rounded to ``round_at`` per iteration, which makes the whole
    computation bit-reproducible across engines/partitionings (and
    oracle-checkable); lineage is truncated per round with ``cut`` for
    deep runs.

    Dangling vertices (no out-edges) leak their mass — acceptable for the
    co-occurrence graphs this serves (symmetrized ⇒ no danglers)."""
    # Materialize the edge list ONCE before anything derives from it —
    # verts, wdeg, and the per-iteration joins all read the checkpointed
    # blocks. (Checkpointing verts and the weighted edges separately, each
    # upstream of the cut, ran the whole edge-construction pipeline — for
    # the co-occurrence graph: corpus scan, explode, distinct, self-join —
    # twice.)
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).transform(cut)
    verts = (
        e0.select(F.col("u").alias("vertex"))
        .union(e0.select(F.col("v").alias("vertex")))
        .distinct()
        .transform(cut)
    )
    # The count materializes e0 and verts in ONE job (lazy checkpoints cut
    # lineage at first computation without scheduling a dedicated job each
    # — eager checkpointing here added a driver-blocking job per cut, pure
    # fixed overhead when the iteration frames are vocabulary-sized).
    n = verts.count()
    if n == 0:
        # empty graph → empty (vertex, pr) result, not ZeroDivisionError
        return verts.withColumn("pr", F.lit(0.0))
    wdeg = e0.groupBy("u").agg(F.sum("w").alias("wdeg"))
    e = e0.join(wdeg, "u").transform(cut)

    pr = verts.withColumn("pr", F.round(F.lit(1.0 / n), round_at))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            e.join(pr, e["u"] == pr["vertex"])
            .select(
                F.col("v").alias("vertex"),
                (F.col("pr") * F.col("w") / F.col("wdeg")).alias("c"),
            )
            .groupBy("vertex")
            .agg(F.sum("c").alias("in_mass"))
        )
        pr = (
            verts.join(contrib, "vertex", "left")
            .select(
                "vertex",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0)),
                    round_at,
                ).alias("pr"),
            )
            .transform(cut)
        )
    return pr


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation over a directed (symmetric) edge list
    ``(x, y)`` → ``(u, lab)``: every node starts as its own label, then for
    ``rounds`` rounds adopts the most frequent label among its neighbors
    (Raghavan et al. 2007).

    Vanilla LPA is nondeterministic (random visit order, random
    tie-break); this variant breaks count ties toward the SMALLEST label
    with the packed-integer argmin ``min((100000 - c) * 1e9 + lab)`` — no
    engine-specific max_by tie behavior — so both engines compute the
    identical fixpoint prefix. Packing bounds: c < 1e5 neighbors,
    lab < 1e9 user ids — the packed key fits BIGINT with 4 orders of
    margin.

    Each round is one edge⋈label equi-join (labels shuffle on the
    neighbor key, and the groupBy reuses the edge side's key) plus one
    grouped min; each round's labels are cut lazily, so round N+1 never
    replays round N."""
    labels = edges.select(F.col("x").alias("u")).distinct().select("u", F.col("u").alias("lab"))
    for _ in range(rounds):
        n = (
            edges.join(labels.select(F.col("u").alias("y"), "lab"), "y")
            .groupBy(F.col("x").alias("u"), "lab")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        labels = (
            n.groupBy("u")
            .agg(
                (
                    F.min((F.lit(100000) - F.col("c")) * F.lit(1000000000) + F.col("lab"))
                    % F.lit(1000000000)
                ).alias("lab")
            )
            .transform(cut)
        )
    return labels


def triangles(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts ``(vertex, n_triangles)`` of an oriented
    edge list ``(u, v)`` with ``u < v`` (vertices in no triangle are
    absent).

    Orientation by the vertex total order means each triangle {a,b,c}
    (a < b < c) is enumerated exactly once, as the wedge (a,b)+(b,c)
    closed by (a,c): two shuffled equi-joins on the edge list, no DISTINCT
    after the explosion. At general scale the standard refinement is
    degree orientation (point each edge at the higher-degree endpoint) so
    wedge counts are bounded by arboricity; the callers' graphs have a
    bounded vocabulary, where the id orientation is already bounded. The
    edge list plays three join roles: callers pass it cut."""
    e1 = edges.alias("e1")
    e2 = edges.select(F.col("u").alias("u2"), F.col("v").alias("v2")).alias("e2")
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("v3")).alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u2"))
        .join(e3, (F.col("e3.u3") == F.col("e1.u")) & (F.col("e3.v3") == F.col("e2.v2")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v2").alias("c"))
    )
    return (
        tri.select(F.col("a").alias("vertex"))
        .unionAll(tri.select(F.col("b").alias("vertex")))
        .unionAll(tri.select(F.col("c").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
