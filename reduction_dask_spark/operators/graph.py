"""Graph centrality over corpus similarity structure — the damped
fixed-point iteration family (PageRank), complementing the iterative
label propagation (dd6) and merge training (bpe1) loops.

LLM-data use: rank samples by centrality in the similarity graph —
high-centrality documents sit in dense semantic neighborhoods
(representative; coreset/dedup-priority candidates), isolated ones are
outliers. The graph is the LSH-bucketed near-dup pair set (dd5), so
edge generation is O(bucket collisions), never O(n²).

Scale shape per iteration: one groupBy on the destination node over
the edge relation (partial-aggregated), a broadcast of the 1-row
dangling-mass aggregate, and a join back to the rank vector — the
standard distributed PageRank dataflow; the driver holds only the
iteration counter and convergence delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import pin
from ..registry import query
from ..sources import load_table
from .similarity import NEARDUP_TAU, as_double, dot, lsh_buckets

PR_DAMPING = 0.85
PR_ITERS = 6


def pagerank(nodes: DataFrame, edges: DataFrame, damping: float = PR_DAMPING,
             n_iter: int = PR_ITERS) -> DataFrame:
    """Distributed PageRank: ``nodes`` = (id), ``edges`` = directed
    (src, dst). Dangling mass is redistributed uniformly each round
    (the standard correction, keeping Σrank = 1).

    Loop discipline: the dangling-mass term rides the dataflow as a
    broadcast 1-row aggregate — NO driver collect inside the loop —
    and each round ends in ``localCheckpoint(eager=True)``, which both
    materializes the new rank vector and TRUNCATES its lineage. The
    truncation is load-bearing: ``ranks`` feeds the next round twice
    (dangling mass + contributions), so without it the logical plan
    doubles per round and Catalyst analysis time grows exponentially
    (measured ~4 s/round on a 5-node graph by round 6). On a real
    cluster swap localCheckpoint for reliable checkpointing if
    executor loss must not restart the loop."""
    n_nodes = nodes.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # out-degree joined once; nodes without out-edges are dangling
    base = nodes.join(deg, nodes.id == deg.src, "left").select(
        "id", F.coalesce("deg", F.lit(0)).alias("deg")
    ).localCheckpoint(eager=True)
    ranks = base.select("id", F.lit(1.0 / n_nodes).alias("rank"), "deg")
    for _ in range(n_iter):
        dm = ranks.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            base.join(contrib, base.id == contrib.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + damping * (F.coalesce("inflow", F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
                "deg",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("id", F.round("rank", 8).alias("rank"))


@query(
    "gr1_neardup_pagerank",
    oracle=None,  # fixed-point iteration — rows-only + numpy parity test
    doc=f"gr1 similarity-graph PageRank ({PR_ITERS} damped iterations, "
        f"d={PR_DAMPING}): nodes = embedding corpus, edges = the "
        "LSH-bucketed cosine near-dup pairs (dd5's candidate shape, "
        "symmetrized) — centrality ranks samples by semantic-"
        "neighborhood density for coreset/dedup-priority selection. "
        "Per iteration: one partial-aggregated groupBy on dst, a "
        "1-row dangling-mass broadcast, one join back — the classic "
        "distributed PageRank dataflow; driver state is the loop "
        "counter. Rows-only (iterative); pinned by numpy "
        "power-iteration parity.",
    tags=("graph", "similarity", "pipeline"),
)
def gr1_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("id"))
    buckets = lsh_buckets(spark, sf_dir)
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("ev")).withColumn(
        "nrm", F.sqrt(dot(F.col("ev"), F.col("ev")))
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("id_a"), F.col("ev").alias("ea"), F.col("nrm").alias("na"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("ev").alias("eb"), F.col("nrm").alias("nb"))
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")) >= NEARDUP_TAU)
        .select("id_a", "id_b")
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()
    out = pagerank(nodes, edges)
    edges.unpersist()
    return out


# ---------------------------------------------------------------- gr2

@query(
    "gr2_triangle_count",
    oracle=None,  # composed below with dedup CTEs at import time
    doc="gr2 triangle counting on the verified near-dup graph: the "
        "standard distributed triangle enumeration — orient every "
        "edge low-id -> high-id (kills duplicate rotations), join "
        "E on E for wedges (a->b->c), close each wedge against E "
        "(a->c). Per-node triangle participation measures how "
        "'clique-like' a duplicate neighborhood is (transitive dup "
        "clusters vs chains — dd6 components with few triangles are "
        "chain-shaped and worth a higher verify threshold). Two "
        "shuffles (wedge join + closing semi-join), both on edge "
        "keys; edge orientation bounds wedge fan-out by the max "
        "out-degree, the classic mitigation for high-degree nodes. "
        "Oracle: identical triple join over the recursive-free "
        "shingle/Jaccard CTEs.",
    tags=("graph", "dedup"),
)
def gr2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: computed through the exact-duplicate quotient. A k-way
    group of byte-identical texts is a k-clique (intra jaccard = 1)
    sharing one external neighborhood, so every member of a rep group
    has the SAME triangle participation, decomposable exactly as

        n(x ∈ A) = C(m_A−1, 2)                       [A alive, 3+ dups]
                 + Σ_{B ∈ N(A)} ((m_A−1)·m_B + C(m_B, 2))   [per edge]
                 + Σ_{B<C ∈ N(A), edge(B,C)} m_B·m_C   [rep triangles]

    — triangle enumeration (the ~k³ blow-up under duplication) runs
    only on the COLLAPSED graph; member counts come from integer
    multiplicity arithmetic and one expansion join. Verified exact vs
    the uncollapsed oracle incl. the ×12-replica docs corpus (12-way
    cliques). Zero-count nodes stay absent, matching the direct plan."""
    from .dedup import JACCARD_TAU

    return triangle_counts_of(load_table(spark, sf_dir, "documents"), JACCARD_TAU)


def triangle_counts_of(d: DataFrame, tau: float) -> DataFrame:
    """gr2's quotient core over an arbitrary (doc_id, text) relation —
    factored out so the parity test can pit it against a direct
    enumeration on synthetic dup-heavy corpora."""
    from .dedup import _exact_dup_parts, representatives

    members, rp, alive = _exact_dup_parts(d, tau)
    gn = representatives(members).select("rep_id", F.col("m").alias("gn"))
    e = pin(rp.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))

    # per-edge corner contributions over the symmetric neighbor view
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    gu = gn.select(F.col("rep_id").alias("u"), F.col("gn").alias("mu"))
    gv = gn.select(F.col("rep_id").alias("v"), F.col("gn").alias("mv"))
    edge_part = (
        sym.join(gu, "u")
        .join(gv, "v")
        .groupBy(F.col("u").alias("rep_id"))
        .agg(
            F.sum(
                (F.col("mu") - 1) * F.col("mv")
                + F.expr("mv * (mv - 1) DIV 2")
            ).alias("c")
        )
    )

    # rep-graph triangles (oriented a<b, the standard enumeration —
    # tiny after the collapse), each corner weighted by the product of
    # the OTHER two corners' multiplicities
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("wa"), F.col("e1.b").alias("wb"), F.col("e2.b").alias("wc")
    )
    tri = wedges.join(
        e3, (F.col("e3.a") == F.col("wa")) & (F.col("e3.b") == F.col("wc"))
    ).select("wa", "wb", "wc")
    g_of = {c: gn.select(F.col("rep_id").alias(c), F.col("gn").alias(f"m_{c}")) for c in ("wa", "wb", "wc")}
    tri_m = tri.join(g_of["wa"], "wa").join(g_of["wb"], "wb").join(g_of["wc"], "wc")
    tri_part = (
        tri_m.select(F.col("wa").alias("rep_id"), (F.col("m_wb") * F.col("m_wc")).alias("c"))
        .unionAll(tri_m.select(F.col("wb").alias("rep_id"), (F.col("m_wa") * F.col("m_wc")).alias("c")))
        .unionAll(tri_m.select(F.col("wc").alias("rep_id"), (F.col("m_wa") * F.col("m_wb")).alias("c")))
        .groupBy("rep_id")
        .agg(F.sum("c").alias("c"))
    )

    # intra-clique triangles: every member of an alive 3+ group sits in
    # C(gn−1, 2) triangles formed by its own duplicates
    intra_part = (
        gn.join(alive, "rep_id")
        .filter(F.col("gn") >= 3)
        .select("rep_id", F.expr("(gn - 1) * (gn - 2) DIV 2").alias("c"))
    )

    total = (
        edge_part.unionByName(tri_part)
        .unionByName(intra_part)
        .groupBy("rep_id")
        .agg(F.sum("c").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
    )
    return (
        members.join(total, "rep_id")
        .select("doc_id", F.col("n_triangles").cast("bigint").alias("n_triangles"))
    )


def _gr2_oracle() -> str:
    from .dedup import JACCARD_TAU, SHINGLE_SQL, _JACCARD_SQL

    return f"""
        WITH {SHINGLE_SQL}, {_JACCARD_SQL},
        e AS (SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= {JACCARD_TAU}),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        n AS (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM n GROUP BY doc_id
    """



# ---------------------------------------------------------------- gr3

KCORE_K = 2


def kcore_weighted(nodes: DataFrame, edges: DataFrame, k: int) -> DataFrame:
    """k-core peeling on a COLLAPSED multigraph: ``nodes`` = (id, m)
    where m is the exact-duplicate multiplicity of the node, ``edges``
    = symmetrized (src, dst) between collapsed nodes. The blown-up
    degree of every member of node u is (m_u - 1) + sum(m_v over
    surviving neighbors v) — exact-dup members share identical
    neighborhoods, so peeling commutes with the collapse: either the
    whole group survives or none of it does.

    Loop discipline matches :func:`pagerank`: per round one weighted-
    degree aggregate + a filter + two semi-joins shrinking the edge
    set, each ended by ``localCheckpoint(eager=True)`` to truncate
    lineage; the driver holds only the surviving-node count (an O(1)
    scalar). Returns surviving (id, m, degw) with degw the blown-up
    in-core degree."""
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n_prev = nodes.count()
    while True:
        wext = (
            edges.join(nodes.select(F.col("id").alias("dst"), "m"), "dst")
            .groupBy("src")
            .agg(F.sum("m").alias("wext"))
        )
        deg = nodes.join(wext, nodes.id == wext.src, "left").select(
            "id",
            "m",
            (F.col("m") - 1 + F.coalesce("wext", F.lit(0))).cast("bigint").alias("degw"),
        )
        keep = deg.filter(F.col("degw") >= k).localCheckpoint(eager=True)
        n_now = keep.count()
        ids = keep.select("id")
        edges = (
            edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        nodes = keep.select("id", "m")
        if n_now == n_prev:
            return keep
        n_prev = n_now


@query(
    "gr3_kcore",
    oracle=None,  # assigned post-registration: _gr3_oracle() below (r15)
    doc=f"gr3 {KCORE_K}-core extraction on the verified near-dup graph: "
        "iteratively peel nodes with degree < k until stable — the "
        "k-core separates genuinely clustered duplicate neighborhoods "
        "from chain/star artifacts that transitive closure (dd6) "
        "lumps together; curation treats core members as 'canonical "
        "cluster mass' and periphery as borderline pairs to "
        "re-verify. Scale shape: exact duplicates are COLLAPSED "
        "before pair generation (canon1's trick — near-dup pair mass "
        "is quadratic in duplicate multiplicity; the uncollapsed "
        "form probed 29x at x10 replicated data) and the peeling "
        "runs as a WEIGHTED k-core on group representatives, which "
        "is exactly the quotient of the blown-up graph because "
        "exact-dup members share identical shingle sets (the df-cap "
        "is still computed on the FULL corpus so pair semantics are "
        "unchanged). Per round: one weighted-degree aggregate + two "
        "semi-joins, localCheckpoint-truncated; driver state is one "
        "scalar per round. Oracle (r15): DuckDB permits correlated "
        "aggregates over the recursive term, so the EXACT integer "
        "peel runs as a recursive CTE on the UNCOLLAPSED graph "
        "(_gr3_oracle below); python peeling parity in tests pins "
        "the quotient equivalence independently.",
    tags=("graph", "dedup"),
)
def gr3_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import (
        JACCARD_TAU,
        exact_members,
        jaccard_pairs,
        rep_capped_shingles,
        representatives,
    )

    d = load_table(spark, sf_dir, "documents")
    # full-corpus df-cap semantics preserved (collapsing first would
    # shift document frequencies and change which shingles survive the
    # cap) via the r14 weighted-df rep quotient: shingle explode runs
    # over distinct contents only, cap decision is full-corpus exact
    members = exact_members(d)
    rep_sh = pin(rep_capped_shingles(d, members))
    pairs = jaccard_pairs(rep_sh, tau=JACCARD_TAU)
    und = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # nodes: reps with a non-empty capped shingle set (groups whose
    # shingles were all hot-capped away, or too short to shingle,
    # generate no pairs in the blown-up graph either)
    nodes = representatives(members).join(
        rep_sh.select("doc_id").distinct(), "doc_id"
    ).select(F.col("doc_id").alias("id"), "m")
    core = kcore_weighted(nodes, und, KCORE_K)
    # expand back to every member of surviving groups
    return members.join(
        core.select(F.col("id").alias("rep_id"), "degw"), "rep_id"
    ).select("doc_id", F.col("degw").alias("deg"))


def _gr3_oracle() -> str:
    """r15 rows-only→oracle conversion: the doc claimed k-core peeling
    is outside recursive-CTE semantics, but DuckDB permits correlated
    aggregate subqueries over the recursive term, and the peel is
    INTEGER-exact (degrees are counts). The oracle peels the
    UNCOLLAPSED near-dup graph directly (gr2's shingle/Jaccard CTEs),
    which is exactly what gr3's weighted rep-quotient computes — the
    same equivalence the python parity test pins. Each recursive step
    advances the survivors of one simultaneous peel round; the EXISTS
    guard stops the recursion at the first stable round (emitting
    nothing, so `alive`'s max-rnd layer IS the fixpoint — unless that
    last layer died wholesale, which the final deg >= k filter
    handles: a stable layer passes it untouched, a wholesale-dead
    layer is swept empty)."""
    from .dedup import JACCARD_TAU, _JACCARD_SQL, shingle_sql_from

    # sh is MATERIALIZED: it is referenced by jac's self-join, the
    # alive base case, and (transitively through e) two correlated
    # aggregates inside EVERY peel round — without the hint DuckDB
    # inlines the whole shingle chain per reference per round (the
    # pipe1-oracle lesson, dedup.py). e deliberately NOT materialized:
    # on DuckDB 1.0.0, hinting BOTH sh and e makes the recursive step
    # silently produce zero rows (each hint alone is fine — verified
    # in tests/test_r15_oracle_parity.py's wholesale-death corpus).
    return f"""
        WITH RECURSIVE {shingle_sql_from("documents", materialized=True)},
        {_JACCARD_SQL},
        e AS (
            SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= {JACCARD_TAU}
            UNION ALL
            SELECT doc_b, doc_a FROM jac WHERE jaccard >= {JACCARD_TAU}
        ),
        alive(id, rnd) AS (
            SELECT DISTINCT doc_id, 0 FROM sh
            UNION ALL
            SELECT a.id, a.rnd + 1
            FROM alive a
            WHERE (SELECT count(*) FROM e JOIN alive a2 ON a2.id = e.dst
                   WHERE e.src = a.id) >= {KCORE_K}
              AND EXISTS (
                  SELECT 1 FROM alive x
                  WHERE (SELECT count(*) FROM e JOIN alive a3 ON a3.id = e.dst
                         WHERE e.src = x.id) < {KCORE_K})
        ),
        last AS (SELECT id FROM alive WHERE rnd = (SELECT max(rnd) FROM alive)),
        core AS (
            SELECT l.id,
                   (SELECT count(*) FROM e JOIN last l2 ON l2.id = e.dst
                    WHERE e.src = l.id) AS deg
            FROM last l
        )
        SELECT id AS doc_id, CAST(deg AS BIGINT) AS deg
        FROM core WHERE deg >= {KCORE_K}
    """


from ..registry import REGISTRY as _REG  # noqa: E402

_REG["gr2_triangle_count"].oracle = _gr2_oracle()
_REG["gr3_kcore"].oracle = _gr3_oracle()


# ---------------------------------------------------------------- gr4

def star_components(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., SoCC'14 "Connected Components in MapReduce and
    Beyond") — the O(log n)-ROUND algorithm that replaces min-label
    propagation's O(diameter) rounds on high-diameter graphs (chains,
    meshes; near-dup graphs are usually shallow, which is why dd6's
    kernel is fine there — gr4 exists for the adversarial shapes).

    large-star(u): connect every strictly-larger neighbor of u to
    m_u = min(Γ(u) ∪ {u}); small-star(u): connect the ≤-neighbors and
    u itself to m_u. Each half-round is one symmetric groupBy + one
    join over the edge relation; rounds end in localCheckpoint (the
    relation feeds the next round's two branches). Converges to star
    graphs centered at each component's minimum; returns
    (doc_id, cluster_id) for every node of the input pair graph —
    exactly min_label_components' contract."""
    E = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = E.select(F.col("u").alias("n")).unionByName(
        E.select(F.col("v").alias("n"))
    ).distinct().localCheckpoint(eager=True)

    def half_round(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        j = sym.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(j.select(F.col("u").alias("a"), F.col("m").alias("b")))
        return (
            out.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    while True:
        E1 = half_round(E, large=True)
        E2 = half_round(E1, large=False)
        changed = (
            E2.exceptAll(E).count() + E.exceptAll(E2).count()
        )
        E = E2
        if changed == 0:
            break
    # star edges: (center=u, member=v); centers label themselves
    labels = E.select(F.col("v").alias("doc_id"), F.col("u").alias("cluster_id"))
    centers = nodes.join(
        E.select(F.col("v").alias("n")), "n", "left_anti"
    ).select(F.col("n").alias("doc_id"), F.col("n").alias("cluster_id"))
    return labels.unionByName(centers).select(
        "doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


@query(
    "gr4_star_components",
    oracle=None,  # set at import time to dd6's registered closure SQL
    doc="gr4 duplicate clusters via LARGE-STAR/SMALL-STAR connected "
        "components — the INDEPENDENT second distributed CC algorithm "
        "next to dd6's min-label propagation: same exact-dup collapse, "
        "same pair graph, same recursive-SQL oracle, different "
        "fixpoint (O(log n) rounds vs O(diameter) — the MapReduce CC "
        "algorithm of Kiveris et al. for adversarially deep graphs). "
        "Two algorithms against one oracle is the strongest "
        "author-writes-both-sides mitigation the dedup family has: a "
        "shared semantic mistake would now have to survive three "
        "independent computations.",
    tags=("graph", "dedup"),
)
def gr4_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_components

    # dd6's exact-dup quotient and pair graph, star contraction instead
    # of min-label propagation
    return shingle_components(load_table(spark, sf_dir, "documents"), star_components)


from ..registry import REGISTRY as _REG4  # noqa: E402

_REG4["gr4_star_components"].oracle = _REG4["dd6_dup_clusters"].oracle
