"""Affinity analytics: market-basket pair mining and graph-shaped
derivatives (co-occurrence counts, lift, triangle closure).

No counterpart in the reference (its 550-LoC surface has no joins or
aggregates, SURVEY.md §2-C); these extend the engine the way a
warehouse user of the reference stack would via ClickHouse SQL.

Scale strategy: the pair-generation self-join is keyed on the basket
id (l_orderkey), so it is a co-partitioned equi-join whose fanout per
basket is (basket size choose 2) — bounded by the schema (TPC-H
baskets are <= 7 items), never by corpus size. Per-item counts are a
map-side-combined aggregate whose result is dimension-sized, so it
attaches back with a broadcast. Lift arithmetic stays in exact
bigints until one final IEEE division, the cross-engine determinism
rule every oracle-checked query here follows (registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load

# Pairs below this basket-support are noise at sf scale; the filter
# also bounds the result the driver hashes.
PAIR_MIN_SUPPORT = 3

# The triangle query keeps a denser graph (support >= 2) so closure
# structure actually exists at test scale.
TRI_MIN_SUPPORT = 2

# Shared co-purchase graph substrate (graph_triangles / graph_kcore /
# graph_clustering_coeff / graph_assortativity): the support-filtered
# edge list and its degree table, ONE source of truth in both engines
# (round-11 review: the construction had been inlined four times).
EDGE_CTE_SQL = f"""b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e0 AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {TRI_MIN_SUPPORT}
    )"""


def _copurchase_e0(li: DataFrame) -> DataFrame:
    """Support-filtered co-purchase edge list (u < v), unpersisted —
    callers decide staging."""
    b = li.select("l_orderkey", "l_partkey").distinct()
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("c.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TRI_MIN_SUPPORT)
        .select("u", "v")
    )


def _degrees(e0: DataFrame) -> DataFrame:
    """Undirected degree table (node, d) of an (u, v) edge list."""
    return (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )


@register(
    "copurchase_pairs_lift",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM b
    ), item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
      FROM b GROUP BY l_partkey
    ), pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY a.l_partkey, c.l_partkey
      HAVING count(*) >= {PAIR_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_ab,
           ia.n_item AS n_a, ib.n_item AS n_b,
           round(CAST(n_ab * n_baskets AS DOUBLE)
                 / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
    FROM pair, n
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    """,
    doc="Market-basket affinity: for every part pair co-occurring in "
    ">= MIN_SUPPORT orders, the co-occurrence count and lift "
    "P(a,b)/(P(a)P(b)). Pair generation is a self-join on the basket "
    "key — co-partitioned, per-basket fanout bounded by basket size "
    "squared, so 100x the orders is 100x the work with no new "
    "shuffle shape. Per-part counts are dimension-sized and attach "
    "by broadcast; the basket total is a one-row broadcast scalar. "
    "Lift is exact-bigint products with ONE final IEEE division, so "
    "the value hashes identically across engines.",
)
def copurchase_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    # persisted: the deduped basket list feeds four consumers (basket
    # count, item counts, both self-join sides) — unstaged, Catalyst
    # replans the scan+distinct per consumer (5 scans, zero
    # ReusedExchange). Released via eager_release below.
    b = li.select("l_orderkey", "l_partkey").distinct().persist()
    n = b.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("c.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= PAIR_MIN_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    out = (
        pair.crossJoin(F.broadcast(n))
        .join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return eager_release(out, "copurchase_lift", b)


@register(
    "graph_triangles",
    oracle=f"""
    WITH {EDGE_CTE_SQL}, deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
      GROUP BY node
    ), e AS (
      SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN u ELSE v END AS s,
             CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN v ELSE u END AS t
      FROM e0
      JOIN deg du ON du.node = e0.u
      JOIN deg dv ON dv.node = e0.v
    )
    SELECT least(e1.s, e1.t, e2.t) AS part_a,
           e1.s + e1.t + e2.t
             - least(e1.s, e1.t, e2.t)
             - greatest(e1.s, e1.t, e2.t) AS part_b,
           greatest(e1.s, e1.t, e2.t) AS part_c
    FROM e e1
    JOIN e e2 ON e2.s = e1.t
    JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
    """,
    doc="Triangle enumeration on the co-purchase graph (parts sharing "
    ">= TRI_MIN_SUPPORT baskets): the closure structure behind "
    "'people who buy A and B also buy C' and the building block of "
    "clustering-coefficient / community metrics. The naive wedge "
    "join explodes on hub nodes — a part in 1M baskets contributes "
    "1M-choose-2 wedges. The classical distributed fix implemented "
    "here: orient every edge from the (degree, id)-SMALLER endpoint "
    "to the larger, making the graph a DAG where every node's "
    "out-degree is O(sqrt(m)); wedges are then built only from each "
    "node's out-edges, bounding the two-path join to O(m^1.5) total "
    "across any degree distribution, and a final equi-join on the "
    "closing edge confirms each triangle exactly once. Degree table "
    "is node-dimension-sized and attaches by broadcast; both the "
    "wedge join and the closure check are shuffle equi-joins on "
    "(s) and (s, t). Each triangle is emitted id-normalized "
    "(part_a < part_b < part_c), middle element by exact bigint "
    "sum subtraction.",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    # persisted: the edge list feeds the degree union (twice) and the
    # orientation join, and the ORIENTED list feeds all three arms of
    # the wedge+closure self-join — without staging, Catalyst plans
    # the basket self-join (the expensive part) once per consumer,
    # ~6x total (measured: 30 scans / 102 aggregates in the unstaged
    # plan, zero ReusedExchange). Both lists are edge-sized (graph
    # dimension), not fact-sized. Released via eager_release below.
    e0 = _copurchase_e0(li).persist()
    deg = _degrees(e0)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    e = (
        e0.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.s") == F.col("e1.t")).join(
        e3,
        (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
    )
    lo = F.least(F.col("e1.s"), F.col("e1.t"), F.col("e2.t"))
    hi = F.greatest(F.col("e1.s"), F.col("e1.t"), F.col("e2.t"))
    out = tri.select(
        lo.alias("part_a"),
        (F.col("e1.s") + F.col("e1.t") + F.col("e2.t") - lo - hi).alias("part_b"),
        hi.alias("part_c"),
    )
    return eager_release(out, "triangles", e0, e)


# --- recursive hierarchy traversal -----------------------------------

# Pointer doubling converges in O(log depth) rounds; a random
# recursive tree's expected depth is ~e*ln(N) (~75 at 1e12 nodes), so
# ~7 rounds cover any realistic corpus. 50 is a runaway guard.
TREE_MAX_ITERATIONS = 50
# Storage-checkpoint the pointer table every k rounds: the self-join
# doubles the logical plan per round (same growth the CC loop hits,
# dedup.py CC_CHECKPOINT_EVERY), and a checkpoint resets it to a scan.
TREE_CHECKPOINT_EVERY = 2


@register(
    "graph_tree_depth",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT doc_id AS node,
             CASE WHEN doc_id = 0 THEN NULL
                  ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % doc_id
             END AS parent
      FROM documents
    ),
    anc AS (
      SELECT node AS doc_id, node AS cur, 0 AS depth FROM p
      UNION ALL
      SELECT a.doc_id, pp.parent, a.depth + 1
      FROM anc a JOIN p pp ON pp.node = a.cur AND pp.parent IS NOT NULL
    )
    SELECT a.doc_id, p.parent, CAST(max(a.depth) AS BIGINT) AS depth
    FROM anc a JOIN p ON p.node = a.doc_id
    GROUP BY a.doc_id, p.parent
    """,
    doc="Recursive hierarchy traversal — depth and parent of every "
    "node in a tree, the WITH RECURSIVE query family (org charts, "
    "BOM explosion, reply threads) that Spark SQL has no recursive "
    "CTE for. The hierarchy is synthesized deterministically over "
    "doc_id (parent(n) = md5win(n) mod n, the shared cross-engine "
    "hash kernel, so parent < n — guaranteed acyclic, rooted at 0; "
    "a random recursive tree, expected depth ~e*ln N), which lets "
    "DuckDB verify the DISTRIBUTED algorithm against a true "
    "recursive CTE bit-for-bit: exact integer ids and edge counts, "
    "nothing float. Spark side is pointer doubling: each round joins "
    "the ancestor table with itself (anc <- anc(anc), steps add), so "
    "reach doubles per round and convergence is O(log depth) "
    "equi-join rounds — ~7 at 1e12 nodes — with a root self-loop "
    "(anc=0, step 0) absorbing finished walkers; one bounded scalar "
    "(the unfinished count) reaches the driver per round, the same "
    "contract as the CC loop. Each round shuffles O(N) 3-long rows; "
    "the pointer table storage-checkpoints every 2 rounds so the "
    "self-join's plan growth stays constant.",
)
def graph_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release, stage_checkpoint

    d = load(spark, "documents", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # parent < node by construction (h % node), so the graph is a
    # tree rooted at doc_id 0; ids are contiguous from 0 (TESTDATA),
    # so every parent exists. Persisted: consumed by the init table
    # and the final output join; released via eager_release below.
    p = d.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") == 0, F.lit(None).cast("bigint"))
        .otherwise(h % F.col("doc_id"))
        .alias("parent"),
    ).persist()
    a = p.select(
        "node",
        F.coalesce(F.col("parent"), F.lit(0)).alias("anc"),
        F.when(F.col("node") == 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("d"),
    ).persist()
    pending = a.filter(F.col("anc") != 0).count()
    iters = 0
    while pending > 0 and iters < TREE_MAX_ITERATIONS:
        b = a.select(
            F.col("node").alias("b_node"),
            F.col("anc").alias("b_anc"),
            F.col("d").alias("b_d"),
        )
        nxt = a.join(b, F.col("anc") == F.col("b_node")).select(
            "node",
            F.col("b_anc").alias("anc"),
            (F.col("d") + F.col("b_d")).alias("d"),
        )
        iters += 1
        if iters % TREE_CHECKPOINT_EVERY == 0:
            nxt = stage_checkpoint(nxt, "tree_ptr")
        nxt = nxt.persist()
        # one job materializes the round AND returns the convergence
        # scalar (no separate limit(1).count() probe)
        pending = nxt.filter(F.col("anc") != 0).count()
        a.unpersist()
        a = nxt
    if pending > 0:
        a.unpersist()
        p.unpersist()
        raise RuntimeError(
            f"tree depth did not converge in {TREE_MAX_ITERATIONS} rounds"
        )
    out = p.join(a.select("node", F.col("d").alias("depth")), "node").select(
        F.col("node").alias("doc_id"), "parent", "depth"
    )
    return eager_release(out, "tree_depth", p, a)


# Deterministic result bound for the neighborhood-similarity ranking:
# top pairs by (common neighbors, key, key) — a total order, so the
# same rows emerge at any scale factor.
CN_TOP = 50


@register(
    "graph_common_neighbors",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    deg AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS deg
      FROM e GROUP BY l_suppkey
    ),
    p AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             CAST(count(*) AS BIGINT) AS cn
      FROM e a JOIN e b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ),
    r AS (
      SELECT supp_a, supp_b, cn,
             row_number() OVER (ORDER BY cn DESC, supp_a, supp_b) AS rk
      FROM p
    )
    SELECT r.supp_a, r.supp_b, r.cn,
           da.deg AS deg_a, db.deg AS deg_b,
           round(CAST(r.cn AS DOUBLE)
                 / CAST(da.deg + db.deg - r.cn AS DOUBLE), 6) AS jaccard
    FROM r
    JOIN deg da ON da.l_suppkey = r.supp_a
    JOIN deg db ON db.l_suppkey = r.supp_b
    WHERE r.rk <= {CN_TOP}
    """,
    doc="Neighborhood-similarity link prediction: the supplier pairs "
    "sharing the most parts in the supplier-part bipartite graph, "
    "with common-neighbor count and Jaccard overlap — the classic "
    "who-is-substitutable-for-whom / recommend-a-peer primitive "
    "(companion to copurchase_pairs_lift, which scores the EDGE "
    "between co-occurring items; this scores NODE similarity through "
    "shared neighborhoods). Pair generation self-joins the deduped "
    "edge list on the part key, so fanout per part is (suppliers-of-"
    "part choose 2) — neighborhood-bounded, never corpus-bounded; "
    "degrees are dimension-sized and attach by broadcast. Counts and "
    "degrees stay exact bigints into ONE final IEEE division; the "
    "top-K cut is a total order (cn DESC, then both keys) over the "
    "pair aggregate, so the result is deterministic at any scale. "
    "The ranking window runs on the supplier-pair aggregate "
    "(dimension-squared at most, tiny next to the corpus).",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    # persisted: the deduped bipartite edge list feeds the self-join
    # (twice) and the degree table; released via eager_release below
    e = li.select("l_suppkey", "l_partkey").distinct().persist()
    deg = e.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg"))
    ea = e.select(F.col("l_suppkey").alias("supp_a"), "l_partkey")
    eb = e.select(F.col("l_suppkey").alias("supp_b"), "l_partkey")
    pairs = (
        ea.join(eb, "l_partkey")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    w = Window.orderBy(F.col("cn").desc(), "supp_a", "supp_b")
    ranked = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= CN_TOP
    )
    da = deg.select(F.col("l_suppkey").alias("supp_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("l_suppkey").alias("supp_b"), F.col("deg").alias("deg_b"))
    out = (
        ranked.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "cn",
            "deg_a",
            "deg_b",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return eager_release(out, "common_neighbors", e)


# Integer-scaled random-walk mass: each seed supplier starts with this
# much mass; every hop splits a node's mass uniformly over its edges
# with FLOOR division, so the arithmetic is exact bigint end to end.
WALK_MASS = 1_000_000_000_000
WALK_SEED_NATION = 3
WALK_TOP = 25


@register(
    "graph_walk_diffusion",
    oracle=f"""
    WITH e AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    ds AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS outd FROM e GROUP BY 1),
    dp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS outd FROM e GROUP BY 1),
    seed AS (SELECT s_suppkey FROM supplier WHERE s_nationkey = {WALK_SEED_NATION}),
    m1 AS (
      SELECT e.l_partkey, CAST(sum({WALK_MASS} // ds.outd) AS BIGINT) AS mass
      FROM seed JOIN e ON e.l_suppkey = seed.s_suppkey
      JOIN ds ON ds.l_suppkey = e.l_suppkey
      GROUP BY e.l_partkey
    ),
    m2 AS (
      SELECT e.l_suppkey, CAST(sum(m1.mass // dp.outd) AS BIGINT) AS mass
      FROM m1 JOIN e ON e.l_partkey = m1.l_partkey
      JOIN dp ON dp.l_partkey = e.l_partkey
      GROUP BY e.l_suppkey
    )
    SELECT m2.l_suppkey AS suppkey, m2.mass,
           (sup.s_nationkey = {WALK_SEED_NATION}) AS is_seed
    FROM m2 JOIN supplier sup ON sup.s_suppkey = m2.l_suppkey
    ORDER BY m2.mass DESC, suppkey LIMIT {WALK_TOP}
    """,
    doc="Two-hop random-walk mass diffusion over the supplier-part "
    "bipartite graph (personalized-PageRank style relatedness from a "
    f"seed cohort, nation {WALK_SEED_NATION}): every seed supplier "
    "pushes uniform mass to its parts, parts push to their suppliers, "
    "top receivers are the walk-related peers. The usual PageRank "
    "obstacle for hash-checking is float mass whose summation order "
    "differs per engine; here mass is an exact BIGINT split with "
    "FLOOR division at each hop, so the whole diffusion is "
    "order-independent integer arithmetic and the result hashes "
    "bit-for-bit (the deliberate rounding loss is part of the "
    "operator's contract, like the int8 quantization twins). Each "
    "hop is one equi-join + one map-side-combined sum keyed on the "
    "frontier — the standard message-passing shape; degree tables "
    "are dimension-sized broadcasts. K hops = K joins with no "
    "driver-side iteration state, so the plan is static and "
    "AQE-replannable at 100 TB.",
)
def graph_walk_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    sup = load(spark, "supplier", sf_dir)
    # persisted: the edge list feeds both hops and both degree tables
    e = li.select("l_suppkey", "l_partkey").distinct().persist()
    ds = e.groupBy("l_suppkey").agg(F.count(F.lit(1)).cast("bigint").alias("outd_s"))
    dp = e.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("outd_p"))
    seed = sup.filter(F.col("s_nationkey") == WALK_SEED_NATION).select("s_suppkey")
    m1 = (
        seed.join(e, e["l_suppkey"] == seed["s_suppkey"])
        .join(F.broadcast(ds), "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.sum(F.expr(f"{WALK_MASS} div outd_s")).cast("bigint").alias("mass1"))
    )
    m2 = (
        m1.join(e, "l_partkey")
        .join(F.broadcast(dp), "l_partkey")
        .groupBy("l_suppkey")
        .agg(F.sum(F.expr("mass1 div outd_p")).cast("bigint").alias("mass"))
    )
    out = (
        m2.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            m2["l_suppkey"] == F.col("s_suppkey"),
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "mass",
            (F.col("s_nationkey") == WALK_SEED_NATION).alias("is_seed"),
        )
        .orderBy(F.col("mass").desc(), "suppkey")
        .limit(WALK_TOP)
    )
    return eager_release(out, "walk_diffusion", e)


@register(
    "graph_label_propagation",
    oracle="""
    WITH e AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    lbl AS (SELECT s_suppkey, s_nationkey AS label FROM supplier),
    nbr AS (
      SELECT a.l_suppkey AS node, b.l_suppkey AS peer
      FROM e a JOIN e b ON a.l_partkey = b.l_partkey
                        AND a.l_suppkey <> b.l_suppkey
      GROUP BY 1, 2
    ),
    votes AS (
      SELECT nbr.node, lbl.label, CAST(count(*) AS BIGINT) AS n_votes
      FROM nbr JOIN lbl ON lbl.s_suppkey = nbr.peer
      GROUP BY nbr.node, lbl.label
    ),
    win AS (
      SELECT node, label AS new_label, n_votes,
             row_number() OVER (PARTITION BY node
                                ORDER BY n_votes DESC, label) AS rk
      FROM votes
    )
    SELECT w.node AS suppkey, l0.label AS old_label, w.new_label, w.n_votes,
           (w.new_label <> l0.label) AS changed
    FROM win w JOIN lbl l0 ON l0.s_suppkey = w.node
    WHERE w.rk = 1
    """,
    doc="One synchronous round of label propagation over the "
    "supplier-part co-purchase projection: every supplier adopts the "
    "majority nation label among part-sharing peers (ties to the "
    "smallest label — the deterministic-mode convention of "
    "agg_mode_per_group) — the community-detection step; iterating "
    "it is LPA, and one audited round is the hash-checkable unit "
    "(full LPA's convergence order is engine-defined, so the "
    "fixed-round form is the honest oracle target, exactly like "
    "graph_walk_diffusion's fixed hops). Message passing = the "
    "neighbor expansion bounded by per-part supplier fanout, a "
    "vote count keyed on (node, label), and a WindowGroupLimit "
    "argmax over the label-bounded vote table; the initial-label "
    "table is dimension-sized and broadcasts. On this dense "
    "synthetic graph most nodes converge to the global-mode nation "
    "in one round — the mechanics, not the sociology, are the "
    "deliverable.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    sup = load(spark, "supplier", sf_dir)
    lbl = sup.select("s_suppkey", F.col("s_nationkey").alias("label"))
    # persisted: the edge list feeds both sides of the peer self-join
    e = li.select("l_suppkey", "l_partkey").distinct().persist()
    a = e.select(F.col("l_suppkey").alias("node"), "l_partkey")
    b = e.select(F.col("l_suppkey").alias("peer"), "l_partkey")
    nbr = (
        a.join(b, "l_partkey")
        .filter(F.col("node") != F.col("peer"))
        .select("node", "peer")
        .distinct()
    )
    votes = (
        nbr.join(F.broadcast(lbl), nbr["peer"] == lbl["s_suppkey"])
        .groupBy("node", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("node").orderBy(F.col("n_votes").desc(), "label")
    win = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("node", F.col("label").alias("new_label"), "n_votes")
    )
    l0 = sup.select(F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("old_label"))
    out = win.join(F.broadcast(l0), "node").select(
        F.col("node").alias("suppkey"),
        "old_label",
        "new_label",
        "n_votes",
        (F.col("new_label") != F.col("old_label")).alias("changed"),
    )
    return eager_release(out, "label_propagation", e)


# Integer-mass PageRank: damping 85/100, exact floor arithmetic (same
# discipline as graph_walk_diffusion — the deliberate floor loss is
# the contract that makes the diffusion hash-checkable). Every node
# starts with PR_MASS; each iteration a node pushes
# floor(85*mass / (100*deg)) along every out-edge, and everything it
# did NOT push (the 15% plus floor crumbs) joins the teleport pool,
# redistributed uniformly as pool // n_nodes (pool mod n dropped —
# < n units per iteration, bounded and tested).
PR_MASS = 1_000_000_000
PR_HOPS = 3
PR_TOP = 30
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def _pagerank_iter_ctes() -> str:
    its = []
    prev = "m0"
    for i in range(1, PR_HOPS + 1):
        its.append(f"""
    qn{i} AS (
      SELECT m.node, ({PR_DAMP_NUM} * m.mass) // ({PR_DAMP_DEN} * d.deg) AS q,
             m.mass, d.deg
      FROM {prev} m JOIN deg d USING (node)
    ),
    inc{i} AS (
      SELECT e.dst AS node, CAST(sum(q.q) AS BIGINT) AS inc
      FROM e JOIN qn{i} q ON q.node = e.src GROUP BY e.dst
    ),
    tp{i} AS (SELECT CAST(sum(mass - deg * q) AS BIGINT) AS pool FROM qn{i}),
    m{i} AS (
      SELECT n.node,
             CAST(COALESCE(i.inc, 0) + tp{i}.pool // nn.n AS BIGINT) AS mass
      FROM nodes n LEFT JOIN inc{i} i USING (node)
      CROSS JOIN tp{i} CROSS JOIN nn
    )""")
        prev = f"m{i}"
    return ",".join(its)


def _pagerank_masses(spark: SparkSession, sf_dir: str):
    """(masses_df, caches) for the full node set after PR_HOPS
    iterations; split out so tests can pin mass conservation on every
    node, not just the reported top. Caller owns the unpersist."""
    li = load(spark, "lineitem", sf_dir)
    pairs = li.select("l_suppkey", "l_partkey").distinct()
    # bipartite union graph with disjoint node ids: 2s / 2p+1
    e = (
        pairs.select(
            (2 * F.col("l_suppkey")).alias("src"),
            (2 * F.col("l_partkey") + 1).alias("dst"),
        )
        .unionAll(
            pairs.select(
                (2 * F.col("l_partkey") + 1).alias("src"),
                (2 * F.col("l_suppkey")).alias("dst"),
            )
        )
        .persist()
    )
    # node set derived FROM the degree aggregate (round-15, §2.4):
    # the separate e.select(src).distinct() was a second full
    # exchange+aggregate over the symmetrized edge list computing the
    # same key set the degree groupBy already reduces to — on a
    # symmetrized graph every node has an out-edge, so deg's keys ARE
    # the node set.
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .persist()
    )
    nodes = deg.select("node")
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = nodes.select("node", F.lit(PR_MASS).cast("bigint").alias("mass"))
    caches = [e, deg]
    for _ in range(PR_HOPS):
        qn = (
            m.join(F.broadcast(deg), "node")
            .select(
                "node",
                F.expr(f"({PR_DAMP_NUM} * mass) div ({PR_DAMP_DEN} * deg)").alias("q"),
                "mass",
                "deg",
            )
            .persist()
        )
        caches.append(qn)
        inc = (
            e.join(qn.select(F.col("node").alias("src"), "q"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("q").cast("bigint").alias("inc"))
        )
        tp = qn.agg(
            F.sum(F.col("mass") - F.col("deg") * F.col("q")).cast("bigint").alias("pool")
        )
        m = (
            nodes.join(inc, "node", "left")
            .crossJoin(F.broadcast(tp))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (F.coalesce(F.col("inc"), F.lit(0)) + F.expr("pool div n"))
                .cast("bigint")
                .alias("mass"),
            )
        )
    return m, caches


@register(
    "graph_pagerank",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    e AS (
      SELECT 2 * l_suppkey AS src, 2 * l_partkey + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * l_partkey + 1 AS src, 2 * l_suppkey AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    m0 AS (SELECT node, CAST({PR_MASS} AS BIGINT) AS mass FROM nodes),
    {_pagerank_iter_ctes()}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
           node // 2 AS key, mass
    FROM m{PR_HOPS}
    ORDER BY mass DESC, node
    LIMIT {PR_TOP}
    """,
    doc=f"PageRank over the supplier-part bipartite graph, {PR_HOPS} "
    "synchronous iterations with damping 0.85 in exact integer mass "
    "(see PR_MASS comment): the authority ranking behind 'which "
    "suppliers/parts anchor the purchase network'. Fixed-iteration "
    "integer arithmetic is what makes a diffusion hash-checkable "
    "(graph_walk_diffusion's discipline, plus damping and a teleport "
    "pool here); convergence-to-epsilon PageRank is float and "
    "engine-ordered, so the K-step form is the honest oracle target. "
    "Each iteration is one broadcast of the dimension-sized degree "
    "table, one shuffle equi-join keyed on the frontier, one "
    "map-side-combined sum, and two 1-row scalar broadcasts (the "
    "teleport pool and node count — the sanctioned keys=[] shape); "
    "K iterations = K static joins, no driver loop state, so the "
    "whole plan is AQE-replannable at 100 TB. Per-iteration state is "
    "persisted once and released (iterative frontiers otherwise "
    "re-derive exponentially through the lazy chain).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    m, caches = _pagerank_masses(spark, sf_dir)
    out = (
        m.orderBy(F.col("mass").desc(), "node")
        .limit(PR_TOP)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("part"))
            .alias("node_type"),
            F.expr("node div 2").alias("key"),
            "mass",
        )
    )
    return eager_release(out, "pagerank", *caches)


# k-core peeling: drop nodes with degree < KCORE_K, recompute, repeat
# KCORE_ROUNDS times (fixed rounds => a static, hash-checkable plan;
# the converged flag reports whether the last round was a no-op, i.e.
# whether this IS the exact k-core or an upper bound on it).
KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_iter_ctes() -> str:
    its = []
    for i in range(1, KCORE_ROUNDS + 1):
        its.append(f"""
    keep{i} AS (
      SELECT s AS node FROM adj{i - 1} GROUP BY s HAVING count(*) >= {KCORE_K}
    ),
    adj{i} AS (
      SELECT a.s, a.t FROM adj{i - 1} a
      JOIN keep{i} ku ON ku.node = a.s
      JOIN keep{i} kv ON kv.node = a.t
    )""")
    return ",".join(its)


@register(
    "graph_kcore",
    oracle=f"""
    WITH {EDGE_CTE_SQL},
    adj0 AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v AS s, u AS t FROM e0),
    {_kcore_iter_ctes()},
    surv AS (
      SELECT s AS node, CAST(count(*) AS BIGINT) AS deg_core
      FROM adj{KCORE_ROUNDS} GROUP BY s
    ),
    conv AS (
      SELECT ((SELECT count(*) FROM adj{KCORE_ROUNDS})
              = (SELECT count(*) FROM adj{KCORE_ROUNDS - 1})) AS converged
    )
    SELECT surv.node, surv.deg_core, conv.converged
    FROM surv CROSS JOIN conv
    """,
    doc=f"{KCORE_K}-core of the co-purchase graph by "
    f"{KCORE_ROUNDS}-round synchronous peeling: repeatedly drop nodes "
    f"with fewer than {KCORE_K} surviving neighbors — the standard "
    "dense-subgraph extraction (community kernels, spam/bot cliques, "
    "robust seeds for the LPA/triangle family). Peeling is the "
    "textbook distributed k-core algorithm: each round is one "
    "map-side-combined degree count over the surviving adjacency "
    "plus two semi-join-shaped equi-joins filtering both endpoints — "
    "never a per-node sequential removal (exact linear-time peeling "
    "is inherently serial; synchronous rounds are the scalable "
    "formulation, and the emitted converged flag says whether the "
    "fixed budget already reached the fixpoint — true here). Each "
    "round's adjacency feeds two consumers (degrees + the next "
    "filter), so every level persists once and releases at the end — "
    "the iterative-frontier staging rule.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    e0 = _copurchase_e0(li)
    adj = (
        e0.select(F.col("u").alias("s"), F.col("v").alias("t"))
        .unionAll(e0.select(F.col("v").alias("s"), F.col("u").alias("t")))
        .persist()
    )
    caches = [adj]
    prev = adj
    for _ in range(KCORE_ROUNDS):
        keep = (
            prev.groupBy("s")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select(F.col("s").alias("node"))
        )
        nxt = (
            prev.join(keep.withColumnRenamed("node", "s"), "s")
            .join(keep.withColumnRenamed("node", "t"), "t")
            .select("s", "t")
            .persist()
        )
        caches.append(nxt)
        prev = nxt
    surv = prev.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_core")
    )
    last = caches[-1].agg(F.count(F.lit(1)).alias("c_last"))
    before = caches[-2].agg(F.count(F.lit(1)).alias("c_before"))
    conv = last.crossJoin(F.broadcast(before)).select(
        (F.col("c_last") == F.col("c_before")).alias("converged")
    )
    out = surv.crossJoin(F.broadcast(conv)).select("node", "deg_core", "converged")
    return eager_release(out, "kcore", *caches)


# --- multi-source BFS layers (round 10) -------------------------------

BFS_SEED_MOD = 50  # seeds: suppliers with suppkey % 50 == 0
BFS_HOPS = 4


def _bfs_layer_ctes() -> str:
    its = []
    for i in range(1, BFS_HOPS + 1):
        its.append(f"""
    f{i} AS (
      SELECT DISTINCT e.dst AS node
      FROM e JOIN f{i - 1} ON e.src = f{i - 1}.node
      WHERE e.dst NOT IN (SELECT node FROM v{i - 1})
    ),
    v{i} AS (SELECT node FROM v{i - 1} UNION SELECT node FROM f{i})""")
    return ",".join(its)


@register(
    "graph_bfs_layers",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    e AS (
      SELECT 2 * l_suppkey AS src, 2 * l_partkey + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * l_partkey + 1 AS src, 2 * l_suppkey AS dst FROM pairs
    ),
    f0 AS (
      SELECT DISTINCT 2 * l_suppkey AS node FROM lineitem
      WHERE l_suppkey % {BFS_SEED_MOD} = 0
    ),
    v0 AS (SELECT node FROM f0),
    {_bfs_layer_ctes()}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
           CAST(node // 2 AS BIGINT) AS key,
           CAST(layer AS BIGINT) AS layer
    FROM (
      {" UNION ALL ".join(f"SELECT node, {i} AS layer FROM f{i}" for i in range(BFS_HOPS + 1))}
    )
    """,
    doc="Multi-source BFS over the supplier-part bipartite graph "
    f"(graph_pagerank's edge set): every supplier with suppkey % "
    f"{BFS_SEED_MOD} == 0 seeds layer 0, and {BFS_HOPS} unrolled "
    "frontier expansions assign each reached node its first-reached "
    "layer — the reachability/blast-radius primitive (which parts "
    "and suppliers are within k hops of a recalled supplier set). "
    "Each hop is ONE shuffle equi-join of the edge list on the "
    "previous layer's frontier, folded into the labels so far by one "
    "min(layer) hash aggregate per node (a node keeps the smallest "
    "layer it is proposed at); K hops = K static joins with no driver "
    "loop state. Each level's labels persist and release at the end "
    "(the pagerank/MMR lazy-chain discipline — an unpersisted level "
    "re-derives every prior level through the plan). Node ids, "
    "layers, and the seed predicate are exact integers; first-"
    "reached semantics make the result set-unique, so the whole "
    "layer assignment hash-checks.",
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    pairs = li.select("l_suppkey", "l_partkey").distinct()
    e = (
        pairs.select(
            (2 * F.col("l_suppkey")).alias("src"),
            (2 * F.col("l_partkey") + 1).alias("dst"),
        )
        .unionAll(
            pairs.select(
                (2 * F.col("l_partkey") + 1).alias("src"),
                (2 * F.col("l_suppkey")).alias("dst"),
            )
        )
        .persist()
    )
    # NOTE (round-15, measured and rejected): deriving seeds from the
    # persisted edge list (filter src % 100 == 0 + distinct — the
    # identical set, since src = 2*l_suppkey) looked like a saved
    # fact pass but benched ~2 s SLOWER best-of-3 in both A/B
    # orderings: the distinct over the 2x-symmetrized edge cache costs
    # more than this narrow pushdown-pruned re-scan, and it serializes
    # seed materialization behind the full edge cache. Guide §1.1's
    # empirical loop wins over the first-principles sketch here.
    seeds = (
        li.filter(F.col("l_suppkey") % BFS_SEED_MOD == 0)
        .select((2 * F.col("l_suppkey")).alias("node"))
        .distinct()
        .persist()
    )
    # Min-layer fold per hop (round-16, guide §2.3 "aggregate before
    # you shuffle"; r15 verdict item 4): the per-hop
    # distinct + anti-join-vs-visited pair (TWO exchanges per level,
    # plus a growing persisted visited union) collapses into ONE
    # min(layer) hash aggregate over labels ∪ (neighbors of the
    # frontier tagged with this hop). Equivalence to the first-reached
    # contract, by induction on i: if labels_{i-1} holds exactly
    # {(v, dist(v)) : dist(v) <= i-1}, then frontier_{i-1} =
    # labels_{i-1} at layer i-1 is exactly the dist-(i-1) set; its
    # neighbor expansion tagged i covers every dist-i node (each has a
    # dist-(i-1) neighbor) and otherwise only re-proposes nodes with
    # dist <= i-1, whose smaller label wins the min — so labels_i is
    # exactly {(v, dist(v)) : dist(v) <= i}. labels_BFS_HOPS IS the
    # declared union of layers. The hash-pinned oracle re-derives the
    # same set via its recursive CTE.
    caches = [e, seeds]
    labels = seeds.select("node", F.lit(0).alias("layer")).persist()
    caches.append(labels)
    for i in range(1, BFS_HOPS + 1):
        reach = (
            e.join(
                labels.filter(F.col("layer") == i - 1).select(
                    F.col("node").alias("src")
                ),
                "src",
            ).select(F.col("dst").alias("node"), F.lit(i).alias("layer"))
        )
        labels = (
            labels.unionByName(reach)
            .groupBy("node")
            .agg(F.min("layer").alias("layer"))
            .persist()
        )
        caches.append(labels)
    out = labels.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("part"))
        .alias("node_type"),
        F.expr("node div 2").cast("bigint").alias("key"),
        F.col("layer").cast("bigint").alias("layer"),
    )
    return eager_release(out, "bfs_layers", *caches)


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    pdeg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS pd
      FROM e GROUP BY l_partkey
    ),
    w AS (
      SELECT l_partkey,
             CAST(round(1000000 / ln(CAST(pd AS DOUBLE))) AS BIGINT) AS wu
      FROM pdeg WHERE pd >= 2
    ),
    p AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(w.wu) AS BIGINT) AS aa_micro
      FROM e a
      JOIN e b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      JOIN w ON w.l_partkey = a.l_partkey
      GROUP BY a.l_suppkey, b.l_suppkey
    )
    SELECT supp_a, supp_b, cn,
           round(aa_micro / 1e6, 6) AS adamic_adar,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY aa_micro DESC, supp_a,
                                       supp_b) AS rk FROM p)
    WHERE rk <= {CN_TOP}
    """,
    doc="Adamic-Adar link prediction over the supplier-part bipartite "
    "graph — graph_common_neighbors' raw count weighted by shared-"
    "neighbor RARITY (each shared part contributes 1/ln(degree), so "
    "a part only two suppliers carry says far more than a commodity "
    "every supplier carries — the classic fix for hub-inflated "
    "similarity). Determinism: the per-part weight is quantized ONCE "
    "to integer micro-units (round(1e6/ln(deg)) — one libm call per "
    "PART, a dimension-bounded table both engines compute "
    "identically), and pair scores are exact BIGINT sums of those "
    "units, so summation order can never wobble a rank (the "
    "integer-mass PageRank discipline). Degree-1 parts carry no "
    "signal and ln(1)=0 would divide by zero: filtered before the "
    "join, which also shrinks it. Same neighborhood-bounded fanout "
    "and total-order top-K as common_neighbors.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    e = li.select("l_suppkey", "l_partkey").distinct().persist()
    w = (
        e.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pd"))
        .filter(F.col("pd") >= 2)
        .select(
            "l_partkey",
            F.round(F.lit(1000000.0) / F.log(F.col("pd").cast("double")))
            .cast("bigint")
            .alias("wu"),
        )
    )
    ea = e.select(F.col("l_suppkey").alias("supp_a"), "l_partkey")
    eb = e.select(F.col("l_suppkey").alias("supp_b"), "l_partkey")
    pairs = (
        ea.join(eb, "l_partkey")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .join(w, "l_partkey")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum("wu").cast("bigint").alias("aa_micro"),
        )
    )
    wr = Window.orderBy(F.col("aa_micro").desc(), "supp_a", "supp_b")
    out = (
        pairs.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= CN_TOP)
        .select(
            "supp_a",
            "supp_b",
            "cn",
            F.round(F.col("aa_micro") / F.lit(1e6), 6).alias("adamic_adar"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )
    return eager_release(out, "adamic_adar", e)


# --- local clustering coefficient (round 11 continuation) ---------------


@register(
    "graph_clustering_coeff",
    oracle=f"""
    WITH {EDGE_CTE_SQL}, deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
      GROUP BY node
    ), e AS (
      SELECT CASE WHEN (du.degree, e0.u) < (dv.degree, e0.v) THEN u ELSE v END AS s,
             CASE WHEN (du.degree, e0.u) < (dv.degree, e0.v) THEN v ELSE u END AS t
      FROM e0
      JOIN deg du ON du.node = e0.u
      JOIN deg dv ON dv.node = e0.v
    ), tri AS (
      SELECT e1.s AS a, e1.t AS b2, e2.t AS c
      FROM e e1
      JOIN e e2 ON e2.s = e1.t
      JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
    ), pertri AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b2 FROM tri
      UNION ALL SELECT c FROM tri
    ), tcount AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM pertri GROUP BY node
    )
    SELECT d.node AS part, d.degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1.0)), 9) AS clustering_coeff
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    WHERE d.degree >= 2
    """,
    doc="Local clustering coefficient per node of the co-purchase "
    "graph: 2*tri(v) / (deg(v)*(deg(v)-1)) — the community-structure "
    "metric built directly on graph_triangles' machinery (how close "
    "each part's neighborhood is to a clique; the per-node companion "
    "to the global triangle census). Triangle enumeration reuses the "
    "degree-orientation trick (out-degree O(sqrt(m)), wedge join "
    "bounded O(m^1.5)); per-node counts come from exploding each "
    "id-normalized triangle to its three corners — an edge-dimension "
    "unionAll, never a fact-table pass — and the coefficient is ONE "
    "final IEEE division of exact bigint counts, rounded for the "
    "cross-engine hash. Degree table attaches by broadcast; nodes "
    "with degree < 2 (coefficient undefined) are excluded in both "
    "engines.",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    # persisted: e0 feeds the degree union (twice) and the orientation
    # join; e feeds the three wedge/closure arms (graph_triangles'
    # staging rationale). Both are edge-dimension-sized.
    e0 = _copurchase_e0(li).persist()
    deg = _degrees(e0).select("node", F.col("d").alias("degree")).persist()
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    lower = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    e = (
        e0.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.s") == F.col("e1.t")).join(
        e3,
        (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
    )
    corners = (
        tri.select(F.col("e1.s").alias("node"))
        .unionAll(tri.select(F.col("e1.t").alias("node")))
        .unionAll(tri.select(F.col("e2.t").alias("node")))
    )
    tcount = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tcount, "node", "left")
        .select(
            F.col("node").alias("part"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree").cast("double") - F.lit(1.0))
                ),
                9,
            ).alias("clustering_coeff"),
        )
    )
    return eager_release(out, "clustering_coeff", e0, deg, e)


# --- degree assortativity (round 11 continuation) -----------------------


@register(
    "graph_assortativity",
    oracle=f"""
    WITH {EDGE_CTE_SQL}, deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
      GROUP BY node
    ), ends AS (
      SELECT du.d AS x, dv.d AS y FROM e0
        JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v
      UNION ALL
      SELECT dv.d, du.d FROM e0
        JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS m2,
             CAST(sum(x) AS DECIMAL(20,0)) AS sx,
             CAST(sum(CAST(x AS DECIMAL(15,0)) * x) AS DECIMAL(32,0)) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(15,0)) * y) AS DECIMAL(32,0)) AS sxy
      FROM ends
    )
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
             AS assortativity
    FROM s
    """,
    doc="Degree assortativity of the co-purchase graph — Newman's r: "
    "the Pearson correlation of endpoint degrees over every edge "
    "(each edge contributes both orientations, the standard "
    "undirected convention). r > 0 means hubs attach to hubs "
    "(social-network shape), r < 0 hubs fan out to leaves "
    "(hub-and-spoke catalog shape) — the one-number summary that "
    "decides whether degree-based skew mitigation (salting hot "
    "parts) will matter downstream. Exact DECIMAL sufficient sums "
    "(m2, Sx, Sxx, Sxy) reduced in one pass over the "
    "edge-dimension endpoint list; r is a single shared-shape "
    "double expression of six exact inputs, rounded for the hash. "
    "The degree table is node-dimension-sized and attaches by "
    "broadcast; nothing fact-sized ever shuffles.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    e0 = _copurchase_e0(li).persist()
    deg = _degrees(e0).persist()
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dux"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dvx"))
    joined = e0.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    ends = joined.select(
        F.col("dux").alias("x"), F.col("dvx").alias("y")
    ).unionAll(joined.select(F.col("dvx").alias("x"), F.col("dux").alias("y")))
    s = ends.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("x").cast("decimal(20,0)").alias("sx"),
        F.sum(F.col("x").cast("decimal(15,0)") * F.col("x"))
        .cast("decimal(32,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(15,0)") * F.col("y"))
        .cast("decimal(32,0)")
        .alias("sxy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    md, sxd = F.col("m2").cast("double"), F.col("sx").cast("double")
    out = s.crossJoin(F.broadcast(n_nodes)).select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        "n_nodes",
        F.round(
            (md * F.col("sxy").cast("double") - sxd * sxd)
            / (md * F.col("sxx").cast("double") - sxd * sxd),
            9,
        ).alias("assortativity"),
    )
    return eager_release(out, "assortativity", e0, deg)


# --- modularity of the nation partition (round 11 continuation) ---------


@register(
    "graph_modularity",
    oracle="""
    WITH ep AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM ep a JOIN ep b ON a.l_partkey = b.l_partkey
                         AND a.l_suppkey < b.l_suppkey
    ),
    lbl AS (SELECT s_suppkey, s_nationkey AS com FROM supplier),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ),
    dc AS (
      SELECT l.com, CAST(sum(g.d) AS BIGINT) AS d_c,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg g JOIN lbl l ON l.s_suppkey = g.node
      GROUP BY l.com
    ),
    ec AS (
      SELECT lu.com, CAST(count(*) AS BIGINT) AS e_c
      FROM edges e
      JOIN lbl lu ON lu.s_suppkey = e.u
      JOIN lbl lv ON lv.s_suppkey = e.v
      WHERE lu.com = lv.com
      GROUP BY lu.com
    )
    SELECT dc.com AS community, dc.n_nodes, dc.d_c AS degree_sum,
           CAST(coalesce(ec.e_c, 0) AS BIGINT) AS intra_edges,
           round((4.0 * m.m * coalesce(ec.e_c, 0) - CAST(dc.d_c AS DOUBLE)
                  * dc.d_c) / (4.0 * m.m * m.m), 9) AS q_contribution
    FROM dc LEFT JOIN ec ON ec.com = dc.com CROSS JOIN m
    """,
    doc="Newman modularity of the NATION partition over the supplier "
    "co-purchase graph (suppliers sharing >= 1 part): per community "
    "the contribution e_c/m - (d_c/2m)^2, the quality score that "
    "grades graph_label_propagation's input partition — Q near 0 "
    "says nation is NOT the community structure of this graph (the "
    "honest reading on synthetic data), strongly positive Q says "
    "the partition captures real assortment; summed contributions "
    "are the global Q the Louvain family maximizes. Exact "
    "arithmetic: each contribution is the integer rational "
    "(4 m e_c - d_c^2) / (4 m^2) evaluated with ONE final double "
    "division, rounded. Shape: the projection self-join is bounded "
    "by per-part supplier fanout; degree and label tables are "
    "dimension-sized broadcasts; m is a 1-row scalar broadcast "
    "(the sanctioned exemption); output is community-dimension.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.stage import eager_release

    li = load(spark, "lineitem", sf_dir)
    sup = load(spark, "supplier", sf_dir)
    ep = li.select("l_suppkey", "l_partkey").distinct()
    a, b = ep.alias("a"), ep.alias("b")
    # persisted: the projected edge list feeds m, the degree union
    # (twice) and the intra-community count — edge-dimension-sized.
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
        .persist()
    )
    lbl = sup.select(F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("com"))
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    dc = (
        deg.join(F.broadcast(lbl), "node")
        .groupBy("com")
        .agg(
            F.sum("d").cast("bigint").alias("d_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
    )
    lu = lbl.select(F.col("node").alias("u"), F.col("com").alias("cu"))
    lv = lbl.select(F.col("node").alias("v"), F.col("com").alias("cv"))
    ec = (
        edges.join(F.broadcast(lu), "u")
        .join(F.broadcast(lv), "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("com"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    out = (
        dc.join(ec, "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("com").alias("community"),
            "n_nodes",
            F.col("d_c").alias("degree_sum"),
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("intra_edges"),
            F.round(
                (
                    F.lit(4.0) * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                    - F.col("d_c").cast("double") * F.col("d_c")
                )
                / (F.lit(4.0) * F.col("m") * F.col("m")),
                9,
            ).alias("q_contribution"),
        )
    )
    return eager_release(out, "modularity", edges)


# --- neighborhood-Jaccard link prediction (round 12, wave-5 queue) -------


@register(
    "graph_jaccard_links",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    ),
    deg AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS d
      FROM e GROUP BY l_suppkey
    ),
    p AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM e a JOIN e b ON a.l_partkey = b.l_partkey
                       AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    j AS (
      SELECT supp_a, supp_b, inter,
             da.d + db.d - inter AS uni,
             (inter * 1000000) // (da.d + db.d - inter) AS j_micro
      FROM p JOIN deg da ON da.l_suppkey = p.supp_a
             JOIN deg db ON db.l_suppkey = p.supp_b
    )
    SELECT supp_a, supp_b, inter, CAST(uni AS BIGINT) AS uni,
           CAST(j_micro AS BIGINT) AS j_micro,
           round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (
            ORDER BY j_micro DESC, inter DESC, supp_a, supp_b) AS rk
          FROM j)
    WHERE rk <= {CN_TOP}
    """,
    doc="Neighborhood-Jaccard link prediction over the supplier-part "
    "bipartite projection — the third classic measure beside "
    "graph_common_neighbors (raw overlap, hub-inflated) and "
    "graph_adamic_adar (rarity-weighted): |N(u) & N(v)| / "
    "|N(u) | N(v)| normalizes by BOTH catalogs, so two boutique "
    "suppliers sharing half their range outrank two megacarriers "
    "sharing a sliver. Ranking is exact integer arithmetic end to "
    "end: the rational i/(du+dv-i) orders by the key "
    "floor(i*1e6/union) with (inter, supp_a, supp_b) tie-breaks — "
    "floor division of positives agrees across engines; the "
    "displayed jaccard is one IEEE division rounded 6dp. Shape: "
    "the same part-bounded pair fanout as the siblings (candidates "
    "only via shared parts — never supplier x supplier), degrees "
    "attach by two dimension joins, one top-K window. Part fanout "
    "bounds the shuffle at 100 TB; AQE splits commodity-part skew.",
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, "lineitem", sf_dir)
    e = li.select("l_suppkey", "l_partkey").distinct()
    deg = e.groupBy("l_suppkey").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ea = e.select(F.col("l_suppkey").alias("supp_a"), "l_partkey")
    eb = e.select(F.col("l_suppkey").alias("supp_b"), "l_partkey")
    p = (
        ea.join(eb, "l_partkey")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    da = deg.select(F.col("l_suppkey").alias("supp_a"), F.col("d").alias("da"))
    db = deg.select(F.col("l_suppkey").alias("supp_b"), F.col("d").alias("db"))
    j = (
        p.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "inter",
            (F.col("da") + F.col("db") - F.col("inter")).alias("uni"),
            F.expr("(inter * 1000000) div (da + db - inter)").alias("j_micro"),
        )
    )
    w = Window.orderBy(
        F.col("j_micro").desc(), F.col("inter").desc(), "supp_a", "supp_b"
    )
    return (
        j.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= CN_TOP)
        .select(
            "supp_a",
            "supp_b",
            "inter",
            F.col("uni").cast("bigint").alias("uni"),
            F.col("j_micro").cast("bigint").alias("j_micro"),
            F.round(F.col("inter").cast("double") / F.col("uni"), 6).alias(
                "jaccard"
            ),
            "rk",
        )
    )
