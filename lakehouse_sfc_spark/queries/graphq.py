"""Graph analytics over derived co-occurrence graphs — beyond the
reference (its engines have no graph surface), sibling of
`dedup_components` (queries/datapipe.py): where components label the
near-dup pair graph, these queries measure the structure of an
item-co-occurrence graph a recommender/feature pipeline would build.

Graph: vertices = parts, undirected edge (p1, p2) iff both parts appear
in the same order (distinct pairs from a per-order self-join of
lineitem).  The per-order fan-out is bounded (≤ 7 lineitems per TPC-H
order → ≤ 21 pairs), so edge generation is a key-equality self-join that
scales linearly with orders — never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_sfc_spark.queries.registry import register
from lakehouse_sfc_spark.sources.loader import (
    build_once,
    compute_width,
    load_table,
    materialize_once,
    scratch_dir,
)

_SQL_EDGES = """
    SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct co-occurrence edge relation, MATERIALIZED once per
    dataset fingerprint (the standard big-graph split: the data-sized
    pair-extraction stage is shared by every graph query, so extract once
    and let all consumers iterate on the reduced |E|-sized graph).  The
    cache key folds the source dataset's (mtime, size) fingerprint, so a
    regenerated dataset never serves stale edges — same discipline as the
    IVF cell cache (queries/datapipe.py::ann_ivf_partitioned_topk)."""
    path = build_once(
        scratch_dir("graph_edges/v1", sf_dir, ("lineitem",)),
        lambda p: _edges_build(spark, sf_dir).write.parquet(p),
    )
    return spark.read.parquet(path)


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    tri AS (
        SELECT COUNT(*) AS triangles
        FROM edges e1
        JOIN edges e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
        JOIN edges e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2
    ),
    deg AS (
        SELECT p, COUNT(*) AS d FROM (
            SELECT p1 AS p FROM edges UNION ALL SELECT p2 FROM edges
        ) GROUP BY p
    ),
    agg AS (
        SELECT COUNT(*) AS n_vertices,
               SUM(d * (d - 1) / 2) AS wedges
        FROM deg
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           agg.n_vertices,
           tri.triangles,
           CASE WHEN agg.wedges > 0
                THEN 3.0 * tri.triangles / CAST(agg.wedges AS DOUBLE)
                ELSE 0.0 END AS clustering_coeff
    FROM tri, agg
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph.  Triangles are enumerated once each via the ordered
    two-join (u<v<w): out-edge pairs of u joined against the closing edge
    — two hash shuffles on vertex keys, no all-pairs stage.

    Scale note: on a power-law graph the (u<v<w) orientation leaves hub
    vertices with huge out-degree; the production refinement is
    degree-ordering (orient each edge toward the higher-degree endpoint —
    compact-forward, Latapy 2008), which bounds every out-degree by
    O(sqrt(|E|)) and is the same plan shape with one extra tiny join
    against the degree table."""
    # hash-cluster the edge list on p1 ONCE (core-count width, not the
    # session's shuffle width) and materialize it for every consumer.  A
    # checkpoint rather than a cached frame: its blocks are released by the
    # ContextCleaner when the frame is garbage-collected, where a cached
    # frame leaked until the caller's clearCache().  The checkpoint does not
    # carry the p1 partitioning forward (its scan reports
    # UnknownPartitioning), so a shuffled wedge self-join exchanges both
    # sides; at sf0.01 AQE broadcasts them instead.
    edges = materialize_once(
        _edges(spark, sf_dir).repartition(compute_width(spark), "p1")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.p1") == F.col("e1.p1"))
            & (F.col("e2.p2") > F.col("e1.p2")),
        )
        # closing-edge probe: broadcast the edge list (2 longs/row — an
        # 80 MB relation per 5M edges).  On a graph too big to broadcast,
        # keep the same plan with a hash join after degree-ordering
        # (compact-forward) — the wedge side stays the big side either way.
        .join(
            F.broadcast(e3),
            (F.col("e3.p1") == F.col("e1.p2"))
            & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        edges.select(F.col("p1").alias("p"))
        .unionAll(edges.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        n_edges.crossJoin(agg)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_vertices",
            "triangles",
            F.when(
                F.col("wedges") > 0,
                F.lit(3.0)
                * F.col("triangles")
                / F.col("wedges").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )
    return out


_PR_SCALE = 1_000_000_000_000  # 1e12: ranks as scaled integers -> exact math

_SQL_PR_EDGES = """
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
"""

_SQL_PR_ITER = """
    SELECT n.node,
           CAST({base} + COALESCE(SUM(CAST(FLOOR(
               r.rank_scaled * 85 / (100.0 * d.outdeg)
           ) AS BIGINT)), 0) AS BIGINT) AS rank_scaled
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node
    LEFT JOIN {prev} r ON r.node = e.src
    LEFT JOIN outd d ON d.src = e.src
    GROUP BY n.node
"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_SQL_PR_EDGES}),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    outd AS MATERIALIZED (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ),
    r0 AS (SELECT node, {_PR_SCALE // 25} AS rank_scaled FROM nodes),
    r1 AS ({_SQL_PR_ITER.format(base=_PR_SCALE * 15 // 2500, prev="r0")}),
    r2 AS ({_SQL_PR_ITER.format(base=_PR_SCALE * 15 // 2500, prev="r1")}),
    r3 AS ({_SQL_PR_ITER.format(base=_PR_SCALE * 15 // 2500, prev="r2")})
    SELECT r3.node, n.n_name, r3.rank_scaled,
           CAST(r3.rank_scaled AS DOUBLE) / {_PR_SCALE} AS rank
    FROM r3 JOIN nation n ON n.n_nationkey = r3.node
    ORDER BY r3.rank_scaled DESC, r3.node
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the nation trade
    graph: edge cust-nation -> supp-nation iff any order shipped between
    them.  The expensive, data-sized stage is EDGE EXTRACTION — a
    lineitem⋈orders⋈customer⋈supplier pipeline (dims broadcast, one fact
    shuffle) reduced to ≤ 25×24 distinct pairs and materialized once so
    the 3 unrolled iterations never rescan the fact table.  Iterations
    then run on the reduced graph (the standard big-graph split: heavy
    extract once, iterate on vertices/edges only — same discipline as
    dedup_components).

    Cross-engine exactness without floats: ranks are integers scaled by
    1e12.  Each contribution floor(r·85/(100·outdeg)) keeps every product
    ≤ 8.5e13 < 2^53, so the doubles inside the division are exact, the
    one division is correctly rounded, and floor lands both engines on
    the same integer.  Dangling-node mass is dropped identically on both
    sides (LEFT joins), so ranks sum below 1.0 — documented PageRank-
    with-leak semantics, bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    edges = materialize_once(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey != s.s_nationkey)
        .select(
            c.c_nationkey.alias("src"), s.s_nationkey.alias("dst")
        )
        .distinct()
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    base = _PR_SCALE * 15 // 2500
    ranks = nodes.select("node", F.lit(_PR_SCALE // 25).alias("rank_scaled"))
    for _ in range(3):
        # outd / ranks / the contribution aggregate are all ≤ |V| rows —
        # broadcast them so an iteration is 3 broadcast joins + one tiny
        # aggregate, never a SortMergeJoin cascade (post-checkpoint Spark
        # has no stats, so without hints it picks SMJ).
        contrib = (
            edges.join(F.broadcast(outd), "src")
            .join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                "dst",
                F.floor(
                    F.col("rank_scaled") * 85 / (F.col("outdeg") * 100.0)
                ).alias("contrib"),
            )
        )
        ranks = (
            nodes.join(
                F.broadcast(
                    contrib.groupBy("dst").agg(
                        F.sum("contrib").alias("in_mass")
                    )
                ),
                nodes.node == F.col("dst"),
                "left",
            )
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))).alias(
                    "rank_scaled"
                ),
            )
        )
    return (
        ranks.join(
            F.broadcast(nation), ranks.node == nation.n_nationkey
        )
        .select(
            "node",
            "n_name",
            "rank_scaled",
            (F.col("rank_scaled").cast("double") / _PR_SCALE).alias("rank"),
        )
        .orderBy(F.desc("rank_scaled"), "node")
    )


@register(
    "graph_basket_lift",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    pc AS (SELECT l_partkey, COUNT(*) AS c FROM op GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS pair_cnt
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.p1, p.p2, p.pair_cnt,
             CAST(p.pair_cnt * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
      FROM pairs p
      JOIN pc ca ON ca.l_partkey = p.p1
      JOIN pc cb ON cb.l_partkey = p.p2
      CROSS JOIN n
      WHERE p.pair_cnt >= 2
    )
    SELECT p1, p2, pair_cnt, lift
    FROM scored
    ORDER BY lift DESC, p1, p2
    LIMIT 20
    """,
)
def graph_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the 20 part pairs with the highest lift
    (P(a,b)/P(a)P(b)) among pairs bought together at least twice — the
    statistic association-rule mining and co-purchase recommenders start
    from.

    lift = pair_cnt·N / (cₐ·c_b) is an integer ratio with ONE double
    division — bit-identical across engines.  Pair generation is the
    bounded per-order self-join (≤ 7 lineitems per TPC-H order → ≤ 21
    pairs), never a part×part cross; the counts are two reductions of the
    deduped (order, part) relation; the top-20 is TakeOrderedAndProject.
    At 100 TB the same shape holds for session×item logs — the per-basket
    fanout bound is what keeps it linear."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = op.agg(F.count_distinct(F.col("l_orderkey")).alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    ca = pc.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    cb = pc.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(ca), "p1")
        .join(F.broadcast(cb), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(20)
    )


_SQL_EDGES_RECENT = """
    recent AS MATERIALIZED (
        SELECT l.l_orderkey, l.l_partkey FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= DATE '2000-01-01'
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM recent a JOIN recent b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


def _edges_recent_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_orderkey")
    )
    recent = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_partkey"
    )
    a, b = recent.alias("a"), recent.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
    )


def _edges_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recency-scoped co-occurrence edges, MATERIALIZED once per
    dataset fingerprint — the same extract-once discipline as `_edges`.
    Within ONE execution the relation is consumed three times (both und
    directions + the adjacency anti-join); ACROSS executions the
    data-sized derivation (lineitem⋈orders self-join) used to be redone
    from the fact table every time, which on this box's stall-prone disk
    made graph_common_neighbors swing 22–128 s at sf1 (the fact scan
    dominated, not the graph math).  One parquet write per fingerprint
    converts every later execution into an |E|-sized columnar read —
    exactly what a production pipeline does with its edge extraction."""
    path = build_once(
        scratch_dir("graph_edges_recent/v1", sf_dir, ("lineitem", "orders")),
        lambda p: _edges_recent_build(spark, sf_dir).write.parquet(p),
    )
    return spark.read.parquet(path)


_CN_HUB_CAP = 1024  # wedge-center degree cap (contract-visible, oracle-mirrored)

#: Broadcast the adjacency relation into the wedge anti-join only while
#: |E| stays under this edge count.  The recent-edge relation GROWS WITH
#: DATA (it is not a bounded dimension), so a hard-coded broadcast hint is
#: an OOM at 100x — ~32 B/edge in the hashed build side puts 8M edges at
#: ~256 MiB, the most this plan should ever ship to every task.  Above the
#: gate the anti-join falls back to a shuffled join (the wedge side already
#: hashes on the pair key, so the extra exchange is |E|-sized, not
#: wedge-sized).
_CN_BCAST_MAX_EDGES = 8_000_000


@register(
    "graph_common_neighbors",
    oracle=f"""
    WITH {_SQL_EDGES_RECENT},
    und AS MATERIALIZED (
        SELECT p1 AS s, p2 AS d FROM edges
        UNION ALL SELECT p2 AS s, p1 AS d FROM edges),
    deg AS MATERIALIZED (SELECT s, COUNT(*) AS dg FROM und GROUP BY s),
    undc AS MATERIALIZED (
        SELECT u.s, u.d FROM und u JOIN deg g ON g.s = u.s
        WHERE g.dg <= {_CN_HUB_CAP}
    ),
    wedge AS (
        SELECT a.d AS p1, b.d AS p2, COUNT(*) AS cn
        FROM undc a JOIN undc b ON a.s = b.s AND a.d < b.d
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT w.p1, w.p2, w.cn FROM wedge w
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.p1 = w.p1 AND e.p2 = w.p2
        )
    )
    SELECT c.p1, c.p2, CAST(c.cn AS BIGINT) AS cn,
           CAST(c.cn AS DOUBLE) / (da.dg + db.dg - c.cn) AS jaccard
    FROM cand c
    JOIN deg da ON da.s = c.p1
    JOIN deg db ON db.s = c.p2
    ORDER BY c.cn DESC, c.p1, c.p2
    LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count: the 20 NON-adjacent part
    pairs sharing the most RECENT co-purchase neighbors (orders from
    2000 on (the last ~quarter of the data's 1995-2001 span) — the textbook recency scoping: recent interactions predict
    future links, and the date predicate is pushed through the
    lineitem⋈orders join down to the orders scan), with neighborhood-
    Jaccard (cn / (deg(a)+deg(b)-cn)) as the normalized score — the
    classic unsupervised baselines (Liben-Nowell & Kleinberg 2003).
    Adamic-Adar needs log(); cn and Jaccard are exact integers plus ONE
    double division, so both engines agree bit-for-bit.

    Plan shape: wedge enumeration is the SAME hub-keyed self-join as
    graph_triangle_count (one hash shuffle on the shared endpoint), the
    adjacency exclusion is a SIZE-GATED broadcast left-anti join on the
    canonical (p1<p2) edge key: broadcast while |E| (measured by the same
    scalar probe that sizes the agg) stays under _CN_BCAST_MAX_EDGES,
    shuffled anti-join beyond — `e` grows with data, so an unconditional
    hint would OOM at 100x.  Degrees are a |V|-sized broadcast, and the
    top-20 is TakeOrderedAndProject.

    BUILD-TIME EXECUTION: constructing this DataFrame runs one scalar
    Spark job (degree-sum probe) because two physical decisions — agg
    partition count and anti-join strategy — need |E| and the wedge
    volume before the plan exists.

    Two scale controls on the deg²-sized wedge volume:
    1. CONTRACT-VISIBLE hub cap (oracle-mirrored): vertices with degree >
       _CN_HUB_CAP (1024) don't serve as wedge CENTERS — on a power-law graph a
       single 1e6-degree hub contributes 1e12 wedges and zero link-
       prediction signal ("everything co-occurs with the bestseller"), so
       production drops saturated centers.  On this testdata the cap never
       binds (max recent-degree 85 at sf1), so results are unchanged —
       it's the guard that makes the plan survive a real catalog.
    2. Aggregation sizing: the count-per-pair agg has ~0.9 distinct keys
       per input row, so a partial aggregate is pure overhead and a
       width-sized final agg spills its hash map (measured 103 s for the
       93M-wedge/82M-key agg at 32 partitions vs 16 s at ~350k keys per
       task).  The exact wedge volume Σ dg·(dg−1)/2 is known from the
       |V|-sized degree relation, so the agg is pre-partitioned to keep
       per-task key counts near the measured hash-map sweet spot — and
       pre-partitioning on the full key also removes the useless partial
       phase (the exchange carries raw 8-byte keys, which is CHEAPER than
       spilling partial maps: shuffling the 93M longs measures 2.5 s)."""
    e = _edges_recent(spark, sf_dir)
    width = compute_width(spark)
    und = materialize_once(
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .unionAll(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
        .repartition(width, "s")
    )
    # A checkpoint does not carry the hash partitioning forward, so the
    # |V|-sized degree relation is materialized too: its four consumers
    # (probe, centers, both degree joins) would each re-shuffle it.
    deg = materialize_once(und.groupBy("s").agg(F.count(F.lit(1)).alias("dg")))
    # Exact wedge volume + edge count from the degree relation: ONE tiny
    # scalar job that also materializes the edge list and the degrees,
    # never the fact table.
    # NOTE this makes plan CONSTRUCTION eager (a Spark job runs inside this
    # builder) — deliberate, because both the agg partitioning and the
    # anti-join strategy are physical-plan decisions that need the numbers
    # before the plan exists.
    probe = deg.agg(
        F.sum(
            F.when(
                F.col("dg") <= _CN_HUB_CAP,
                F.col("dg") * (F.col("dg") - 1) / 2,
            )
        ).alias("wv"),
        F.sum("dg").alias("sum_dg"),
    ).collect()[0]
    wedge_volume = probe["wv"] or 0
    n_edges = int(probe["sum_dg"] or 0) // 2
    agg_parts = int(
        max(width, min(64 * width, -(-int(wedge_volume) // 350_000)))
    )
    centers = deg.filter(F.col("dg") <= _CN_HUB_CAP).select("s")
    undc = und.join(F.broadcast(centers), "s", "left_semi")
    a, b = undc.alias("a"), undc.alias("b")
    # packing the pair into ONE 64-bit key before the exchange makes the
    # hash-agg a single-long groupBy (~30 % cheaper than a 2-column struct
    # key at 28M wedges, measured), then unpack after
    wedge = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")),
        )
        .select((F.shiftleft(F.col("a.d"), 32) + F.col("b.d")).alias("pk"))
        .repartition(agg_parts, "pk")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cn"))
        .select(
            F.shiftright(F.col("pk"), 32).alias("p1"),
            (F.col("pk") % F.lit(1 << 32)).alias("p2"),
            "cn",
        )
    )
    # Adjacency exclusion: broadcast the |E|-sized build side only while it
    # fits (_CN_BCAST_MAX_EDGES); `e` grows with data, so above the gate
    # leave the join un-hinted and let the optimizer/AQE pick from its own
    # size estimates.
    if n_edges <= _CN_BCAST_MAX_EDGES:
        cand = wedge.join(F.broadcast(e), ["p1", "p2"], "left_anti")
    else:
        cand = wedge.join(e, ["p1", "p2"], "left_anti")
    # top-20 selection orders on (cn, p1, p2) only — jaccard never affects
    # WHICH rows win — so TakeOrderedAndProject runs on the wedge-sized
    # relation FIRST and the degree joins touch 20 rows, not 80M
    top = cand.orderBy(F.desc("cn"), "p1", "p2").limit(20)
    da = deg.select(F.col("s").alias("p1"), F.col("dg").alias("dg1"))
    db = deg.select(F.col("s").alias("p2"), F.col("dg").alias("dg2"))
    return (
        top.join(F.broadcast(da), "p1")
        .join(F.broadcast(db), "p2")
        .select(
            "p1",
            "p2",
            F.col("cn").cast("bigint").alias("cn"),
            (
                F.col("cn").cast("double")
                / (F.col("dg1") + F.col("dg2") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("cn"), "p1", "p2")
        .limit(20)
    )


@register(
    "graph_saturation_stats",
    oracle=f"""
    WITH {_SQL_EDGES_RECENT},
    und AS (
        SELECT p1 AS s FROM edges UNION ALL SELECT p2 AS s FROM edges
    ),
    deg AS (SELECT s, COUNT(*) AS dg FROM und GROUP BY s)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(MAX(dg) AS BIGINT) AS max_degree,
           CAST(COUNT(CASE WHEN dg > {_CN_HUB_CAP} THEN 1 END) AS BIGINT)
               AS n_capped_centers,
           CAST(COALESCE(SUM(CASE WHEN dg > {_CN_HUB_CAP}
                                  THEN dg * (dg - 1) / 2 END), 0) AS BIGINT)
               AS wedges_excluded,
           CAST(COALESCE(SUM(CASE WHEN dg > {_CN_HUB_CAP}
                                  THEN dg * (dg - 1) / 2 END), 0) AS DOUBLE)
               / SUM(dg * (dg - 1) / 2) AS excluded_wedge_share
    FROM deg
    """,
)
def graph_saturation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAP OBSERVABILITY for the graph family — the `dedup_saturation_stats`
    twin ("no silent caps"): what the _CN_HUB_CAP wedge-center cap in
    graph_common_neighbors actually excludes on this dataset.  Reports the
    recent co-purchase graph's vertex count and max degree, the number of
    capped centers (degree > _CN_HUB_CAP — those vertices never serve as
    wedge centers), the exact wedge count they would have contributed
    (Σ dg·(dg−1)/2 over capped vertices), and that count's share of the
    total wedge volume.  On the driver fixtures every exclusion is 0 (max
    recent-degree ≈ 85 ≪ 1024) — the cap's losslessness evidence, now
    driver-hash-checked every round instead of asserted in a docstring.

    Scale shape: one hash aggregation to |V| degrees, one single-row
    aggregate — both |E|/|V|-sized, never the fact table."""
    e = _edges_recent(spark, sf_dir)
    und = e.select(F.col("p1").alias("s")).unionAll(
        e.select(F.col("p2").alias("s"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    wedges = F.col("dg") * (F.col("dg") - 1) / 2
    capped_wedges = F.coalesce(
        F.sum(F.when(F.col("dg") > _CN_HUB_CAP, wedges)), F.lit(0)
    )
    return deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.max("dg").cast("bigint").alias("max_degree"),
        F.count(F.when(F.col("dg") > _CN_HUB_CAP, 1))
        .cast("bigint")
        .alias("n_capped_centers"),
        capped_wedges.cast("bigint").alias("wedges_excluded"),
        (capped_wedges.cast("double") / F.sum(wedges)).alias(
            "excluded_wedge_share"
        ),
    )


# --- k-core truncated peeling ------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _sql_kcore_round(i: int) -> str:
    # MATERIALIZED is load-bearing: k_i and u_i are each referenced two or
    # three times, and DuckDB re-inlines plain CTEs per reference — across
    # the unrolled rounds that compounds EXPONENTIALLY (the bare chain ran
    # >10 min at sf1; materialized it's ~2.5 min).  Same rule as the
    # advisor_column_sets oracle (round 8).
    return f"""
    k{i} AS MATERIALIZED (
        SELECT s FROM u{i - 1} GROUP BY s HAVING COUNT(*) >= {_KCORE_K}
    ),
    u{i} AS MATERIALIZED (
        SELECT u.s, u.d FROM u{i - 1} u
        JOIN k{i} a ON a.s = u.s
        JOIN k{i} b ON b.s = u.d
    )"""


@register(
    "graph_kcore",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES}),
    u0 AS MATERIALIZED (
        SELECT p1 AS s, p2 AS d FROM edges
        UNION ALL SELECT p2 AS s, p1 AS d FROM edges),
    {",".join(_sql_kcore_round(i) for i in range(1, _KCORE_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT {i} AS round,
                   (SELECT COUNT(*) FROM k{i}) AS n_vertices,
                   (SELECT COUNT(*) FROM u{i} WHERE s < d) AS n_edges,
                   (SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) FROM k{i})
                       AS vertex_checksum'''
            for i in range(1, _KCORE_ROUNDS + 1)
        )}
    ) ORDER BY round
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated {k=3}-core peeling, 3 synchronous rounds: each round drops
    every vertex with CURRENT degree < k and the edges touching it, then
    recounts (removals cascade).  Output is the per-round survivor curve —
    vertex count, canonical edge count, and a membership checksum, so the
    driver pins WHICH vertices survive, not just how many.  Fixed rounds
    keep the plan finitely unrollable for the SQL oracle; the fixpoint
    variant loops the identical per-round plan until no vertex drops
    (≤ |V| rounds, in practice tens — same shape as dedup_components'
    pointer-doubling loop).

    Scale shape: per round ONE degree aggregation (hash shuffle on the
    vertex key) + two semi-joins of the edge list against the |V|-sized
    survivor set (broadcast here; at labels-too-big scale both joins
    re-use the edge list's vertex-key partitioning).  materialize_once per
    round keeps the unrolled lineage flat."""
    e = _edges(spark, sf_dir)
    und = e.select(F.col("p1").alias("s"), F.col("p2").alias("d")).unionAll(
        e.select(F.col("p2").alias("s"), F.col("p1").alias("d"))
    )
    rows = []
    for i in range(1, _KCORE_ROUNDS + 1):
        # keep is consumed THREE times per round (this round's stats + both
        # semi-joins) — materialize the |V|-sized survivor set once, or each
        # consumer re-aggregates the 2|E|-row und relation (measured: the
        # redundant 24M-row aggs tripled sf1 latency)
        keep = materialize_once(
            und.groupBy("s")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= _KCORE_K)
            .select("s")
        )
        und = (
            und.join(F.broadcast(keep), "s", "left_semi")
            .join(
                F.broadcast(keep.select(F.col("s").alias("d"))),
                "d",
                "left_semi",
            )
            .select("s", "d")
        )
        # The und rounds are deliberately NOT checkpointed: with keep
        # materialized, every und_i is just narrow broadcast semi-joins
        # over the fingerprint-cached edge parquet — each consumer's
        # recompute is one cheap scan pass, while materializing 2|E| rows
        # per round (3.9 GB at sf1) churned the block manager hard enough
        # to stall the whole JVM in kernel memory management (measured
        # 7 s → 118 s run-to-run variance with checkpoints; stable ~7 s
        # without).  Block-churn rule: checkpoint |V|-sized relations
        # freely, data-sized relations only when recompute crosses an
        # exchange.
        stats = keep.agg(
            F.lit(i).alias("round"),
            F.count(F.lit(1)).alias("n_vertices"),
            F.coalesce(F.sum("s"), F.lit(0)).cast("bigint").alias(
                "vertex_checksum"
            ),
        )
        n_edges = und.filter(F.col("s") < F.col("d")).agg(
            F.count(F.lit(1)).alias("n_edges")
        )
        rows.append(
            stats.crossJoin(n_edges).select(
                "round", "n_vertices", "n_edges", "vertex_checksum"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


# --- synchronous min-label propagation ---------------------------------------

_LP_ROUNDS = 3


def _sql_lp_round(k: int) -> str:
    """One unrolled propagation round: l_k(v) = least(l_{k-1}(v),
    min over neighbors of l_{k-1})."""
    return f"""
    l{k} AS (
      SELECT l.v, LEAST(l.lbl, MIN(n.lbl)) AS lbl
      FROM l{k - 1} l JOIN und e ON e.s = l.v JOIN l{k - 1} n ON n.v = e.d
      GROUP BY l.v, l.lbl
    )"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT p1 AS s, p2 AS d FROM edges
            UNION ALL SELECT p2 AS s, p1 AS d FROM edges),
    l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM und),
    {",".join(_sql_lp_round(k) for k in range(1, _LP_ROUNDS + 1))}
    SELECT CAST(lbl AS BIGINT) AS community,
           COUNT(*) AS n_vertices,
           CAST(SUM(v) AS BIGINT) AS vertex_checksum
    FROM l{_LP_ROUNDS} GROUP BY lbl ORDER BY community
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS min-label propagation, 3 rounds:
    every vertex starts as its own label and repeatedly adopts the minimum
    label in its closed neighborhood, so after k rounds a vertex carries
    the smallest vertex id within graph distance k — a deterministic,
    integer-exact variant of LPA (classic LPA's random tie-breaking is
    non-reproducible; min is associative, commutative, and engine-stable).
    The fixed round count is the streaming/batch-friendly form: k bounds
    the influence radius, and communities are 'k-hop min-basins'.
    Output pins membership (vertex_checksum), not just sizes.

    Scale shape: per round ONE broadcast of the (v, lbl) relation onto the
    edge list keyed by neighbor + one groupBy on the vertex — labels are
    |V|-sized (small side) while edges are |E|-sized and never move; at
    100 TB (labels too big to broadcast) each round becomes a shuffle join
    on the SAME key both sides, so the edge relation partitions once and
    every round reuses it (the pointer-doubling alternative for huge
    diameters lives in dedup_components)."""
    e = _edges(spark, sf_dir)
    und = materialize_once(
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .union(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
    )
    lbl = und.select(F.col("s").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_LP_ROUNDS):
        nmin = (
            und.join(
                F.broadcast(
                    lbl.select(F.col("v").alias("d"), F.col("lbl").alias("nl"))
                ),
                "d",
            )
            .groupBy("s")
            .agg(F.min("nl").alias("nmin"))
        )
        lbl = materialize_once(
            lbl.join(nmin.select(F.col("s").alias("v"), "nmin"), "v")
            .select("v", F.least("lbl", "nmin").alias("lbl"))
        )
    return (
        lbl.groupBy("lbl")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum("v").cast("bigint").alias("vertex_checksum"),
        )
        .select(
            F.col("lbl").cast("bigint").alias("community"),
            "n_vertices",
            "vertex_checksum",
        )
        .orderBy("community")
    )


# --- multi-source BFS frontier expansion --------------------------------------

_BFS_ROUNDS = 3
_BFS_SEED_MOD = 97


def _sql_bfs_round(k: int) -> str:
    """One unrolled BFS round: neighbors of the current frontier minus
    everything already reached."""
    return f"""
    n{k} AS MATERIALIZED (
        SELECT DISTINCT e.d AS v FROM und e JOIN f{k - 1} f ON f.v = e.s
    ),
    f{k} AS MATERIALIZED (SELECT v FROM n{k} EXCEPT SELECT v FROM r{k - 1}),
    r{k} AS MATERIALIZED (SELECT v FROM r{k - 1} UNION SELECT v FROM f{k})"""


@register(
    "graph_bfs_frontier",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS MATERIALIZED (
        SELECT p1 AS s, p2 AS d FROM edges
        UNION ALL SELECT p2 AS s, p1 AS d FROM edges),
    f0 AS MATERIALIZED (
        SELECT DISTINCT s AS v FROM und WHERE s % {_BFS_SEED_MOD} = 0),
    r0 AS MATERIALIZED (SELECT v FROM f0),
    {",".join(_sql_bfs_round(k) for k in range(1, _BFS_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT {k} AS round,
                   (SELECT COUNT(*) FROM f{k}) AS frontier_size,
                   (SELECT COUNT(*) FROM r{k}) AS n_reached,
                   (SELECT CAST(COALESCE(SUM(v), 0) AS BIGINT) FROM f{k})
                       AS frontier_checksum'''
            for k in range(1, _BFS_ROUNDS + 1)
        )}
    ) ORDER BY round
    """,
)
def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS, {_BFS_ROUNDS} synchronous rounds: seeds are every
    vertex whose id ≡ 0 mod {_BFS_SEED_MOD} (a deterministic seed set that
    needs no global aggregate, so the plan has no scalar broadcast);
    each round expands the CURRENT frontier to its unvisited neighbors.
    Output is the per-round expansion curve — frontier size, cumulative
    reach, and a frontier membership checksum pinning WHICH vertices are
    at distance k, not just how many (distance-k ring = frontier_k,
    exactly BFS level sets).

    Scale shape (the Pregel pattern on plain DataFrames): per round ONE
    semi-join of the stationary |E|-sized edge list against the frontier
    (broadcast here — frontiers are ≤|V|; at 100 TB the same join
    shuffles on the vertex key both sides and the edge relation's
    partitioning is reused every round), one distinct, and one anti-join
    against the reached set.  Work per round is proportional to the
    frontier's incident edges — the textbook level-synchronous BFS cost —
    and the unrolled lineage is cut per round (materialize_once)."""
    e = _edges(spark, sf_dir)
    und = materialize_once(
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .unionAll(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
    )
    frontier = materialize_once(
        und.filter(F.col("s") % _BFS_SEED_MOD == 0)
        .select(F.col("s").alias("v"))
        .distinct()
    )
    reached = frontier
    rows = []
    for k in range(1, _BFS_ROUNDS + 1):
        nbrs = (
            und.join(
                F.broadcast(frontier.select(F.col("v").alias("s"))),
                "s",
                "left_semi",
            )
            .select(F.col("d").alias("v"))
            .distinct()
        )
        frontier = materialize_once(nbrs.join(reached, "v", "left_anti"))
        reached = materialize_once(reached.unionAll(frontier))
        stats = frontier.agg(
            F.lit(k).alias("round"),
            F.count(F.lit(1)).alias("frontier_size"),
            F.coalesce(F.sum("v"), F.lit(0)).cast("bigint").alias(
                "frontier_checksum"
            ),
        )
        n_reached = reached.agg(F.count(F.lit(1)).alias("n_reached"))
        rows.append(
            stats.crossJoin(n_reached).select(
                "round", "frontier_size", "n_reached", "frontier_checksum"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


@register(
    "graph_assortativity",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (SELECT p1 AS s, p2 AS d FROM edges
            UNION ALL SELECT p2 AS s, p1 AS d FROM edges),
    deg AS (SELECT s, COUNT(*) AS dg FROM und GROUP BY s),
    ed AS (
        SELECT da.dg AS x, db.dg AS y
        FROM und e JOIN deg da ON da.s = e.s JOIN deg db ON db.s = e.d
    )
    SELECT COUNT(*) AS n_endpoints,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(x*y)
                - CAST(SUM(x) AS HUGEINT) * SUM(y) AS DECIMAL(38,0))
               AS VARCHAR) AS corr_num,
           CAST(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(x*x)
                - CAST(SUM(x) AS HUGEINT) * SUM(x) AS DECIMAL(38,0))
               AS VARCHAR) AS corr_den_x,
           CAST(CAST(CAST(COUNT(*) AS HUGEINT) * SUM(y*y)
                - CAST(SUM(y) AS HUGEINT) * SUM(y) AS DECIMAL(38,0))
               AS VARCHAR) AS corr_den_y
    FROM ed
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY of the co-purchase graph (Newman 2002): do
    high-degree parts co-occur with other high-degree parts?  The Pearson
    correlation of endpoint degrees over the directed edge list, emitted
    as exact integer components — numerator n·Σxy − ΣxΣy and the two
    denominator factors — so r = num / sqrt(den_x·den_y) is recoverable
    by the caller while the engine comparison stays sqrt-free and
    bit-exact (same discipline as a_trend_slope; cross-products combine
    in exact DECIMAL(38,0) since the sf1 fixture overflows int64, then
    EMIT AS CANONICAL STRINGS — decimal final columns render float64 on
    the driver's pandas fetch path, the r8 red-row class; see
    tests/test_oracle_types.py).  Sign alone answers
    the question: positive = assortative (hub-hub shopping baskets),
    negative = disassortative (hubs bridge long-tail parts) — the single
    most load-bearing scalar for choosing graph partitioning strategy
    (disassortative graphs hot-spot on hub-keyed shuffles).

    Plan shape: degree aggregation (one shuffle on the vertex key), then
    the |E|-sized edge list joins the |V|-sized degree relation twice
    (broadcast here; at 100 TB both joins reuse the edge list's s-key
    partitioning for the first and one d-key shuffle for the second),
    and ONE global 6-sum aggregate — map-side combinable, no window, no
    sort."""
    e = _edges(spark, sf_dir)
    und = materialize_once(
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .unionAll(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    ed = (
        und.join(
            F.broadcast(deg.select(F.col("s"), F.col("dg").alias("x"))),
            "s",
        )
        .join(
            F.broadcast(
                deg.select(F.col("s").alias("d"), F.col("dg").alias("y"))
            ),
            "d",
        )
        .select("x", "y")
    )
    # the cross-products n·Σxy − ΣxΣy pass 2^63 once |endpoints|·Σxy
    # does (the sf1 probe hit the overflow) — combine in DECIMAL(38,0);
    # the inner per-row products and sums stay BIGINT (bounded by Σdeg²)
    d19 = "decimal(19,0)"
    return ed.agg(
        F.count(F.lit(1)).alias("n_endpoints"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
        (
            F.count(F.lit(1)).cast(d19)
            * F.sum(F.col("x") * F.col("y")).cast(d19)
            - F.sum("x").cast(d19) * F.sum("y").cast(d19)
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("corr_num"),
        (
            F.count(F.lit(1)).cast(d19)
            * F.sum(F.col("x") * F.col("x")).cast(d19)
            - F.sum("x").cast(d19) * F.sum("x").cast(d19)
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("corr_den_x"),
        (
            F.count(F.lit(1)).cast(d19)
            * F.sum(F.col("y") * F.col("y")).cast(d19)
            - F.sum("y").cast(d19) * F.sum("y").cast(d19)
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("corr_den_y"),
    )


@register(
    "graph_degree_histogram",
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    ends AS (
      SELECT p1 AS node FROM edges
      UNION ALL SELECT p2 FROM edges
    ),
    deg AS (SELECT node, COUNT(*) AS degree FROM ends GROUP BY node)
    SELECT degree,
           COUNT(*) AS n_parts,
           CAST(degree * COUNT(*) AS BIGINT) AS endpoint_sum
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree DISTRIBUTION of the co-purchase graph — the first plot of
    any graph analysis (is this a hub-dominated heavy-tail graph or a
    near-regular one?), and the capacity-planning input for every
    neighborhood-expansion operator here (wedge volume for
    graph_common_neighbors is exactly Σ degree² of this histogram).
    Pure integer counts.

    Scale shape: reuses the fingerprint-cached distinct edge relation
    (the shared extraction stage every graph query amortizes), then two
    key-equality hash aggregations — node and degree — both map-side
    combinable; output is O(distinct degrees), tiny at any scale."""
    e = _edges(spark, sf_dir)
    ends = e.select(F.col("p1").alias("node")).unionAll(
        e.select(F.col("p2").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "degree",
            "n_parts",
            (F.col("degree") * F.col("n_parts"))
            .cast("bigint")
            .alias("endpoint_sum"),
        )
        .orderBy("degree")
    )
