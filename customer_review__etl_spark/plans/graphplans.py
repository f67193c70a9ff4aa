"""Graph-analytics plans: iterative algorithms expressed as DataFrame
joins + aggregates (the Pregel-on-relations pattern — the same family
as dedupplans.connected_components).

gr01 runs PageRank over the MARKET-BASKET co-purchase graph: two parts
are connected when some order contains both (a lineitem self-join on
the order key), and rank measures basket centrality — the classic
retail cross-sell signal.

Determinism contract: ranks are FIXED-POINT integers (PR_SCALE = 1e6).
Every per-iteration term — the teleport base, each neighbor
contribution (85% of rank split over out-degree) — is an integer floor
division, and the combine step is an integer sum, so iteration results
are exact and order-independent on both engines; floating-point
PageRank would diverge across engines in the last ulp of every
partial-aggregation order. The floor bias (< 1e-6 per term) is
irrelevant to ranking and identical on both sides.

Scale notes (100 TB manners):
- the graph build self-joins lineitem on l_orderkey: fan-out is
  C(items-per-order, 2) — bounded by basket size, never by table size.
- each PageRank iteration is one equi-join (edges ⋈ ranks on src) +
  one groupBy(dst) sum — partial-aggregatable, shuffling only
  (long, long) pairs. Fixed iteration count = fixed stage count; for
  convergence-driven runs, the CC fixpoint-certificate pattern
  (O(1) scalar read per round) applies unchanged.
- node/edge tables are re-used across iterations; caching them keeps
  each round's cost to the join itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..scratch import cache_slot, materialized_df
from ..sources import tables
from . import QuerySpec
from .helpers import shuffle_width, sql_cc_min_label

PR_SCALE = 1_000_000  # fixed-point rank unit
PR_ITERS = 3          # fixed, unrolled in the oracle
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an integer ratio


def _copurchase_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list (src, dst) of the co-purchase graph: both
    directions of every within-order part pair, deduplicated across
    orders. NULL part keys drop (no node identity)."""
    li = (
        tables.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge list, materialized once per process per
    corpus (scratch.materialized_df): the lineitem self-join +
    distinct is the expensive part of BOTH gr01 and gr02, and gr01
    additionally rescans the edges every PageRank iteration — one
    parquet landing serves them all (the shared-intermediate move,
    round-5 VERDICT #5 applied to the graph family)."""
    return materialized_df(
        spark, sf_dir, "copurchase", _copurchase_edges_build, ["src", "dst"]
    )


def _copurchase_thresholded_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = (
        tables.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= GR05_MIN_ORDERS)
        .select("src", "dst")
    )


def _copurchase_thresholded_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gr05's thresholded co-purchase edge list, landed once per
    process per corpus — every CC round re-joins against it."""
    return materialized_df(
        spark,
        sf_dir,
        "copurchase_thresholded",
        _copurchase_thresholded_build,
        ["src", "dst"],
    )


def gr01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, damping 0.85) over the
    co-purchase graph; returns every node with its integer rank.

    rank0 = SCALE // N;  each round:
    rank'(v) = (15*SCALE) // (100*N)
             + Σ_{u→v} (85 * rank(u)) // (100 * outdeg(u))
    The graph is symmetric by construction, so there are no dangling
    nodes (every node has outdeg ≥ 1) and no dangling-mass term."""
    # hash-partition the cached edges on src ONCE (session-scaled
    # width): every iteration's edges⋈ranks join and deg's groupBy
    # cluster on src, so the cached partitioning satisfies
    # ENSURE_REQUIREMENTS and the per-iteration edge re-shuffle
    # (3× the edge list) disappears — guide §2.4, "two operations
    # keyed the same way share one exchange".
    edges = cache_slot(
        "copurchase_edges",
        _copurchase_edges(spark, sf_dir).repartition(
            shuffle_width(spark), "src"
        ),
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # nodes == sources (symmetric graph); N as a broadcast 1-row agg
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = cache_slot(
        "gr01_ranks",
        deg.crossJoin(F.broadcast(n_nodes)).select(
            F.col("src").alias("node"),
            "outdeg",
            "n",
            F.expr(f"CAST({PR_SCALE} DIV n AS BIGINT)").alias("rank_fp"),
        ),
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                "dst",
                F.expr(
                    f"CAST(({PR_D_NUM} * rank_fp) DIV "
                    f"({PR_D_DEN} * outdeg) AS BIGINT)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            ranks.join(contrib, ranks["node"] == contrib["dst"], "left")
            .select(
                "node",
                "outdeg",
                "n",
                (
                    F.expr(
                        f"CAST(({PR_D_DEN - PR_D_NUM} * {PR_SCALE}) DIV "
                        f"({PR_D_DEN} * n) AS BIGINT)"
                    )
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("rank_fp"),
            )
        )
    # Trailing presentation sorts removed in r16 (order-insensitive
    # correctness hash; the range exchange re-executed the last
    # iteration's join stage for boundary sampling).
    return ranks.select("node", "rank_fp")


def _pr_oracle() -> str:
    """Unrolled-iteration SQL twin: same integer arithmetic, same
    teleport/contribution floors (DuckDB // on positive BIGINTs ==
    Spark DIV)."""
    it = """
    c{next} AS (
      SELECT e.dst,
             sum(({num} * r.rank_fp) // ({den} * r.outdeg)) AS inflow
      FROM edges e JOIN r{cur} r ON e.src = r.node
      GROUP BY e.dst
    ),
    r{next} AS (
      SELECT d.node, d.outdeg, d.n,
             (({tele} * {scale}) // ({den} * d.n))
             + coalesce(c{next}.inflow, 0) AS rank_fp
      FROM degn d LEFT JOIN c{next} ON c{next}.dst = d.node
    )"""
    iters = ",".join(
        it.format(
            cur=i,
            next=i + 1,
            scale=PR_SCALE,
            num=PR_D_NUM,
            den=PR_D_DEN,
            tele=PR_D_DEN - PR_D_NUM,
        )
        for i in range(PR_ITERS)
    )
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    deg AS (SELECT src, count(1) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT count(1) AS n FROM deg),
    degn AS (SELECT d.src AS node, d.outdeg, nn.n FROM deg d, nn),
    r0 AS (SELECT node, outdeg, n,
                  CAST({PR_SCALE} // n AS BIGINT) AS rank_fp
           FROM degn),
    {iters}
    SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp
    FROM r{PR_ITERS}
    ORDER BY rank_fp DESC, node
    """


def gr02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph — the
    clustering/cohesion signal (a part in many triangles sells inside
    tight basket communities).

    Implementation is the degree-ordered "compact-forward" scheme
    (Latapy 2008 / Suri-Vassilvitskii MapReduce triangle counting):
    orient every undirected edge from the lower to the higher endpoint
    in the total order π = (degree, node id), enumerate wedges only
    from each node's π-ascending out-edges, and close them against the
    oriented edge list. Ordering by degree caps per-node out-degree at
    O(√m), so wedge fan-out is O(m^1.5) worst-case instead of
    Σ deg² — the difference between a skewed hub exploding the join
    and a bounded one; every triangle is produced exactly once (its
    π-least vertex generates it).

    Scale: one groupBy packs each node's π-ascending out-neighborhood
    into a sorted array (bounded at O(√m) elements by the degree
    orientation), and ONE pass over the oriented edge list intersects
    the two endpoint neighborhoods JVM-side — each (a,b) edge yields
    exactly the closing vertices c ∈ N⁺(a)∩N⁺(b). This replaces the
    earlier wedge-enumeration form (oriented ⋈ oriented on a, then a
    41M-row-at-sf0.1 wedge set shuffled into a closing join — the
    dominant cost of the whole query, measured 8.5 s → 5.7 s warm)
    with per-edge array intersections whose output is exactly the
    triangle set, never the wedge superset. Same d04 lesson: verify on
    candidates via JVM array ops, don't materialize the exploded pair
    stream. Identical rows (π-least vertex a generates each triangle
    once; c ∈ N⁺(b) forces b π< c). The oracle counts the same
    triangles by id-canonical enumeration (a<b<c),
    orientation-independent by construction."""
    # NOT src-repartitioned (r17): the gr01 move was A/B'd here twice
    # in both orderings and measured flat-to-worse (means 5.2 s vs
    # 4.7 s) — the compiled plan shows the cached-under-AQE
    # partitioning is not recognized by the orientation joins, so the
    # up-front full-edge shuffle buys nothing.
    edges = cache_slot("copurchase_edges", _copurchase_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    und = edges.filter(F.col("src") < F.col("dst"))
    ds = deg.select(F.col("src").alias("_s"), F.col("deg").alias("deg_s"))
    dt = deg.select(F.col("src").alias("_t"), F.col("deg").alias("deg_t"))
    src_first = (F.col("deg_s") < F.col("deg_t")) | (
        (F.col("deg_s") == F.col("deg_t")) & (F.col("src") < F.col("dst"))
    )
    oriented = cache_slot(
        "gr02_oriented",
        und.join(ds, und["src"] == ds["_s"])
        .join(dt, und["dst"] == dt["_t"])
        .select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
        ),
    )
    adj = oriented.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    na = adj.select(F.col("a"), F.col("nbrs").alias("na"))
    nb = adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb"))
    tri = (
        oriented.join(na, "a")
        .join(nb, "b")
        .select(
            "a", "b", F.explode(F.array_intersect("na", "nb")).alias("c")
        )
    )
    credit = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = deg.select(F.col("src").alias("node"))
    return (
        nodes.join(credit, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


KHOP_SEED_MOD = 97  # seed set: every 97th part key (deterministic)
KHOP_HOPS = 3       # fixed frontier depth, unrolled in the oracle


def gr03_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop BFS reachability: from a deterministic seed set (every
    KHOP_SEED_MOD-th node), find every node within KHOP_HOPS hops on
    the co-purchase graph and its minimum hop distance — the
    neighborhood-expansion primitive behind recommendation candidate
    generation and graph feature extraction.

    Implementation is frontier-free relational BFS: dist_h = min-hop
    table after h rounds; each round joins the FULL dist table to the
    edge list and re-minimizes. Re-joining the whole dist table (not
    just the new frontier) costs one extra scan per round but keeps
    every round the identical equi-join + partial-aggregatable min —
    no anti-join/subtract shuffle, no driver-side frontier state. At
    100 TB each round shuffles only (long, int) pairs; fixed hop count
    = fixed stage count, and the edge list is the materialized shared
    intermediate (cached across rounds). NOT src-repartitioned: the
    gr01 move was A/B'd here twice in both orderings and measured
    ~25% WORSE (means 5.1 s vs 3.9 s) — the per-hop dist table is
    tiny, so the up-front full-edge shuffle costs more than the
    per-round joins save."""
    edges = cache_slot("copurchase_edges", _copurchase_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = nodes.filter(F.col("node") % KHOP_SEED_MOD == 0).select(
        "node", F.lit(0).cast("long").alias("hops")
    )
    for _ in range(KHOP_HOPS):
        step = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("hops") + F.lit(1)).alias("hops"),
            )
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


def _khop_oracle() -> str:
    """Unrolled BFS rounds: d{h+1} = min-hop over d{h} ∪ (edges ⋈ d{h})."""
    rounds = ",".join(
        f"""
    d{h + 1} AS (
      SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
        SELECT node, hops FROM d{h}
        UNION ALL
        SELECT e.dst AS node, d.hops + 1 AS hops
        FROM edges e JOIN d{h} d ON e.src = d.node
      ) GROUP BY node
    )"""
        for h in range(KHOP_HOPS)
    )
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    d0 AS (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS hops
      FROM edges WHERE src % {KHOP_SEED_MOD} = 0
    ),
    {rounds}
    SELECT node, hops FROM d{KHOP_HOPS} ORDER BY node
    """


SIM_TOPK = 3  # gr04: similar items kept per item


def gr04_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers also bought"):
    for every part, the SIM_TOPK most similar parts by JACCARD overlap
    of their order sets — sim(a,b) = co(a,b) / (n_a + n_b − co(a,b)).
    The non-iterative sibling of gr01-gr03: association mining over
    the same market-basket structure.

    Scale manners: candidate pairs come only from actual co-occurrence
    (the within-order self-join, fan-out bounded by basket size — the
    gr01 edge-build argument), never from the |parts|² cross space;
    co-counts and per-part order counts are partial-aggregatable; the
    top-K window partitions per part (state ≤ its co-purchase degree).
    Jaccard is ONE IEEE division of exact integer counts, so even the
    float similarity hash-matches; ties break (co DESC, b ASC)."""
    li = cache_slot(
        "gr04_order_parts",
        tables.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())
        .distinct(),
    )
    n_ord = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_o"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    co = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    # both directions so every part ranks its own neighbor list.
    # explode(array(fwd, rev)) instead of union(co, co-flipped): the
    # union form compiled the WHOLE co-occurrence subtree (self-join +
    # (pa,pb) count shuffle, the dominant cost of the query) twice —
    # one branch per direction; the explode derives both directions
    # JVM-side from ONE aggregation pass (guide §2.4: remove the
    # duplicated exchange outright). Same rows by construction.
    sym = co.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa"), F.col("pb"), F.col("co")
                ),
                F.struct(
                    F.col("pb").alias("pa"),
                    F.col("pa").alias("pb"),
                    F.col("co"),
                ),
            )
        ).alias("s")
    ).select("s.pa", "s.pb", "s.co")
    na = n_ord.select(F.col("l_partkey").alias("pa"), F.col("n_o").alias("n_a"))
    nb = n_ord.select(F.col("l_partkey").alias("pb"), F.col("n_o").alias("n_b"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("pa").orderBy(
        F.desc("jaccard"), F.desc("co"), "pb"
    )
    return (
        sym.join(na, "pa")
        .join(nb, "pb")
        .withColumn(
            "jaccard",
            F.col("co").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("co")).cast("double"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= SIM_TOPK)
        .select("pa", "pb", "co", "n_a", "n_b", "jaccard", "rn")
    )


_GR04_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem WHERE l_partkey IS NOT NULL
),
n_ord AS (SELECT pk, count(1) AS n_o FROM li GROUP BY pk),
co AS (
  SELECT a.pk AS pa, b.pk AS pb, count(1) AS co
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
),
sym AS (
  SELECT pa, pb, co FROM co
  UNION ALL SELECT pb, pa, co FROM co
),
scored AS (
  SELECT s.pa, s.pb, s.co, na.n_o AS n_a, nb.n_o AS n_b,
         s.co::DOUBLE / (na.n_o + nb.n_o - s.co)::DOUBLE AS jaccard
  FROM sym s
  JOIN n_ord na ON na.pk = s.pa
  JOIN n_ord nb ON nb.pk = s.pb
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pa
                               ORDER BY jaccard DESC, co DESC, pb) AS rn
  FROM scored
)
SELECT pa, pb, co, n_a, n_b, jaccard, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SIM_TOPK}
ORDER BY pa, rn
"""


_GR02_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem WHERE l_partkey IS NOT NULL
),
edges AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
),
und AS (SELECT src, dst FROM edges WHERE src < dst),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM und e1
  JOIN und e2 ON e2.src = e1.dst
  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
credit AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT node, count(*) AS n_triangles FROM credit GROUP BY node),
nodes AS (SELECT DISTINCT src AS node FROM edges)
SELECT n.node,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN cnt c ON c.node = n.node
ORDER BY n.node
"""


GR05_MIN_ORDERS = 2  # keep co-purchase edges seen in ≥ this many orders


def gr05_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the THRESHOLDED co-purchase
    graph — keep only part pairs co-bought in ≥ GR05_MIN_ORDERS orders
    (one shared basket is noise; repeat co-purchase is signal), then
    label each surviving part with its component = the smallest part
    key reachable from it. The product family/substitute-cluster
    discovery step of a recommender, and the graph-family face of the
    CC machinery the dedup clusters (d05/d06) already prove.

    Scale: pair counting is one partial-aggregatable shuffle on
    (src, dst); the threshold prunes the edge list BEFORE any
    iteration; components run via min-label propagation with pointer
    jumping — O(log diameter) rounds, one O(1) fixpoint scalar per
    round (dedupplans.connected_components). Isolated parts (no
    surviving edge) are excluded by definition — a component of one
    is not a co-purchase cluster."""
    from .dedupplans import connected_components

    # land the thresholded edge list once per process (the
    # _copurchase_edges move): every CC round re-joins against it
    edges = _copurchase_thresholded_m(spark, sf_dir)
    return (
        connected_components(edges)
        .select(
            F.col("node").alias("part"), F.col("lbl").alias("component")
        )
    )


_GR05_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey IS NOT NULL
),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(1) >= {GR05_MIN_ORDERS}
),
{sql_cc_min_label("src", "dst")},
nodes AS (SELECT src AS part FROM pairs
          UNION SELECT dst FROM pairs)
SELECT n.part, least(n.part, coalesce(c.mn, n.part)) AS component
FROM nodes n LEFT JOIN cluster c ON c.node = n.part
ORDER BY n.part
"""


GR06_ROUNDS = 3  # fixed synchronous LPA rounds (unrolled in the oracle)


def gr06_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan
    et al. 2007) over the thresholded co-purchase graph — the
    frequency-based community signal next to gr05's connectivity-based
    components: a node adopts the label MOST FREQUENT among its
    neighbors each round (not the minimum reachable label), so dense
    cliques keep their own community even when a thin bridge connects
    them to another — exactly what separates product families that CC
    would merge. Determinism: ties break to the SMALLEST label, labels
    start as node ids, and the round count is fixed (GR06_ROUNDS,
    synchronous update), so the result is exact and the oracle unrolls
    the same three rounds in CTEs.

    Scale: each round is ONE partial-aggregatable count shuffle on
    (node, label) followed by an argmax window whose per-node state is
    bounded by the node's distinct neighbor-label count; the edge list
    is the materialized shared intermediate (third consumer, after
    gr05 and bench's warm set). No driver state, no collect, fixed
    stage count = rounds."""
    edges = _copurchase_thresholded_m(spark, sf_dir)
    both = edges.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).union(edges.select(F.col("dst").alias("s"), F.col("src").alias("d")))
    labels = (
        both.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    wv = Window.partitionBy("node").orderBy(F.desc("c"), "lbl")
    for _ in range(GR06_ROUNDS):
        nbl = labels.select(F.col("node").alias("d2"), "lbl")
        nb = both.join(nbl, both["d"] == nbl["d2"]).select(
            both["s"].alias("node"), "lbl"
        )
        cnt = nb.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return labels.select("node", F.col("lbl").alias("community"))


def _gr06_round(prev: str, cur: str) -> str:
    return f"""
c{cur} AS (SELECT e.s AS node, l.lbl, count(1) AS c
           FROM edges e JOIN l{prev} l ON e.d = l.node GROUP BY 1, 2),
l{cur} AS (SELECT node, lbl FROM
  (SELECT node, lbl,
          row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
   FROM c{cur}) WHERE rn = 1)"""


_GR06_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey IS NOT NULL
),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(1) >= {GR05_MIN_ORDERS}
),
edges AS (SELECT src AS s, dst AS d FROM pairs
          UNION SELECT dst, src FROM pairs),
l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges),
{",".join(_gr06_round(str(i), str(i + 1)) for i in range(GR06_ROUNDS))}
SELECT node, lbl AS community FROM l{GR06_ROUNDS} ORDER BY node
"""


SPECS = [
    QuerySpec("gr01_pagerank", gr01_pagerank, _pr_oracle()),
    QuerySpec(
        "gr05_connected_components", gr05_connected_components, _GR05_SQL
    ),
    QuerySpec("gr02_triangle_count", gr02_triangle_count, _GR02_SQL),
    QuerySpec("gr03_khop_reachability", gr03_khop_reachability, _khop_oracle()),
    QuerySpec("gr04_item_similarity", gr04_item_similarity, _GR04_SQL),
    QuerySpec("gr06_label_propagation", gr06_label_propagation, _GR06_SQL),
]
