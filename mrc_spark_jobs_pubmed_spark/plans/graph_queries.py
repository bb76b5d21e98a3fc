"""Graph analytics over relationship tables derived from the fixtures.

Same family as `dedup_cluster_components` (iterative label propagation):
fixed-iteration graph algorithms expressed as joins + aggregations, with
the iteration count a compile-time constant so the DuckDB oracle can
unroll the identical computation as CTEs.

Determinism note: PageRank's inner loop sums per-node contributions —
a float sum whose accumulation order differs between engines and between
partitionings of the same engine. The operator therefore runs in FIXED-
POINT INTEGER arithmetic (ranks in 1e-12 units, integer division for
the out-degree split and the damping factor), making every iteration
exactly reproducible on any engine, any partitioning, any cluster size.
That property is not a test convenience: bit-reproducible ranks are what
make incremental re-runs diffable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import hashlib

from mrc_spark_jobs_pubmed_spark import storage
from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table, table_path

PR_ITERS = 3
PR_TOP = 20
_SUPP_OFFSET = 10_000_000  # suppkey namespace shift so node ids are disjoint

_EDGE_TABLE_BUCKETS = 32

_EDGE_CKPT: dict = {}


def _trade_edges(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Undirected customer–supplier trade edges (src, dst, w) as a
    BUCKETED saved table, built by the first graph query of each session
    (its timing includes the build) and shared by the rest (r4 verdict
    perf items 2-4: the lineitem x orders distinct edge-build dominated
    SSSP/LPA/BFS at sf5 and re-ran per query). The table is bucketed AND
    sorted on src, so every Pregel-style iteration's frontier join
    consumes a pre-partitioned scan with no edge-side exchange
    (tests/test_bucketing.py), and column pruning drops w for the
    unweighted consumers. The name carries the fixture path and
    lineitem's data bytes + newest mtime, so a fixture regenerated
    in-process gets a fresh table; files a previous session left at the
    table's location are deleted, never re-registered.
    """
    size, mtime = storage.stat(spark, table_path(sf_dir, "lineitem"))
    tok = hashlib.md5(f"{sf_dir}|{size}|{mtime}".encode()).hexdigest()[:12]
    name = f"trade_edges_{tok}"
    if not spark.catalog.tableExists(name):
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        storage.remove(spark, f"{warehouse}/{name}")
        li = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir)
        e0 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(
                F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
            )
            .agg(F.min("l_quantity").cast("long").alias("w"))
        )
        edges = e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        (
            # pre-shuffle on the bucket key so each task owns exactly
            # one bucket: 32 files instead of tasks x buckets small
            # files, and the sort is per-bucket-local
            edges.repartition(_EDGE_TABLE_BUCKETS, "src")
            .write.bucketBy(_EDGE_TABLE_BUCKETS, "src")
            .sortBy("src")
            .mode("overwrite")
            .saveAsTable(name)
        )
    # One in-memory copy per (session, fixture): the Pregel-style loops
    # re-read edges every iteration, and a per-QUERY localCheckpoint
    # re-materialized ~2 GB at sf5 on every invocation (measured
    # GCLocker thrash across a 5-query sweep). The checkpoint is taken
    # once over the bucketed scan (already exchange-free, and the
    # checkpointed RDD keeps its hash partitioning) and shared by every
    # graph query in the session.
    # materialize=False consumers (the r11 kcore/LPA loops) re-scan the
    # bucketed table per pass instead of pinning an edge-list-sized
    # block in executor/driver storage — the scan is exchange-free
    # (bucketed+sorted on src) and its memory footprint is O(1), which
    # is what lets the sf20 iteratives run at default driver memory.
    if not materialize:
        return spark.table(name)
    key = (spark.sparkContext.applicationId, name)
    if key not in _EDGE_CKPT:
        _EDGE_CKPT[key] = spark.table(name).localCheckpoint(eager=True)
    return _EDGE_CKPT[key]


def _pagerank_sql() -> str:
    ctes = [
        """e0 AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "n AS (SELECT count(*) AS n_nodes FROM deg)",
        "r0 AS (SELECT src AS node, 1000000000000 // n_nodes AS r"
        " FROM deg CROSS JOIN n)",
        "base AS (SELECT 150000000000 // n_nodes AS b FROM n)",
    ]
    for it in range(PR_ITERS):
        ctes.append(
            f"""r{it + 1} AS (
  SELECT e.dst AS node,
         (SELECT b FROM base) + (85 * sum(r.r // d.outdeg)) // 100 AS r
  FROM edges e
  JOIN r{it} r ON e.src = r.node
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node,
       CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
         AS node_type,
       CAST(r AS BIGINT) AS rank_p12
FROM r{PR_ITERS}
ORDER BY rank_p12 DESC, node
LIMIT {PR_TOP}
"""
    )


@register(
    "graph_pagerank",
    oracle=_pagerank_sql(),
    doc="PageRank (3 unrolled iterations, d=0.85) over the undirected "
    "customer–supplier trade graph derived from lineitem×orders, in "
    "fixed-point 1e-12-unit integer arithmetic: contribution = rank "
    "DIV out-degree, damping = (85·sum) DIV 100 — every step exact "
    "BIGINT math, so ranks are bit-reproducible across engines, "
    "partitionings, and cluster sizes (a float PageRank is not: its "
    "per-node sum order is nondeterministic). Scale shape per "
    "iteration: one equi-join of the edge list against the current "
    "rank vector (both shuffle-partitioned on the same key, so the "
    "partitioning is reused across iterations) + one hash-agg on dst; "
    "degree and rank tables carry 16 bytes/node. Top-k is "
    "TakeOrderedAndProject. Same iterative-plan family as "
    "dedup_cluster_components (min-label propagation).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Edge list comes from the shared bucketed table (_trade_edges):
    # built once per fixture, hash-bucketed + sorted on src, so every
    # iteration's join consumes a pre-partitioned scan with no edge-
    # side exchange and no per-query rebuild of the lineitem x orders
    # distinct (which dominated the graph family at sf5).
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
    n = deg.agg(F.count("*").alias("n_nodes"))
    # Init and damping base in PURE integer division (no round() of a
    # double quotient: 1e12/n can land where Spark's decimal-string
    # HALF_UP and DuckDB's binary round disagree for specific n — the
    # data-dependent divergence class behind the r3 driver mismatch).
    r = (
        deg.crossJoin(F.broadcast(n))
        .select(
            F.col("src").alias("node"),
            F.expr("1000000000000 div n_nodes").alias("r"),
        )
    )
    base = n.select(F.expr("150000000000 div n_nodes").alias("b"))
    for _ in range(PR_ITERS):
        r = (
            edges.join(r, edges.src == r.node)
            .join(deg, "src")
            .select("dst", F.expr("r div outdeg").alias("contrib"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(base))
            .select("node", (F.col("b") + F.expr("(85 * s) div 100")).alias("r"))
        )
    return (
        r.select(
            "node",
            F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            F.col("r").alias("rank_p12"),
        )
        .orderBy(F.desc("rank_p12"), F.asc("node"))
        .limit(PR_TOP)
    )


# --- triangle counting over the token co-occurrence graph -------------------

TRI_VOCAB = 60  # top-N tokens by corpus frequency form the vertex set
TRI_TOP = 20  # report the TRI_TOP busiest vertices


@register(
    "graph_triangle_count",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(
    list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)
  )) AS tok
  FROM documents
),
freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM freq ORDER BY n DESC, tok LIMIT {TRI_VOCAB}),
vt AS (SELECT doc_id, tok FROM toks WHERE tok IN (SELECT tok FROM vocab)),
edges AS (
  SELECT DISTINCT a.tok AS a, b.tok AS b
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT tok, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS tok FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY tok
ORDER BY n_triangles DESC, tok
LIMIT {TRI_TOP}
""",
    doc="Per-vertex triangle counts on the token co-occurrence graph "
    "(vertices: the corpus's top-60 tokens; edges: distinct same-doc "
    "co-occurrence) — the standard clustering-coefficient numerator "
    "used for community/cohesion analysis over keyword graphs. The "
    "compact-forward shape: edges oriented a < b so each triangle is "
    "enumerated exactly once as a wedge (e1.b = e2.a) closed by an "
    "existence join. Scale: the vocabulary cap bounds degree by "
    "construction (the co-occurrence pair fan-out is <= C(|V|,2) per "
    "doc, independent of corpus size), the edge set after distinct is "
    "tiny and broadcasts into both wedge joins, and the only "
    "corpus-sized shuffles are the token frequency agg and the pair "
    "distinct. At larger vocabularies, orient edges low-degree -> "
    "high-degree instead of lexically to bound wedge counts by "
    "arboricity (standard compact-forward refinement).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators.dedup import tokens_col

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # The vocabulary (60 rows) and edge set (<= C(60,2) rows) are tiny
    # fixed points of corpus-sized computations; localCheckpoint
    # materializes each once so the corpus scan is not replicated into
    # every branch that reuses them (the naive self-join form re-ran
    # the scan 6x — once per vt/edges alias).
    vocab = (
        freq.orderBy(F.desc("n"), F.asc("tok"))
        .limit(TRI_VOCAB)
        .select("tok")
        .localCheckpoint(eager=True)
    )
    vt = toks.join(F.broadcast(vocab), "tok").select("doc_id", "tok")
    # Pair generation per doc, not a doc_id self-join: collect each
    # doc's (sorted) vocab tokens and emit ordered pairs with a
    # higher-order transform — one corpus exchange on doc_id, pair
    # fan-out bounded by C(|V|,2) per doc.
    arr = vt.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tok")).alias("vtoks")
    )
    pairs = arr.select(
        F.explode(
            F.expr(
                "flatten(transform(vtoks, (x, i) -> "
                "transform(slice(vtoks, i + 2, size(vtoks)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = pairs.distinct().localCheckpoint(eager=True)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    verts = (
        tri.select(F.col("a").alias("tok"))
        .unionAll(tri.select(F.col("b").alias("tok")))
        .unionAll(tri.select(F.col("c").alias("tok")))
    )
    return (
        verts.groupBy("tok")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("tok"))
        .limit(TRI_TOP)
    )


# --- BFS shortest-path levels over the trade graph --------------------------

BFS_ITERS = 4  # unrolled frontier expansions (graph diameter is small)


def _bfs_sql() -> str:
    # AS MATERIALIZED is load-bearing: every level references the
    # previous one twice (carry + expand), so an inlining optimizer
    # would re-derive each level 2^k times — the classic exponential
    # CTE blowup (measured: the sf1 oracle went from >10 min to seconds)
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        "s AS (SELECT min(src) AS sn FROM edges)",
        "b0 AS (SELECT sn AS node, 0 AS dist FROM s)",
    ]
    for it in range(BFS_ITERS):
        ctes.append(
            f"""b{it + 1} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM b{it}
    UNION ALL
    SELECT e.dst AS node, b.dist + 1 AS dist
    FROM edges e JOIN b{it} b ON e.src = b.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(dist AS BIGINT) AS dist,
       count(*) AS n_nodes,
       min(node) AS min_node,
       max(node) AS max_node
FROM b{BFS_ITERS}
GROUP BY dist
ORDER BY dist
"""
    )


@register(
    "graph_bfs_levels",
    oracle=_bfs_sql(),
    doc="BFS shortest-path levels ({} unrolled frontier expansions, all-"
    "integer so levels are engine- and partitioning-exact) from the "
    "lowest-id node of the undirected customer–supplier trade graph — "
    "the reachability/diameter probe of the graph family, level "
    "histogram as output. Same iterative-join shape as graph_pagerank: "
    "the edge list is built once, hash-partitioned on src, and "
    "localCheckpointed, so each expansion is one partitioning-reusing "
    "equi-join + min-agg over a frontier that is never wider than the "
    "node set; lineage is cut per round (the Pregel idiom). At 100 TB "
    "the same plan runs with the frontier table checkpointed to "
    "cluster storage; the min-combine is associative so map-side "
    "partial aggs keep the shuffle at frontier width.".format(BFS_ITERS),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared bucketed edge table: no per-query rebuild, no edge-side
    # exchange in the per-level frontier join (see _trade_edges);
    # localCheckpoint pins the scan in memory for the level loop
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    b = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    for _ in range(BFS_ITERS):
        b = (
            b.unionByName(
                edges.join(b, edges.src == b.node).select(
                    F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
                )
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return (
        b.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(F.asc("dist"))
    )


# --- label propagation (community detection) --------------------------------

LPA_ITERS = 3


def _lpa_sql_ctes() -> list[str]:
    """The shared LPA unroll (edge build + LPA_ITERS label rounds) —
    composed by both the community histogram and the modularity oracle."""
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "edges AS MATERIALIZED (SELECT src, dst FROM e0"
        " UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for it in range(LPA_ITERS):
        ctes.append(
            f"""c{it} AS (
  SELECT e.dst AS node, l.lbl, count(*) AS c
  FROM edges e JOIN l{it} l ON e.src = l.node
  GROUP BY e.dst, l.lbl
)"""
        )
        ctes.append(
            f"""l{it + 1} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM c{it}
  ) WHERE rn = 1
)"""
        )
    return ctes


def _lpa_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_lpa_sql_ctes())
        + f"""
SELECT lbl AS community,
       count(*) AS n_members,
       CAST(sum(CASE WHEN node < {_SUPP_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN node >= {_SUPP_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suppliers
FROM l{LPA_ITERS}
GROUP BY lbl
"""
    )


@register(
    "graph_label_propagation",
    oracle=_lpa_sql(),
    doc="Label-propagation community detection (synchronous LPA, "
    f"{LPA_ITERS} unrolled iterations) over the undirected customer–"
    "supplier trade graph: every node adopts the most frequent label "
    "among its neighbors, ties broken by MINIMUM label — which makes "
    "the usually-randomized algorithm fully deterministic (same "
    "communities on any engine, partitioning, or cluster size) while "
    "keeping its character, unlike min-label propagation "
    "(dedup_cluster_components) which converges to connected "
    "components. Output is the community-size histogram with the "
    "customer/supplier split per community. Scale shape per iteration: "
    "one equi-join of the hash-partitioned edge list against the label "
    "vector + a (node, lbl) count agg + a per-node arg-max that runs "
    "as an associative struct-max with map-side partials (no window, "
    "no extra shuffle class); labels are 16 bytes/node and the "
    "partitioning is reused across iterations with lineage cut per "
    "round (the Pregel idiom, as in graph_pagerank).",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, labels = _lpa_labels(spark, sf_dir)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("node") < _SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
        F.sum(F.when(F.col("node") >= _SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, labels) after LPA_ITERS synchronous rounds — shared by
    graph_label_propagation (community histogram) and
    graph_modularity (partition-quality score).

    r11 (guide §2.4, VERDICT r10 item 2): the edge set is SYMMETRIC by
    construction (e0 ∪ reversed e0, and the two directions are disjoint
    because src < 1e7 <= dst in e0), so the neighbor-label multiset of
    node n read as {lbl(src) : (src,dst=n)} equals {lbl(dst) :
    (src=n,dst)} via the (src,dst)↔(dst,src) bijection. Joining the
    broadcast label vector on DST and grouping by SRC makes BOTH
    per-iteration aggregations (the (node,lbl) count and the per-node
    arg-max) exchange-free on the src-bucketed scan — the old form
    grouped by dst and paid two full shuffles per iteration. The edge
    list is also no longer pinned in storage (materialize=False): each
    iteration re-reads the bucketed table, O(1) memory instead of an
    edge-sized localCheckpoint block."""
    edges = _trade_edges(spark, sf_dir, materialize=False).select("src", "dst")
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ITERS):
        # the label vector is NODE-domain-sized (tiny next to the edge
        # list) — broadcast it so the per-iteration join never shuffles
        # the edges; grouping on the bucket key keeps the count agg in
        # the scan stage (no exchange)
        cnt = (
            edges.join(F.broadcast(labels), edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        # per-node arg-max(count, then min label) as an associative
        # struct-max: (c, -lbl) orders by count desc then label asc,
        # and the carried lbl field is the winner — same-stage with the
        # count agg (both clustered on src), no per-node window
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"),
                        (-F.col("lbl")).alias("nl"),
                        F.col("lbl").alias("lbl"),
                    )
                ).alias("m")
            )
            .select("node", F.col("m.lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return edges, labels


# --- k-core decomposition (fixed-round peeling) -----------------------------

KCORE_K = 40
KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    # every g{i} has two consumers (k{i} and g{i+1}) — without
    # MATERIALIZED the re-inlining doubles the base-join work per round
    # (the graph_bfs_levels oracle lesson)
    ctes = [
        """e0g AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "g0 AS MATERIALIZED (SELECT src, dst FROM e0g"
        " UNION ALL SELECT dst AS src, src AS dst FROM e0g)",
    ]
    for it in range(KCORE_ROUNDS):
        ctes.append(
            f"k{it} AS MATERIALIZED (SELECT src FROM g{it} GROUP BY src"
            f" HAVING count(*) >= {KCORE_K})"
        )
        ctes.append(
            f"""g{it + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM g{it} e
  JOIN k{it} a ON e.src = a.src
  JOIN k{it} b ON e.dst = b.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(count(*) // 2 AS BIGINT) AS n_edges,
       CAST(count(DISTINCT CASE WHEN src < {_SUPP_OFFSET} THEN src END)
            AS BIGINT) AS n_customers,
       CAST(count(DISTINCT CASE WHEN src >= {_SUPP_OFFSET} THEN src END)
            AS BIGINT) AS n_suppliers
FROM g{KCORE_ROUNDS}
"""
    )


@register(
    "graph_kcore",
    oracle=_kcore_sql(),
    doc=f"k-core decomposition ({KCORE_ROUNDS} unrolled peeling rounds, "
    f"k={KCORE_K}): repeatedly drop nodes with degree < k and the edges "
    "they carry, keeping the dense trade-graph core — the standard "
    "cohesion filter that strips hangers-on before community or "
    "influence analysis (a node in the final subgraph has >= k "
    "surviving neighbors, up to the fixed round budget; full "
    "convergence iterates until no node drops, same plan per round). "
    "All-integer degree arithmetic — exact on any engine or "
    "partitioning. Scale shape per round: one degree hash-agg + a "
    "semi-join of the edge list against the surviving-node set on "
    "BOTH endpoints; the edge list is hash-partitioned once and the "
    "src-side join reuses that layout, and the keep-set is degrees-"
    "filtered (node-domain-sized, broadcastable when the graph has a "
    "small core). Lineage is cut per round (the Pregel idiom).",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 (guide §5, VERDICT r10 item 2): the loop used to materialize
    # the FILTERED EDGE LIST per round (localCheckpoint of ~180M rows x
    # 3 rounds at sf20 — OOMed a 16 GB driver in local mode and pinned
    # edge-sized blocks in executor storage on any cluster). The peel
    # state is really only the surviving-NODE set: keep sets shrink
    # monotonically (a node outside K_i has degree 0 in g_{i+1}, so
    # K_{i+1} ⊆ K_i), hence g_{i+1} = g_0 ⋉ K_i on both endpoints —
    # every round's degree aggregate re-derives from the bucketed base
    # scan (exchange-free groupBy(src)) plus two broadcast semi-joins
    # against the node-domain keep set, and only the keep set (O(nodes))
    # is checkpointed. Per-round edge materialization: gone; driver
    # memory: back to default; each round costs one bucketed scan.
    g0 = _trade_edges(spark, sf_dir, materialize=False).select("src", "dst")

    def surviving(keep: DataFrame | None) -> DataFrame:
        if keep is None:
            return g0
        return g0.join(F.broadcast(keep), "src").join(
            F.broadcast(keep.select(F.col("src").alias("dst"))), "dst"
        ).select("src", "dst")

    keep: DataFrame | None = None
    for _ in range(KCORE_ROUNDS):
        keep = (
            surviving(keep)
            .groupBy("src")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= KCORE_K)
            .select("src")
            # keep-set lineage must be cut or round i re-runs rounds
            # 0..i-1 (node-domain-sized — tiny, unlike the old edge
            # checkpoint); recomputes per invocation, never cached
            .localCheckpoint(eager=True)
        )
    g = surviving(keep)
    # One hash-agg to the node domain, then plain aggregates — NOT a
    # multi-group count(DISTINCT CASE ...): RewriteDistinctAggregates
    # assigns its Expand gid branches in exprId-state-dependent order,
    # which rendered this plan two ways across sessions and flapped the
    # plan-fp gate (r10); the dedup-first form is deterministic AND
    # drops the 4x Expand row multiplication. sum(deg) counts each
    # surviving edge row once == count(*) over g — coalesced to 0 when
    # the peel empties the core (sum over zero rows is NULL, count
    # was 0; the sf0.001 fixture exercises exactly that).
    nodes = g.groupBy("src").agg(F.count("*").alias("deg"))
    return nodes.agg(
        F.count("*").alias("n_nodes"),
        F.expr("coalesce(sum(deg), 0) div 2").alias("n_edges"),
        F.count(F.when(F.col("src") < _SUPP_OFFSET, True)).alias(
            "n_customers"
        ),
        F.count(F.when(F.col("src") >= _SUPP_OFFSET, True)).alias(
            "n_suppliers"
        ),
    )


# --- link prediction (common-neighbor Jaccard) -------------------------------

LINK_TOP = 50


@register(
    "graph_link_prediction",
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS MATERIALIZED (SELECT supp, count(*) AS d FROM e GROUP BY supp),
common AS MATERIALIZED (
  SELECT a.supp AS supp_a, b.supp AS supp_b, count(*) AS n_common
  FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY a.supp, b.supp
)
SELECT c.supp_a, c.supp_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST((c.n_common * 1000000)
            // (da.d + db.d - c.n_common) AS BIGINT) AS jaccard_u6
FROM common c
JOIN deg da ON da.supp = c.supp_a
JOIN deg db ON db.supp = c.supp_b
ORDER BY jaccard_u6 DESC, c.supp_a, c.supp_b
LIMIT {LINK_TOP}
""",
    doc="Link prediction by common-neighbor Jaccard on the bipartite "
    "trade graph: supplier pairs scored by |shared customers| / "
    "|customer-set union| — the classic recommend-a-link primitive "
    "(Liben-Nowell & Kleinberg). Scores are exact 1e-6-unit integer "
    "divisions of exact counts; top-k is TakeOrderedAndProject with a "
    "full deterministic tie order. Scale discipline: wedges are "
    "generated through the LOW-degree side of the bipartite graph — "
    "each customer trades with a bounded number of suppliers (~40, "
    "set by their order count), so wedge volume is Sigma deg(cust)^2, "
    "LINEAR in customer count; wedging through suppliers instead "
    "would be Sigma deg(supp)^2 ~ 3.4e9 at sf1 (measured) because "
    "supplier degree grows with the corpus — orienting the self-join "
    "through the bounded-degree endpoint is the compact-forward rule "
    "applied to link prediction. Degrees ride in as a broadcast dim.",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("supp").agg(F.count("*").alias("d"))
    a = e.select("cust", F.col("supp").alias("supp_a"))
    b = e.select("cust", F.col("supp").alias("supp_b"))
    common = (
        a.join(b, "cust")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_common"))
    )
    da = F.broadcast(
        deg.select(F.col("supp").alias("supp_a"), F.col("d").alias("da"))
    )
    db = F.broadcast(
        deg.select(F.col("supp").alias("supp_b"), F.col("d").alias("db"))
    )
    return (
        common.join(da, "supp_a")
        .join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr(
                "CAST((n_common * 1000000) div (da + db - n_common) AS LONG)"
            ).alias("jaccard_u6"),
        )
        .orderBy(F.desc("jaccard_u6"), "supp_a", "supp_b")
        .limit(LINK_TOP)
    )


# --- degree distribution -----------------------------------------------------


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH e0d AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0d
          UNION ALL SELECT dst AS src, src AS dst FROM e0d),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
SELECT CAST(d AS BIGINT) AS degree,
       count(*) AS n_nodes,
       CAST(sum(CASE WHEN src < {_SUPP_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN src >= {_SUPP_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suppliers
FROM deg
GROUP BY d
""",
    doc="Degree distribution of the trade graph, split by node type — "
    "the aggregate profile every graph analysis starts with (it is "
    "what DECIDES the wedge orientation in graph_link_prediction and "
    "the hub-capping thresholds: this query showed supplier degrees "
    "grow with corpus volume while customer degrees stay bounded). "
    "Two hash-aggs: per-node degree (map-side partials over the edge "
    "list) then the degree histogram on the bounded degree domain. "
    "Output is max-degree-sized at any corpus volume.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared table already carries both directions; the degree agg
    # consumes the src-bucketed scan with zero exchange (see _trade_edges)
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("src") < _SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
        F.sum(F.when(F.col("src") >= _SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    )


# --- hierarchy traversal (transitive closure by doubling) --------------------

HIER_DOUBLINGS = 4  # covers depths up to 2^4 = 16 levels


def _hierarchy_sql() -> str:
    ctes = [
        """p0 AS MATERIALIZED (
  SELECT p_partkey AS node, p_partkey // 4 AS anc,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part WHERE p_partkey >= 4
)""",
        "c0 AS MATERIALIZED (SELECT node, anc FROM p0)",
    ]
    for k in range(HIER_DOUBLINGS):
        ctes.append(
            f"""c{k + 1} AS MATERIALIZED (
  SELECT node, anc FROM c{k}
  UNION
  SELECT a.node, b.anc FROM c{k} a JOIN c{k} b ON a.anc = b.node
)"""
        )
    last = f"c{HIER_DOUBLINGS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
depths AS (
  SELECT p.p_partkey AS node,
         CAST(round(p.p_retailprice * 100) AS BIGINT) AS cents,
         coalesce(d.n_anc, 0) + 1 AS depth
  FROM part p LEFT JOIN (
    SELECT node, count(*) AS n_anc FROM {last} GROUP BY node
  ) d ON d.node = p.p_partkey
)
SELECT CAST(depth AS BIGINT) AS depth,
       count(*) AS n_nodes,
       CAST(sum(cents) AS BIGINT) AS cents_at_depth
FROM depths
GROUP BY depth
"""
    )


@register(
    "graph_hierarchy_depth",
    oracle=_hierarchy_sql(),
    doc="Hierarchy traversal — transitive closure by DOUBLING over a "
    "deterministic part tree (parent = id div 4): per-depth node "
    "counts and exact-cents value, i.e. the WITH RECURSIVE workload "
    "(org charts, bill-of-materials explosions, category trees) that "
    "Spark has no recursive CTE for, expressed as {k} unrolled "
    "doubling joins — R_next = R UNION R compose R — so {k} rounds "
    "cover 2^{k} levels where naive one-step expansion needs one join "
    "PER LEVEL (the doubling trick is what makes deep hierarchies "
    "tractable: depth-1000 chains in 10 rounds). Closure size is "
    "nodes x depth (linear in practice), every row an integer pair; "
    "lineage cut per round. The DuckDB oracle runs the identical "
    "doubling (MATERIALIZED — the multi-consumer CTE lesson) rather "
    "than WITH RECURSIVE, so both engines compute the same fixpoint "
    "the same way.".format(k=HIER_DOUBLINGS),
)
def graph_hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    base = part.select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    closure = (
        part.where(F.col("p_partkey") >= 4)
        .select(
            F.col("p_partkey").alias("node"),
            F.expr("p_partkey div 4").alias("anc"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(HIER_DOUBLINGS):
        hop = (
            closure.alias("a")
            .join(
                closure.alias("b"),
                F.col("a.anc") == F.col("b.node"),
            )
            .select(F.col("a.node").alias("node"), F.col("b.anc").alias("anc"))
        )
        closure = (
            closure.unionByName(hop).distinct().localCheckpoint(eager=True)
        )
    n_anc = closure.groupBy("node").agg(F.count("*").alias("n_anc"))
    depths = base.join(n_anc, "node", "left").select(
        "cents",
        (F.coalesce("n_anc", F.lit(0)) + 1).cast("long").alias("depth"),
    )
    return depths.groupBy("depth").agg(
        F.count("*").alias("n_nodes"),
        F.sum("cents").cast("long").alias("cents_at_depth"),
    )


# --- weighted single-source shortest paths (Bellman-Ford rounds) ------------

SSSP_ROUNDS = 3
SSSP_TOP = 30


def _sssp_sql() -> str:
    ctes = [
        """we AS MATERIALIZED (
  SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
         CAST(min(l_quantity) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)""",
        "edges AS MATERIALIZED (SELECT src, dst, w FROM we"
        " UNION ALL SELECT dst AS src, src AS dst, w FROM we)",
        "s0 AS (SELECT min(src) AS root FROM edges)",
        "d0 AS (SELECT root AS node, CAST(0 AS BIGINT) AS dist FROM s0)",
    ]
    for it in range(SSSP_ROUNDS):
        ctes.append(
            f"""d{it + 1} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{it}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{it} d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node,
       CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
         AS node_type,
       dist AS dist_qty
FROM d{SSSP_ROUNDS}
ORDER BY dist_qty, node
LIMIT {SSSP_TOP}
"""
    )


@register(
    "graph_weighted_sssp",
    oracle=_sssp_sql(),
    doc=f"Weighted single-source shortest paths ({SSSP_ROUNDS} "
    "Bellman-Ford relaxation rounds) from the minimum-id customer over "
    "the undirected trade graph, edge weight = min line quantity on "
    "the customer-supplier relation — all-integer distances, and min() "
    "is order-independent, so every round is bit-reproducible on any "
    "engine or partitioning (the graph_pagerank argument, with min "
    "instead of fixed-point sums). The frontier table stays SPARSE: "
    "only reached nodes carry rows, so round k shuffles "
    "|reached_k| + |edges touched|, not |V| — on a 100 TB graph the "
    "early rounds are near-free and cost tracks the expanding "
    "frontier, the standard iterative-SSSP shape (Pregel/GraphX "
    "ShortestPaths) done as joins. Edge list is hash-partitioned on "
    "src and reused across rounds with lineage cut per round; top-k "
    "close is TakeOrderedAndProject.",
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared bucketed edge table carries the min-quantity weight
    # natively (see _trade_edges) — the edge build that was 4x DuckDB
    # at sf5 now amortizes across every graph query in the session
    edges = _trade_edges(spark, sf_dir)
    dist = (
        edges.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.select(
            "node",
            F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
            .otherwise("customer")
            .alias("node_type"),
            F.col("dist").alias("dist_qty"),
        )
        .orderBy("dist_qty", "node")
        .limit(SSSP_TOP)
    )


# --- modularity of the LPA partition ----------------------------------------

MOD_TOP = 20


def _modularity_sql() -> str:
    ctes = _lpa_sql_ctes() + [
        f"lab AS MATERIALIZED (SELECT node, lbl FROM l{LPA_ITERS})",
        "m AS (SELECT count(*) AS m_edges FROM e0)",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        """comm AS (
  SELECT l.lbl AS community, count(*) AS n_members,
         CAST(sum(d.d) AS BIGINT) AS deg_sum
  FROM lab l JOIN deg d ON d.src = l.node
  GROUP BY l.lbl
)""",
        """internal AS (
  SELECT la.lbl AS community, count(*) // 2 AS e_in
  FROM edges e
  JOIN lab la ON la.node = e.src
  JOIN lab lb ON lb.node = e.dst AND lb.lbl = la.lbl
  GROUP BY la.lbl
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT c.community,
       CAST(c.n_members AS BIGINT) AS n_members,
       CAST(coalesce(i.e_in, 0) AS BIGINT) AS e_in,
       c.deg_sum,
       CAST((coalesce(i.e_in, 0) * 1000000000) // m.m_edges
            - ((c.deg_sum * 1000000 // (2 * m.m_edges))
               * (c.deg_sum * 1000 // (2 * m.m_edges))) AS BIGINT)
         AS q_contrib_u9
FROM comm c LEFT JOIN internal i USING (community) CROSS JOIN m
ORDER BY n_members DESC, community
LIMIT {MOD_TOP}
"""
    )


@register(
    "graph_modularity",
    oracle=_modularity_sql(),
    doc="Newman modularity of the LPA community partition, per community "
    "in exact 1e-9 integer units: Q_c = e_in/m - (d_c/2m)^2, with the "
    "square computed as the PRODUCT OF TWO INTEGER-DIVIDED FRACTIONS "
    "(d_c*1e6 div 2m) * (d_c*1e3 div 2m) — both factors bounded by "
    "1e6/1e3 so the product never leaves int64 at ANY graph size "
    "(d_c^2 alone overflows at ~3e9 edges), and every step is "
    "engine- and partitioning-independent integer arithmetic. The "
    "quality contract for graph_label_propagation — the same "
    "measured-not-assumed discipline as sim_ann_recall / "
    "emb_cluster_purity, applied to graph clustering. Scale shape: "
    "reuses the LPA rounds, then degree and membership aggs on "
    "node-domain tables, internal-edge count via two broadcast label "
    "joins over the edge list (one edge-sized pass), community "
    "rollup on the community domain.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels = _lpa_labels(spark, sf_dir)
    m = edges.agg(F.expr("count(*) div 2").alias("m_edges"))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    comm = (
        labels.join(deg, labels.node == deg.src)
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("d").cast("long").alias("deg_sum"),
        )
    )
    la = labels.select(F.col("node").alias("src"), F.col("lbl").alias("l_a"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("l_b"))
    internal = (
        edges.join(F.broadcast(la), "src")
        .join(F.broadcast(lb), "dst")
        .where(F.col("l_a") == F.col("l_b"))
        .groupBy(F.col("l_a").alias("community"))
        .agg(F.expr("count(*) div 2").alias("e_in"))
    )
    return (
        comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            "deg_sum",
            F.expr(
                "CAST((coalesce(e_in, 0) * 1000000000) div m_edges"
                " - ((deg_sum * 1000000 div (2 * m_edges))"
                "    * (deg_sum * 1000 div (2 * m_edges))) AS LONG)"
            ).alias("q_contrib_u9"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(MOD_TOP)
    )


# --- degree assortativity ----------------------------------------------------


@register(
    "graph_assortativity",
    oracle="""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS MATERIALIZED (SELECT src, dst FROM e0
 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
pairs AS MATERIALIZED (
  SELECT da.d AS dx, db.d AS dy
  FROM edges e
  JOIN deg da ON da.src = e.src
  JOIN deg db ON db.src = e.dst
),
m AS (
  SELECT count(*) AS n,
         sum(dx) // count(*) AS mx,
         sum(dy) // count(*) AS my
  FROM pairs
),
cent AS (
  SELECT CAST(sum((dx - mx) * (dy - my)) AS BIGINT) AS sxy,
         CAST(sum((dx - mx) * (dx - mx)) AS BIGINT) AS sxx,
         CAST(sum((dy - my) * (dy - my)) AS BIGINT) AS syy
  FROM pairs CROSS JOIN m
)
SELECT CAST(m.n AS BIGINT) AS n_edge_ends,
       c.sxy, c.sxx, c.syy,
       c.sxy / sqrt(CAST(c.sxx AS DOUBLE) * CAST(c.syy AS DOUBLE))
         AS assortativity
FROM cent c CROSS JOIN m
""",
    doc="Degree assortativity of the trade graph: Pearson correlation "
    "of endpoint degrees over the (both-direction) edge list — "
    "positive means hubs trade with hubs, negative (typical for "
    "bipartite commerce) means hubs fan out to the periphery; the "
    "one-number topology profile that predicts how the graph "
    "responds to hub removal and how skewed joins over it will be. "
    "Contract: moments are CENTERED by exact integer means before "
    "squaring (the rel_ts_correlation overflow discipline — raw "
    "n*sum(xy) products leave int64 at ~1e8 edges), every moment is "
    "an exact BIGINT on any partitioning, and the close is three "
    "IEEE double ops (x, sqrt, /) — bit-identical across engines, "
    "with the oracle CAST to DOUBLE (a bare product would run "
    "DECIMAL arithmetic in DuckDB and diverge 1 ulp). Scale shape: "
    "one degree agg reused by both endpoint joins (degree table is "
    "node-sized — broadcast), one edge-sized centered-moment pass, "
    "1 row out.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared bucketed edge table (see _trade_edges)
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(
        eager=True
    )
    da = F.broadcast(deg.select(F.col("src"), F.col("d").alias("dx")))
    db = F.broadcast(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("dy"))
    )
    # the endpoint-degree means need no edge pass: over edge ends, each
    # node v contributes dx = d(v) exactly d(v) times, so n = sum(d) and
    # sum(dx) = sum(dy) = sum(d^2) — node-domain aggregates (this is
    # why the Spark plan has ONE edge-sized pass where the definitional
    # oracle has two; the integer results are identical)
    m = deg.agg(
        F.sum("d").alias("n"),
        F.expr("sum(d * d) div sum(d)").alias("mx"),
        F.expr("sum(d * d) div sum(d)").alias("my"),
    )
    pairs = edges.join(da, "src").join(db, "dst").select("dx", "dy")
    cent = (
        pairs.crossJoin(F.broadcast(m))
        .agg(
            F.sum((F.col("dx") - F.col("mx")) * (F.col("dy") - F.col("my")))
            .cast("long")
            .alias("sxy"),
            F.sum((F.col("dx") - F.col("mx")) * (F.col("dx") - F.col("mx")))
            .cast("long")
            .alias("sxx"),
            F.sum((F.col("dy") - F.col("my")) * (F.col("dy") - F.col("my")))
            .cast("long")
            .alias("syy"),
            F.first(F.col("n")).cast("long").alias("n_edge_ends"),
        )
    )
    return cent.select(
        "n_edge_ends",
        "sxy",
        "sxx",
        "syy",
        # unrounded on purpose: exact integer moments + three IEEE ops
        # (the emb_label_centroid_drift close)
        (
            F.col("sxy") / F.sqrt(F.col("sxx") * F.lit(1.0) * F.col("syy"))
        ).alias("assortativity"),
    )


# --- BOM explosion (weighted transitive closure on a tree) ------------------

BOM_DOUBLINGS = 4  # covers assembly depths up to 2^4 = 16 levels
BOM_ROOTS = 4  # partkeys 0..3 are the root assemblies


def _bom_sql() -> str:
    ctes = [
        f"""b0 AS MATERIALIZED (
  SELECT p_partkey AS node, p_partkey // 4 AS anc,
         (p_partkey % 3) + 1 AS q
  FROM part WHERE p_partkey >= {BOM_ROOTS}
)""",
    ]
    for k in range(BOM_DOUBLINGS):
        ctes.append(
            f"""b{k + 1} AS MATERIALIZED (
  SELECT node, anc, q FROM b{k}
  UNION
  SELECT a.node, b.anc, a.q * b.q AS q
  FROM b{k} a JOIN b{k} b ON a.anc = b.node
)"""
        )
    last = f"b{BOM_DOUBLINGS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT anc AS root,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(q) AS BIGINT) AS total_units,
       CAST(max(q) AS BIGINT) AS max_units
FROM {last}
WHERE anc < {BOM_ROOTS}
GROUP BY anc
"""
    )


@register(
    "graph_bom_explosion",
    oracle=_bom_sql(),
    doc="Bill-of-materials explosion: total unit requirements of every "
    "component under each root assembly, where the per-edge quantity "
    "MULTIPLIES along the containment path (3 of X, each needing 2 of "
    "Y -> 6 of Y) — the weighted WITH RECURSIVE workload "
    "(manufacturing MRP, cost rollups) that graph_hierarchy_depth "
    "covers only unweighted. Transitive closure by BINARY "
    f"DECOMPOSITION ({BOM_DOUBLINGS} rounds cover 16 levels where "
    "naive expansion needs one join per level): maintain P = every "
    "path of length in [1, 2^t) and D = paths of EXACTLY 2^t (on a "
    "tree, node-sized: each node has at most one 2^t-ancestor), fold "
    "P <- P UNION D UNION P-compose-D and D <- D-compose-D. Every "
    "path length has a unique binary decomposition, so each (node, "
    "ancestor) path is PRODUCED exactly once — no DISTINCT anywhere, "
    "where the r5 doubling form re-derived each path at every round "
    "and paid a closure-sized dedup shuffle per round (the r8 A/B: "
    "20.8 s -> 6.5 s at sf20, values identical). All-integer: "
    "per-edge quantities 1..3, products bounded by 3^16 ~ 4.3e7 — "
    "element-wise exact on any engine. Scale: closure rows = nodes x "
    "depth, D stays node-sized; lineage cut per round; the root "
    "rollup is a |roots|-domain agg.",
)
def graph_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)

    def compose(ab, cd):
        # explicit renames, not aliases: both sides may be the SAME
        # checkpointed plan object (D-compose-D), where dotted alias
        # resolution collides on the shared attribute ids
        left = ab.select(
            F.col("node").alias("l_node"),
            F.col("anc").alias("l_anc"),
            F.col("q").alias("l_q"),
        )
        right = cd.select(
            F.col("node").alias("r_node"),
            F.col("anc").alias("r_anc"),
            F.col("q").alias("r_q"),
        )
        return left.join(
            right, F.col("l_anc") == F.col("r_node")
        ).select(
            F.col("l_node").alias("node"),
            F.col("r_anc").alias("anc"),
            (F.col("l_q") * F.col("r_q")).alias("q"),
        )

    base = (
        part.where(F.col("p_partkey") >= BOM_ROOTS)
        .select(
            F.col("p_partkey").alias("node"),
            F.expr("p_partkey div 4").alias("anc"),
            (F.col("p_partkey") % 3 + 1).cast("long").alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    closure = base  # P: lengths [1, 2^t)
    dpow = base  # D: length exactly 2^(t-1) going into round t
    for t in range(1, BOM_DOUBLINGS + 1):
        dpow = compose(dpow, dpow)
        if t < BOM_DOUBLINGS:
            # D is consumed 3x (this compose, next square, next fold)
            # and P 2x (union + compose next round) — checkpoint both;
            # but P's LAST fold is consumed once (final union only), so
            # it stays lazy
            dpow = dpow.localCheckpoint(eager=True)
            grown = closure.unionByName(dpow).unionByName(
                compose(closure, dpow)
            )
            closure = (
                grown.localCheckpoint(eager=True)
                if t < BOM_DOUBLINGS - 1
                else grown
            )
        else:
            # final round caps coverage at exactly [1, 2^t] to match
            # the doubling contract (P-compose-D would overshoot);
            # single-consumer frames, no checkpoint
            closure = closure.unionByName(dpow)
    return (
        closure.where(F.col("anc") < BOM_ROOTS)
        .groupBy(F.col("anc").alias("root"))
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.sum("q").cast("long").alias("total_units"),
            F.max("q").cast("long").alias("max_units"),
        )
    )


# --- deterministic random walks (DeepWalk-style corpus sampling) ------------

WALK_STEPS = 3
WALK_SEED_MOD = 7  # walk starts at customers with custkey % 7 == 0
WALK_TOP = 20


def _walk_sql() -> str:
    ctes = [
        """e0 AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "edges AS MATERIALIZED (SELECT src, dst FROM e0"
        " UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        f"w0 AS (SELECT DISTINCT src AS seed, src AS cur FROM edges"
        f" WHERE src < {_SUPP_OFFSET} AND src % {WALK_SEED_MOD} = 0)",
    ]
    for t in range(1, WALK_STEPS + 1):
        ctes.append(
            f"""s{t} AS (
  SELECT seed, e.dst AS nxt,
         row_number() OVER (PARTITION BY seed ORDER BY
           md5(CAST(cur AS VARCHAR) || '|{t}|' || CAST(e.dst AS VARCHAR)),
           e.dst) AS rn
  FROM w{t - 1} JOIN edges e ON e.src = cur
)""",
        )
        ctes.append(f"w{t} AS (SELECT seed, nxt AS cur FROM s{t} WHERE rn = 1)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT cur AS end_node,
       CASE WHEN cur >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
         AS node_type,
       CAST(count(*) AS BIGINT) AS n_walks,
       CAST(min(seed) AS BIGINT) AS min_seed
FROM w{WALK_STEPS}
GROUP BY 1, 2
ORDER BY n_walks DESC, end_node
LIMIT {WALK_TOP}
"""
    )


@register(
    "graph_random_walk",
    oracle=_walk_sql(),
    doc=f"Deterministic DeepWalk-style walks over the customer-supplier "
    f"graph: from every {WALK_SEED_MOD}th customer, {WALK_STEPS} steps, "
    "each step choosing the neighbor that minimizes "
    "md5(cur || step || neighbor) — hash-driven choice IS the random "
    "walk (uniform over neighbors, since md5 order is uniform), but "
    "bit-reproducible on any engine, partitioning, or cluster size, "
    "which is what makes walk corpora for embedding training diffable "
    "across re-runs. The walk endpoint histogram approximates the "
    "stationary distribution (compare graph_pagerank). Scale shape "
    "per step: one equi-join of the frontier against the edge list "
    "(both hash-partitioned on the join key; edge table "
    "localCheckpoint'd once and reused all steps) and the per-seed "
    "argmin is a hash-agg min(struct(hash, nbr)) — NO sort window, "
    "map-side partials carry 2 longs per frontier row.",
)
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared bucketed edge table (see _trade_edges), pinned in memory
    # for the step loop
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    frontier = (
        edges.where(
            (F.col("src") < _SUPP_OFFSET) & (F.col("src") % WALK_SEED_MOD == 0)
        )
        .select(F.col("src").alias("seed"), F.col("src").alias("cur"))
        .distinct()
    )
    for t in range(1, WALK_STEPS + 1):
        stepped = frontier.join(edges, frontier.cur == edges.src).select(
            "seed",
            F.md5(
                F.concat(
                    F.col("cur").cast("string"),
                    F.lit(f"|{t}|"),
                    F.col("dst").cast("string"),
                )
            ).alias("h"),
            F.col("dst").alias("nxt"),
        )
        frontier = (
            stepped.groupBy("seed")
            .agg(F.min(F.struct("h", "nxt")).alias("m"))
            .select("seed", F.col("m.nxt").alias("cur"))
        )
    return (
        frontier.groupBy("cur")
        .agg(
            F.count("*").cast("long").alias("n_walks"),
            F.min("seed").cast("long").alias("min_seed"),
        )
        .select(
            F.col("cur").alias("end_node"),
            F.when(F.col("cur") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            "n_walks",
            "min_seed",
        )
        .orderBy(F.desc("n_walks"), "end_node")
        .limit(WALK_TOP)
    )


# --- native recursive CTE (Spark 4.x WITH RECURSIVE) --------------------------


@register(
    "graph_recursive_bom",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT p_partkey AS node, p_partkey // 4 AS anc, p_partkey % 3 + 1 AS q
  FROM part WHERE p_partkey >= 4
),
closure AS (
  SELECT node, anc, q, 1 AS depth FROM edges
  UNION ALL
  SELECT c.node, e.anc, c.q * e.q AS q, c.depth + 1 AS depth
  FROM closure c JOIN edges e ON e.node = c.anc
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(sum(q) AS BIGINT) AS total_units,
       CAST(max(q) AS BIGINT) AS max_units
FROM closure
GROUP BY depth
ORDER BY depth
""",
    doc="Native recursive CTE (WITH RECURSIVE — new engine surface in "
    "Spark 4.x): ancestor-closure over the same part-containment tree "
    "as graph_bom_explosion, traversed by the ENGINE's recursion "
    "operator instead of the hand-unrolled doubling loop, with "
    "per-edge quantities multiplying along each path. Both engines "
    "run the recursion natively (DuckDB WITH RECURSIVE is the "
    "oracle), so this row certifies the iterative-query execution "
    "path itself: anchor + self-join step, fixpoint at the tree "
    "roots, UNION ALL multiplicity (exactly one path per (node, "
    "ancestor) on a tree — no dedup needed and counts stay exact "
    "integers, products bounded by 3^depth ~ 4.3e7 at depth 16). "
    "Depth-profile rollup keeps the output bounded. Scale notes: "
    "recursion depth is log4(keyspace) (~16 at 100 TB key ranges); "
    "each round is one equi-join of the frontier against the edge "
    "projection — the same shuffle shape as the doubling loop's "
    "rounds but linear in depth rather than log, which is why "
    "graph_bom_explosion's doubling rewrite remains the scale path "
    "for DEEP hierarchies while this native form wins on operator "
    "simplicity and engine-side planning (no driver-side loop, no "
    "localCheckpoint lineage management).",
)
def graph_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The closure has nodes x depth rows; Spark guards recursion with a
    # 1M-row safety valve (RECURSION_ROW_LIMIT_EXCEEDED at sf5, where
    # part alone is 1M rows). Scale the guard with the data instead of
    # capping the operator — the level limit (100) stays untouched and
    # is the one that bounds runaway recursion here (depth <= log4(key)).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
    return spark.sql(
        f"""
WITH RECURSIVE edges AS (
  SELECT p_partkey AS node, p_partkey div 4 AS anc,
         CAST(p_partkey % 3 + 1 AS BIGINT) AS q
  FROM parquet.`{sf_dir}/part.parquet` WHERE p_partkey >= 4
),
closure AS (
  SELECT node, anc, q, 1 AS depth FROM edges
  UNION ALL
  SELECT c.node, e.anc, c.q * e.q AS q, c.depth + 1 AS depth
  FROM closure c JOIN edges e ON e.node = c.anc
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(sum(q) AS BIGINT) AS total_units,
       CAST(max(q) AS BIGINT) AS max_units
FROM closure
GROUP BY depth
ORDER BY depth
"""
    )


# --- harmonic centrality from landmark seeds ---------------------------------

HC_LANDMARKS = 4
HC_ITERS = 3
HC_TOP = 20


def _harmonic_sql() -> str:
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "edges AS MATERIALIZED (SELECT src, dst FROM e0"
        " UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        f"lm AS (SELECT src AS landmark FROM (SELECT DISTINCT src FROM edges)"
        f" ORDER BY src LIMIT {HC_LANDMARKS})",
        "h0 AS (SELECT landmark, landmark AS node, 0 AS dist FROM lm)",
    ]
    for it in range(HC_ITERS):
        ctes.append(
            f"""h{it + 1} AS MATERIALIZED (
  SELECT landmark, node, min(dist) AS dist FROM (
    SELECT landmark, node, dist FROM h{it}
    UNION ALL
    SELECT b.landmark, e.dst AS node, b.dist + 1 AS dist
    FROM edges e JOIN h{it} b ON e.src = b.node
  ) GROUP BY landmark, node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_u6
FROM h{HC_ITERS}
WHERE dist > 0
GROUP BY node
ORDER BY harmonic_u6 DESC, node
LIMIT {HC_TOP}
"""
    )


@register(
    "graph_harmonic_centrality",
    oracle=_harmonic_sql(),
    doc=f"Landmark harmonic centrality: multi-source BFS from the "
    f"{HC_LANDMARKS} lowest-id nodes ({HC_ITERS} unrolled frontier "
    "expansions), each node scored sum(1/dist) over the landmarks that "
    "reach it — the landmark/pivot approximation (Eppstein-Wang style) "
    "that makes closeness-family centrality computable at all on big "
    "graphs, where the exact all-pairs version is O(V·E). Per-term "
    "1e6//dist is exact integer (dist in 1..3), so scores and the "
    "(score, node) top-k are engine- and partitioning-exact. Scale "
    "shape: the frontier table is (landmark, node, dist) — at most "
    f"{HC_LANDMARKS}x nodes — and every expansion is one equi-join "
    "against the SHARED bucketed edge table (no edge-side exchange; "
    "see _trade_edges) + an associative min-combine with map-side "
    "partials; lineage cut per round. Landmark count is the "
    "quality/cost knob, exactly as in production landmark-centrality "
    "systems.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir).select("src", "dst")
    lm = (
        edges.select("src").distinct().orderBy("src").limit(HC_LANDMARKS)
        .select(F.col("src").alias("landmark"))
    )
    h = lm.select("landmark", F.col("landmark").alias("node"), F.lit(0).alias("dist"))
    for _ in range(HC_ITERS):
        h = (
            h.unionByName(
                edges.join(h, edges.src == h.node).select(
                    "landmark",
                    F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                )
            )
            .groupBy("landmark", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return (
        h.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").alias("n_reached"),
            F.sum(F.expr("1000000 div dist")).cast("long").alias("harmonic_u6"),
        )
        .orderBy(F.desc("harmonic_u6"), "node")
        .limit(HC_TOP)
    )
