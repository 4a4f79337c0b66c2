"""Graph analytics over event streams: fixed-point PageRank on the
user ↔ item interaction graph.

Training-data curation ranks sources/domains by link authority (the
Common-Crawl-style "keep high-PageRank domains" filter); the reference's
event feed (its clickstream shape, /root/reference/README.md:180-220)
induces the same bipartite graph — users on one side, the ``props.k``
item they touched on the other. PageRank here is the classic
power-iteration, expressed as what it is on a distributed engine: per
iteration ONE join (rank → out-edges) and ONE groupBy (sum at the
destination). Edges and degrees are computed once and persisted; at
100 TB you'd additionally checkpoint the rank frame every few iterations
to cut lineage, and pre-partition edges by ``src`` so every iteration's
join is co-located (the rank frame arrives already partitioned by the
previous iteration's groupBy key).

Exactness: ranks are **integers** throughout — init ``RANK_SCALE`` per
node, contribution ``rank div degree`` (integer floor), damping
``(85 · Σ) div 100`` — so every iteration is exact 64-bit arithmetic,
engine- and order-independent, and the DuckDB oracle replays the whole
power iteration bit-for-bit as an unrolled CTE chain (the same trick that
made the k-means/IVF family oracle-checkable, similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table, memo_frame, scale_partitions

#: Integer rank mass per node at init. Mass only shrinks under damping
#: (floors), so sums stay ≪ 2^63: total mass ≈ N·SCALE, and the widest
#: intermediate (85 · Σ received) stays exact for N up to ~10^8 nodes;
#: at larger N, drop SCALE one decade per decade of N.
RANK_SCALE = 1_000_000_000

#: Damping factor 0.85 as an exact integer ratio.
DAMP_NUM, DAMP_DEN = 85, 100

#: Power iterations. Fixed (not convergence-tested) so the computation is
#: a pure function of the input — reproducible and oracle-replayable.
PR_ITERS = 5

#: Rows returned: top nodes by final rank (exact-integer ties broken by
#: node id, so the result SET is deterministic).
TOP_NODES = 25

#: Per-node share of the (1−d) teleport term.
PR_BASE = RANK_SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_NODES`` nodes of the user↔item graph by 5-iteration
    integer PageRank.

    Node encoding: ``user_id·2`` for users, ``k·2+1`` for items — one
    BIGINT key space, so the whole computation shuffles on a single
    numeric column. The graph is undirected (each interaction emits both
    directions), so every node has out-degree ≥ 1 — no dangling-mass
    term — and every node receives mass, so one groupBy per iteration
    covers the full node set.
    """
    # materialize the distinct edge list ONCE — at 100 TB this is the only
    # pass over the raw events; everything downstream reads the (tiny by
    # comparison) edge frame. Served per (app, sf_dir) via the shared memo
    # so repeated invocations reuse one stored copy.
    def _build_fwd() -> DataFrame:
        ev = scale_partitions(load_table(spark, sf_dir, "events"), spark)
        return (
            ev.select(
                (F.col("user_id") * 2).alias("src"),
                # try_cast, not cast: under ANSI a malformed props.k would
                # abort the whole job; a dirty row should drop (mirrored
                # with TRY_CAST in the oracle)
                F.expr(
                    "try_cast(get_json_object(props, '$.k') AS bigint) * 2 + 1"
                ).alias("dst"),
            )
            .where(F.col("dst").isNotNull())
            .distinct()
        )

    fwd = memo_frame(spark, "pagerank_fwd", sf_dir, _build_fwd)

    def _build_out() -> DataFrame:
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        # out-edges annotated with their source degree: computed once,
        # reused by every iteration (the expensive invariant)
        return edges.join(deg, "src")

    out = memo_frame(spark, "pagerank_out", sf_dir, _build_out)

    ranks = out.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(RANK_SCALE).cast("long").alias("rank")
    )
    for _ in range(PR_ITERS):
        ranks = (
            out.join(ranks, out.src == ranks.node)
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(PR_BASE)
                    + F.expr(f"({DAMP_NUM} * s) div {DAMP_DEN}")
                ).cast("long").alias("rank"),
            )
        )
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("user"))
            .otherwise(F.lit("item"))
            .alias("node_type"),
            F.expr("node div 2").alias("entity_id"),
            "rank",
        )
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(TOP_NODES)
    )
