"""Association-rule mining: pairwise market-basket analysis.

The reference's clickstream/orders feed (its Faker pipeline,
/root/reference/make_fake_data.py) is exactly the input shape of
"frequently bought together" — and a curation pipeline uses the same
co-occurrence machinery for term/domain affinity. Full Apriori is rounds
of candidate generation; the overwhelmingly common production cut is the
PAIR pass (2-itemsets), which is one self-join and one aggregate.

Scale shape: pairs are generated **within basket** (equi-join on the
basket key), so cost is Σ_basket |basket|² — bounded by the max basket
size (13 items on the fixture; TPC-H caps at 7), never #items². The
per-pair aggregate shuffles on the (a, b) key with map-side combine.
``BASKET_CAP`` drops pathological mega-baskets the way ``DF_MAX`` bounds
the n-gram index — a 10 000-item "basket" is a bot or a bug, and its
10⁸ pairs would be meaningless signal anyway. Lift is emitted in exact
integer ppm (floor of an integer product over an integer product) per
the repo's cross-engine exactness rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table, memo_frame, scale_partitions

#: Pairs must co-occur in at least this many baskets to be reported.
MIN_SUPPORT = 2

#: Scale guard: baskets larger than this are dropped before the pair
#: self-join (|basket|² explosion bound). No-op on the fixtures.
BASKET_CAP = 1_000


def basket_pair_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs that co-occur in ≥ ``MIN_SUPPORT`` orders, with exact
    integer support counts and lift in ppm.

    lift(a,b) = P(ab) / (P(a)·P(b)) = n_orders·c(ab) / (c(a)·c(b)),
    emitted as ``floor(c_ab · N · 10⁶ / (c_a · c_b))`` — all-integer, so
    the value hashes identically in any engine.
    """
    # the capped item frame feeds five consumers (order census, item
    # census, both pair-join sides) — served once per (app, sf_dir) via
    # the shared memo; at 100 TB this is the only pass over the raw fact
    def _build_items() -> DataFrame:
        li = scale_partitions(load_table(spark, sf_dir, "lineitem"), spark)
        its = li.select("l_orderkey", "l_partkey").distinct()
        sized = its.groupBy("l_orderkey").agg(F.count("*").alias("bsize"))
        return its.join(
            sized.where(F.col("bsize") <= BASKET_CAP).select("l_orderkey"),
            "l_orderkey",
        )

    items = memo_frame(spark, "basket_items", sf_dir, _build_items)
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))

    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pair_cnt = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= MIN_SUPPORT)
    )
    return (
        pair_cnt.join(item_cnt.select(F.col("l_partkey").alias("pa"),
                                      F.col("cnt").alias("cnt_a")), "pa")
        .join(item_cnt.select(F.col("l_partkey").alias("pb"),
                              F.col("cnt").alias("cnt_b")), "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            # integer `div` ≡ the oracle's `//`; a float floor would drift
            # past 2^53 numerators. int64 BOUND (cf. skew.py's RANK_SCALE
            # note): the numerator pair_cnt·n_orders·10⁶ overflows past
            # ~9.2e18, i.e. once pair_cnt·n_orders > 9.2e12 — at TPC-H
            # sf100 (n_orders ≈ 1.5e8) that is pair_cnt > ~6e4 for one
            # pair. Deployments past that regime must drop the ppm scale
            # to 10³ (3 more decades) or split the division as
            # (pair_cnt·10⁶ div cnt_a)·n_orders div cnt_b, trading ≤1 ppm
            # of truncation for 10⁶× more headroom; both engines overflow
            # IDENTICALLY until then, so the oracle contract holds.
            F.expr(
                "(pair_cnt * n_orders * 1000000) div (cnt_a * cnt_b)"
            ).cast("long").alias("lift_ppm"),
        )
    )
