package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules over the order/lineitem tables —
  * the classic co-purchase analytics an LLM-data pipeline reuses for
  * co-occurrence mining (Agrawal & Srikant, "Fast Algorithms for
  * Mining Association Rules", VLDB 1994 — the A-priori prune).
  *
  * Scale design: the only quadratic step is the within-basket pair
  * expansion, and it is bounded by basket size squared (TPC-H baskets
  * are ≤ 7 items; web baskets are capped upstream). Before pairing,
  * items below `minItemCount` are pruned (A-priori: an infrequent item
  * cannot appear in a frequent pair), which shrinks both sides of the
  * self-join at the source. The item-count side is broadcast only
  * under the shared [[graft.algorithms.Tuning]]
  * gate — at web scale it shuffle-joins on part key like any dim join.
  * The final top-k is a single ORDER BY ... LIMIT with a unique
  * (p1, p2) tiebreak so pagination is deterministic cross-engine.
  */
object Association {

  /** Frequent part pairs with support, directional confidence and
    * lift: one row per unordered pair (p1 < p2) appearing in at least
    * `minPairCount` shared orders, ranked by lift. `n_orders` is the
    * total basket count (the support denominator). */
  def basketPairs(lineitem: DataFrame, minItemCount: Long = 2L,
                  minPairCount: Long = 2L, topK: Int = 100): DataFrame = {
    val (baskets, nB) = graft.algorithms.Probe.checkpointCounted(
      lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .distinct())
    // Support denominator: one scalar aggregate over the checkpointed
    // basket frame (observe() can't carry DISTINCT metrics).
    val nOrders = baskets.select("okey").distinct().count()
    val itemCnt = baskets.groupBy("pkey")
      .agg(count(lit(1)).as("icnt"))
      .filter(col("icnt") >= minItemCount)
    val cntSide = graft.algorithms.Tuning.broadcastIfFits(itemCnt, nB)
    // A-priori prune: keep only frequent items, then pair within order.
    val freq = baskets.join(cntSide, Seq("pkey"))
      .select(col("okey"), col("pkey"), col("icnt"))
    val pairs = freq.select(col("okey"), col("pkey").as("p1"), col("icnt").as("c1"))
      .join(freq.select(col("okey"), col("pkey").as("p2"), col("icnt").as("c2")),
        Seq("okey"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2", "c1", "c2")
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minPairCount)
    pairs.select(
        col("p1").cast("long").as("p1"), col("p2").cast("long").as("p2"),
        col("pair_cnt").cast("long").as("pair_cnt"),
        col("c1").cast("long").as("c1"), col("c2").cast("long").as("c2"),
        lit(nOrders).as("n_orders"),
        round(col("pair_cnt").cast("double") / nOrders, 6).as("support"),
        round(col("pair_cnt").cast("double") / col("c1"), 6).as("conf_1_2"),
        round(col("pair_cnt").cast("double") / col("c2"), 6).as("conf_2_1"),
        round(col("pair_cnt").cast("double") * nOrders /
          (col("c1") * col("c2")), 6).as("lift"))
      .orderBy(col("lift").desc, col("p1").asc, col("p2").asc)
      .limit(topK)
  }
}
