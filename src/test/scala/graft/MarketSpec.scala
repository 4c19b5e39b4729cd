package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Market}

/** Planted-fixture semantics for the market-basket family
  * ([[graft.operators.Market]]) and BFS layers
  * ([[graft.operators.Graph.bfsLayers]]). Oracle parity at data scale
  * is the driver's DuckDB gate; these pin the math on fixtures small
  * enough to verify by hand — including the exact-decimal ABC
  * threshold boundaries and the strictly-after interval-merge edge.
  */
class MarketSpec extends SparkSpec {
  import spark.implicits._

  test("bfsLayers: exact hop counts on a planted path, frontier " +
    "stops at the round horizon") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (7L, 8L)).toDF("a", "b")
    val seeded = Seq((1L, Some(0)), (2L, None), (3L, None), (4L, None),
      (5L, None), (6L, None), (7L, None), (8L, None))
      .toDF("node", "dist")
    for (cap <- Seq(Long.MaxValue, 0L)) { // driver-solve AND distributed
      val got = Graph.bfsLayers(edges, seeded, rounds = 3, driverCap = cap)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got == Map(1L -> Some(0), 2L -> Some(1), 3L -> Some(2),
        4L -> Some(3), 5L -> None, // 4 hops out: beyond the horizon
        6L -> None, // isolated
        7L -> None, 8L -> None), s"cap=$cap") // disconnected, no seed
    }
  }

  test("bfsLayers: a node adjacent to two seeds takes the min, and " +
    "an already-labeled node never regresses") {
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("a", "b")
    val seeded = Seq((1L, Some(0)), (2L, None), (3L, Some(0)))
      .toDF("node", "dist")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val got = Graph.bfsLayers(edges, seeded, rounds = 2, driverCap = cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // 1 and 3 stay 0 (neighbor candidates 1+1=2 never overwrite 0)
      assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0), s"cap=$cap")
    }
  }

  test("bfsLayers: an edge endpoint OUTSIDE the seeded universe never " +
    "carries or relays a distance — both paths agree (round-11 review " +
    "counterexample)") {
    // node 2 is absent from `seeded`: the distributed left join keeps
    // the frame = seeded, so 2 never holds a distance and 3 stays NULL
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val seeded = Seq((1L, Some(0)), (3L, None)).toDF("node", "dist")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val got = Graph.bfsLayers(edges, seeded, rounds = 2, driverCap = cap)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got == Map(1L -> Some(0), 3L -> None), s"cap=$cap")
    }
  }

  test("mergeIntervals: overlap chains fuse, a touching endpoint " +
    "(start == prev end) still merges, strict gaps split") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L), // chain → [0,15]
      (1L, 20L, 30L), (1L, 30L, 40L), // touch at 30 → [20,40]
      (1L, 50L, 60L), // strict gap → own island
      (2L, 100L, 110L)).toDF("user_id", "st", "en")
    val got = Market.mergeIntervals(iv, "user_id")
      .orderBy("user_id", "island")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 15L, 2L),
      (1L, 2L, 20L, 40L, 2L),
      (1L, 3L, 50L, 60L, 1L),
      (2L, 1L, 100L, 110L, 1L)))
  }

  test("abcClassify: exact-decimal thresholds — cum shares of " +
    "exactly 0.80 and 0.95 classify as A and B (boundary inclusive)") {
    val rev = Seq((10L, "80.0000"), (20L, "15.0000"), (30L, "5.0000"))
      .toDF("l_partkey", "rs")
      .select(col("l_partkey"),
        col("rs").cast("decimal(18,4)").as("r"))
    val got = Market.abcClassify(rev)
      .orderBy(col("revenue").desc)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (10L, 80.0, 0.8, "A"), // cum 80/100: exactly the A boundary
      (20L, 15.0, 0.95, "B"), // cum 95/100: exactly the B boundary
      (30L, 5.0, 1.0, "C")))
  }

  test("coPurchaseTopK: planted baskets give the hand-computed " +
    "cosines and rank order") {
    val dp = Seq((1L, 100L), (1L, 200L), (1L, 300L),
      (2L, 100L), (2L, 200L)).toDF("l_orderkey", "l_partkey")
    val got = Market.coPurchaseTopK(dp, k = 3)
      .orderBy("p_src", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    // f(100)=2, f(200)=2, f(300)=1; n(100,200)=2 → cos 1.0;
    // n(100,300)=n(200,300)=1 → cos 1/√2 = 0.707107
    assert(got.toSeq == Seq(
      (100L, 200L, 2L, 1.0, 1), (100L, 300L, 1L, 0.707107, 2),
      (200L, 100L, 2L, 1.0, 1), (200L, 300L, 1L, 0.707107, 2),
      (300L, 100L, 1L, 0.707107, 1), (300L, 200L, 1L, 0.707107, 2)))
  }

  test("coPurchaseTopK: a pathological mega-basket is capped at " +
    "MaxBasket members — pair fan-out bounded, small baskets untouched") {
    // One order with 600 distinct parts: uncapped it would emit
    // 600·599/2 ≈ 180k pairs from a single Generate; the cap keeps the
    // first MaxBasket sorted part ids, so only those parts appear as
    // sources and the emit is ≤ MaxBasket²/2. A disjoint 2-item order
    // verifies normal baskets pass through unmodified.
    val mega = (1 to 600).map(i => (1L, 1000L + i))
    val small = Seq((2L, 10L), (2L, 20L))
    val dp = (mega ++ small).toDF("l_orderkey", "l_partkey")
    val got = Market.coPurchaseTopK(dp, k = 700)
    val srcs = got.select("p_src").distinct().as[Long].collect().toSet
    val megaSrcs = srcs.filter(_ > 1000L)
    // exactly the first MaxBasket sorted ids of the mega basket survive
    assert(megaSrcs === (1 to Market.MaxBasket).map(i => 1000L + i).toSet)
    // each surviving mega part pairs with the other MaxBasket-1 members
    val perSrc = got.filter(col("p_src") === 1001L).count()
    assert(perSrc === (Market.MaxBasket - 1).toLong)
    // the small basket is untouched: 10 ↔ 20 with cosine 1.0
    val smallRows = got.filter(col("p_src") === 10L)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(smallRows.toSeq === Seq((20L, 1.0)))
  }

  test("coPurchaseTopK support thresholds: pruned parts vanish, " +
    "survivors keep pre-prune frequencies; defaults reproduce the " +
    "unpruned result") {
    // part 100 in 3 baskets (the hub), 200 in 2, 300 in 1 (the tail)
    val dp = Seq((1L, 100L), (1L, 200L), (1L, 300L),
      (2L, 100L), (2L, 200L), (3L, 100L)).toDF("l_orderkey", "l_partkey")
    // floor 2 prunes part 300; cap MaxValue keeps the rest
    val floored = Market.coPurchaseTopK(dp, k = 3, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // only the 100↔200 edge survives, cosine n/√(f100·f200) = 2/√6 with
    // the TRUE f(100)=3 — not a recomputed post-prune frequency
    assert(floored.toSeq.sorted == Seq(
      (100L, 200L, 2L, 0.816497), (200L, 100L, 2L, 0.816497)))
    // ceiling 2 prunes the hub 100; remaining basket-mates 200/300
    val capped = Market.coPurchaseTopK(dp, k = 3, maxSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq.sorted == Seq((200L, 300L), (300L, 200L)))
    // defaults: byte-identical to the unpruned call
    val a = Market.coPurchaseTopK(dp, k = 3).orderBy("p_src", "rnk")
      .collect().toSeq
    val b = Market.coPurchaseTopK(dp, k = 3, 1L, Long.MaxValue)
      .orderBy("p_src", "rnk").collect().toSeq
    assert(a == b)
  }

  test("hub fixture (VERDICT r13 item 8): planted hubs collapse the " +
    "pair-emission universe quadratically and the ceiling equals " +
    "physically removing the hubs") {
    // 200 orders of 3 'organic' items each (disjoint triples — support
    // 1 per organic part) + 20 hub parts present in EVERY order: the
    // bestsellers-in-every-cart shape the synthetic corpus lacks by
    // construction (r13 leverage measured only −5% because no real hub
    // exists there). Basket size 23 → C(23,2) = 253 emitted pairs per
    // order unpruned; ceiling-pruned back to C(3,2) = 3.
    val hubs = (1L to 20L)
    val dp = (0L until 200L).flatMap { o =>
      val organic = Seq(1000 + 3 * o, 1001 + 3 * o, 1002 + 3 * o)
      (organic ++ hubs).map(p => (o, p))
    }.toDF("l_orderkey", "l_partkey")
    val unpruned = Market.pairEmissionCount(dp)
    val pruned = Market.pairEmissionCount(dp, maxSupport = 100L)
    assert(unpruned === 200L * 253, s"unpruned=$unpruned")
    assert(pruned === 200L * 3, s"pruned=$pruned")
    // 84× pair-table collapse from 20 hubs in 23-item baskets —
    // the quadratic term the broadcast-anti ceiling deletes up front
    assert(unpruned / pruned === 84L)
    // semantics: ceiling-pruning ≡ removing the hub parts from the
    // input entirely (organic frequencies are untouched by hub
    // presence, so every surviving score is identical), and no hub id
    // survives into the ranked output
    val gotPruned = Market.coPurchaseTopK(dp, k = 3, maxSupport = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val noHubs = Market.coPurchaseTopK(
      dp.filter(col("l_partkey") > 20L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(gotPruned === noHubs)
    assert(gotPruned.nonEmpty &&
      !gotPruned.exists(t => t._1 <= 20L || t._2 <= 20L))
  }
}
