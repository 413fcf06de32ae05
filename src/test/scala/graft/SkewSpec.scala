package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

class SkewSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  test("salted join returns exactly the rows of the plain join") {
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    val parts = Tables.part(spark, sf).select($"p_partkey", $"p_brand")
    val plain = li.join(parts, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand").agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedJoin(li, parts, $"l_partkey", $"p_partkey", factor = 8)
      .groupBy($"p_brand").agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("salt spreads a hot key across multiple salt values") {
    // one hot key repeated heavily
    val hot = Seq.fill(1000)(1L).toDF("k")
    val dim = Seq((1L, "x")).toDF("j", "v")
    val salted = hot.withColumn("__salt", (rand(42) * 8).cast("int"))
    val used = salted.select(countDistinct($"__salt")).head().getLong(0)
    assert(used >= 6, s"salt only used $used of 8 buckets")
    // and the join still matches every row
    assert(Skew.saltedJoin(hot, dim, $"k", $"j", 8).count() == 1000)
  }

  test("property: AQE's runtime skew split and the manual salt agree row-for-row under synthetic hot keys") {
    // VERDICT r16 item 7: the two skew weapons must be INTERCHANGEABLE
    // on output — AQE's split is a physical re-read of an oversized
    // shuffle partition, the salt is a logical key rewrite, and
    // neither may change the join's multiset. Randomized hot-key
    // layouts (hot key id, hotness share, tail width vary per trial)
    // pin that as a property, not a single lucky example.
    //
    // When each wins (the division of labor the scale notes claim):
    //  - AQE wins by DEFAULT: no plan rewrite, engages only when a
    //    partition actually exceeds the threshold at runtime, zero
    //    cost when the data turns out balanced. It needs a sort-merge
    //    join under adaptive execution — and splits PARTITIONS, so
    //    every sub-read still carries the full hot key against the
    //    same build rows (fine for joins; useless for a downstream
    //    single-key aggregation, which re-concentrates).
    //  - The salt wins when the operator is outside AQE's reach: a
    //    shuffle-hash/broadcast-ineligible join shape it declines, an
    //    iterative loop where the same hot key re-concentrates every
    //    round (connectedComponents' min-attach — the q61 case),
    //    or streaming state. It costs factor× replication of the
    //    other side unconditionally, which is why it's opt-in
    //    (saltThreshold) rather than always-on.
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val hotKey = 1L + rnd.nextInt(50)
      val hotShare = 6 + rnd.nextInt(4)            // 60–90% of rows hot
      val tail = 500 + rnd.nextInt(4500)
      val n = 20000
      val left = (1 to n).map { i =>
        (if (i % 10 < hotShare) hotKey else 1L + rnd.nextInt(tail), "x" * 64)
      }.toDF("k", "pay")
      val right = (1L to 5000L).map(j => (j, j * 2)).toDF("j", "w")
      def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.select($"k", $"w").as[(Long, Long)].collect().toSeq.sorted
      // leg 1: AQE skew split, thresholds scaled to test data
      val confs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val (aqe, aqePlan) = try {
        val j = left.join(right, $"k" === $"j")
        // materialize through the join's OWN QueryExecution (canon's
        // select would build a fresh one and leave this un-adapted)
        val rows = j.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq.sorted
        (rows, j.queryExecution.executedPlan.toString)
      } finally saved.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None)    => spark.conf.unset(c)
      }
      assert(aqePlan.contains("skew=true"),
        s"trial $trial: AQE skew-join did not engage (hotShare=$hotShare)")
      // leg 2: manual salt, default session confs
      val salted = canon(Skew.saltedJoin(left, right, $"k", $"j", factor = 8))
      assert(salted == aqe,
        s"trial $trial: salted and AQE-split join outputs diverge " +
          s"(${salted.length} vs ${aqe.length} rows, hotKey=$hotKey)")
      assert(aqe.nonEmpty && aqe.count(_._1 == hotKey) > aqe.length / 2,
        s"trial $trial fixture: hot key must dominate the output")
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime (the engine-native salting)") {
    // The complement of Skew.saltedJoin: at 100 TB the FIRST line of
    // defense against a hot join key is AQE's skew-join rule, which
    // splits an oversized shuffle partition into parallel sub-reads —
    // no plan rewrite, no semantic change. This pins that the rule
    // actually ENGAGES on a skewed input under thresholds scaled to
    // test data (the production defaults differ only in magnitude),
    // so the "AQE handles moderate skew, salting handles the extreme"
    // division of labor in the scale notes is demonstrated, not hoped.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // left: one hot key carrying most rows (with payload to cross
      // the byte threshold), plus a uniform tail; right: big enough
      // that broadcast is off the table even before the -1 conf
      val left = (1 to 20000).map(i =>
        (if (i % 10 < 9) 1L else i.toLong, "x" * 64)).toDF("k", "pay")
      val right = (1L to 5000L).map(j => (j, j * 2)).toDF("j", "w")
      val joined = left.join(right, $"k" === $"j")
      // materialize through the DataFrame's OWN QueryExecution (count()
      // runs a different one and would leave this plan un-adapted),
      // then check correctness: 18000 hot-key rows (k=1 ∈ right) plus
      // the tail keys i%10==9 inside right's 1..5000 range (500)
      assert(joined.collect().length == 18000 + 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join did not engage on a 90%-hot-key join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
