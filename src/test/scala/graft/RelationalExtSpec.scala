package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupOps, RelationalExt, SimilarityOps, TextOps}

/** Semantic checks for the second-tranche operators (q47-q62) beyond
  * the DuckDB oracle gate: invariants that would not be caught by a
  * hash compare against an equally-wrong SQL twin. */
class RelationalExtSpec extends AnyFunSuite {
  import TestSpark._

  test("hll sketch union is register-exact: merged per-type sketches estimate what one global sketch does") {
    // mergeability is the whole point of carrying sketch VALUES: the
    // union of per-partition sketches must estimate exactly what a
    // single pass over the union of inputs estimates (register-wise
    // max is deterministic), otherwise "merge yesterday's sketch" is
    // an approximation of an approximation
    val e = Tables.events(spark, sf)
    val merged = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val direct = e.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect()(0).getLong(0)
    assert(merged == direct, s"union-of-sketches $merged != one-pass sketch $direct")
    // and the gate's flags are genuinely computed, not constant-folded
    val rows = RelationalExt.sketchMerge(spark, sf).collect()
    assert(rows.length >= 2 && rows.exists(_.getString(0) == "ALL"))
    rows.foreach(r => assert(r.getBoolean(2), s"${r.getString(0)} estimate out of bounds"))
  }

  test("approx_count_distinct lands within rsd of the exact counts") {
    // independent raw-estimate check (the gate form folds the bound
    // into boolean flags; this recomputes the estimates from scratch
    // so a broken flag expression can't hide a broken sketch)
    val exact = RelationalExt.countDistinctAgg(spark, sf)
      .select(col("l_returnflag"), col("n_supp"), col("n_part"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_suppkey"), 0.01).as("a_supp"),
        approx_count_distinct(col("l_partkey"), 0.01).as("a_part"))
      .collect().foreach { r =>
        val (supp, part) = exact(r.getString(0))
        assert(math.abs(r.getLong(1) - supp).toDouble / supp < 0.05,
          s"a_supp ${r.getLong(1)} vs exact $supp")
        assert(math.abs(r.getLong(2) - part).toDouble / part < 0.05,
          s"a_part ${r.getLong(2)} vs exact $part")
      }
    // and the gate form's in-plan flags agree
    RelationalExt.approxDistinct(spark, sf).collect().foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4),
        s"gate bounds flag false for ${r.getString(0)}")
    }
  }

  test("stratified sample hits each stratum near its configured rate") {
    val base = Tables.lineitem(spark, sf).groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = RelationalExt.stratifiedSample(spark, sf)
      .groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("A" -> 0.20, "N" -> 0.05, "R" -> 0.50)
    want.foreach { case (k, rate) =>
      val actual = got.getOrElse(k, 0L).toDouble / base(k)
      assert(math.abs(actual - rate) < 0.03,
        s"stratum $k sampled at $actual, configured $rate")
    }
  }

  test("sliding 1h/30m window holds every event exactly twice") {
    val nEvents = Tables.events(spark, sf).count()
    val windowed = RelationalExt.slidingWindow(spark, sf)
      .agg(sum(col("n"))).head().getLong(0)
    assert(windowed == 2 * nEvents)
  }

  test("grouping sets rows reconcile with their grand total") {
    val rows = RelationalExt.groupingSetsAgg(spark, sf).collect()
    val total = rows.filter(r => r.getLong(2) == 1 && r.getLong(3) == 1)
    assert(total.length == 1)
    val flagSum = rows.filter(r => r.getLong(2) == 0 && r.getLong(3) == 1)
      .map(_.getLong(4)).sum
    assert(flagSum == total.head.getLong(4))
  }

  test("hash sample is a stable subset with the expected rate") {
    val n = Tables.orders(spark, sf).count()
    val s1 = RelationalExt.sampleHash(spark, sf).collect().map(_.getLong(0)).sorted
    val s2 = RelationalExt.sampleHash(spark, sf).collect().map(_.getLong(0)).sorted
    assert(s1.sameElements(s2), "sample not deterministic")
    val rate = s1.length.toDouble / n
    assert(rate > 0.08 && rate < 0.17, s"rate $rate far from 2/16")
  }

  test("dedup clusters: every near-dup pair shares a cluster, labels are component minima") {
    val pairs = DedupOps.nearDupNgram(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = DedupOps.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // label = min member of its component
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label, s"cluster $label not labeled by min member")
    }
  }

  test("dedup clusters merge transitive chains (toy graph)") {
    // chain 1-2, 2-3 plus isolated pair 10-11: two components
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val m = DedupOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(10L) == 10L && m(11L) == 10L)
  }

  test("property: connected components match union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference: driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => x -> find(x)).toMap
      // min member of each component equals the root found by min-union
      val minOfComp = expected.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val df = edges.toDF("doc_a", "doc_b")
      val got = DedupOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == expected.keySet, s"trial $trial node set")
      expected.foreach { case (node, root) =>
        assert(got(node) == minOfComp(root),
          s"trial $trial: node $node got ${got(node)} expected ${minOfComp(root)}")
      }
      // saltThreshold=0 forces the salted round body on the same graph
      // (these small random graphs take the plain body by default):
      // both bodies must compute the identical labeling
      val salted = DedupOps.connectedComponents(df, saltThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(salted == got, s"trial $trial: salted and plain round bodies diverge")
    }
  }

  test("property: bounded components match the global loop on random grouped graphs") {
    val spark2 = spark
    import spark2.implicits._
    // boundedComponents' contract: edges are CONTAINED within grp, so
    // per-group union-find must equal the global operator run on the
    // same (group-disjoint) edge set — including a deep chain.
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { trial =>
      val edges = (0 until 4).flatMap { g =>
        val base = g * 1000L
        val n = 5 + rnd.nextInt(25)
        Seq.fill(n)((base + rnd.nextInt(30), base + rnd.nextInt(30)))
          .filter { case (a, b) => a != b }
          .map { case (a, b) => (g.toLong, math.min(a, b), math.max(a, b)) }
          .distinct
      } ++
        // one deep chain group: diameter 15
        (0L until 15L).map(i => (9L, 9000L + i, 9001L + i))
      val df = edges.toDF("grp", "doc_a", "doc_b")
      val global = DedupOps.connectedComponents(
          df.select(col("doc_a"), col("doc_b")), maxRounds = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bounded = DedupOps.boundedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bounded == global, s"trial $trial: bounded and global labelings diverge")
    }
  }

  test("connected components fail loudly when the round cap is hit") {
    val spark2 = spark
    import spark2.implicits._
    // a 200-node path (diameter 200): a cap too small to converge must
    // throw, not return a silently under-merged labeling
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(path, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // large-star/small-star converges in O(log^2 n) rounds: a tight
    // cap of 12 is ample for n=201 and would catch any regression to
    // diameter-bound behavior
    val ok = DedupOps.connectedComponents(path, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.keySet == (0L to 200L).toSet)
    assert(ok.values.toSet == Set(0L), "one component labeled by its min")
  }

  test("star components collapse a 200-node path that blows the min-label cap") {
    val spark2 = spark
    import spark2.implicits._
    // diameter 200: a min-label loop moves a label one hop per round, so
    // it needs ~200 rounds and blows the default cap of 50. The operator
    // must collapse the path under that same default cap.
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L to 200L).toSet)
    assert(got.values.toSet == Set(0L), "one component labeled by its min")
  }

  test("star components: a 10^4-degree hub labels correctly through the salted round body") {
    val spark2 = spark
    import spark2.implicits._
    // the giant-star skew case (Kiveris et al. §4): one node carries
    // the whole component's degree. The round body must bound every
    // task's share of that neighborhood (partial-agg min + salted
    // min-attach join) — a windowed min would put all 10^4 rows of the
    // hub's partition key into one task. Covered both ways round: hub
    // as the component minimum and hub as the largest node (so both
    // the large-star and small-star sides see the high-degree center).
    val n = 10000
    val hubMin = (1 to n).map(i => (0L, i.toLong)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(hubMin, maxRounds = 12)
    assert(got.count() == n + 1)
    assert(got.filter($"cluster" =!= 0L).count() == 0, "hub-as-min star mislabeled")
    val hubTop = (1 to n).map(i => (20000L, i.toLong)).toDF("doc_a", "doc_b")
    val got2 = DedupOps.connectedComponents(hubTop, maxRounds = 12)
    assert(got2.count() == n + 1)
    assert(got2.filter($"cluster" =!= 1L).count() == 0, "hub-as-max star mislabeled")
  }

  test("star convergence probe: side-disjoint non-function edge sets still merge") {
    val spark2 = spark
    import spark2.implicits._
    // The exact-fixpoint probe's near-miss (caught in round 20): in
    // {(5,1),(5,2)} no node sits on both sides of the canonical edge
    // list, yet 1 and 2 are connected through 5 — a u-side node of
    // degree 2 is NOT a star forest and must run rounds, not declare
    // convergence at the probe. Both a pure instance and one embedded
    // beside settled stars (the q143 fold shape).
    val fork = Seq((5L, 1L), (5L, 2L)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(fork, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L), s"fork mislabeled: $got")
    val mixed = Seq((5L, 1L), (5L, 2L), (30L, 10L), (31L, 10L))
      .toDF("doc_a", "doc_b")
    val got2 = DedupOps.connectedComponents(mixed, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 5L -> 1L,
      10L -> 10L, 30L -> 10L, 31L -> 10L), s"mixed mislabeled: $got2")
    // an input that already IS a star forest converges at the setup
    // probe (zero rounds) with identical labels
    val settled = Seq((3L, 1L), (2L, 1L), (9L, 7L)).toDF("doc_a", "doc_b")
    val got3 = DedupOps.connectedComponents(settled, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("property: star components agree with min-label and union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference 1: driver-side min-label propagation to its fixpoint
      var minLabel = edges.flatMap { case (a, b) => Seq(a, b) }.map(x => x -> x).toMap
      var changed = true
      while (changed) {
        val next = edges.foldLeft(minLabel) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b))
          m.updated(a, l).updated(b, l)
        }
        changed = next != minLabel
        minLabel = next
      }
      // reference 2: driver-side union-find, each root mapped to its
      // component's minimum
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val byRoot = minLabel.keys.groupBy(find).map { case (r, m) => r -> m.min }
      val unionFind = minLabel.keys.map(x => x -> byRoot(find(x))).toMap
      assert(minLabel == unionFind, s"trial $trial: the two references disagree")
      val df = edges.toDF("doc_a", "doc_b")
      val star = DedupOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == minLabel, s"trial $trial: star and min-label labelings diverge")
      // saltThreshold=0 forces the salted round body on the same graph
      val starSalted = DedupOps.connectedComponents(df, saltThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(starSalted == unionFind,
        s"trial $trial: salted round body and union-find diverge")
    }
  }

  test("property: incremental component folds equal the one-shot clustering for any chopping") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 4).foreach { trial =>
      val n = 25 + rnd.nextInt(25)
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val df = edges.toDF("doc_a", "doc_b")
      val oneShot = DedupOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // two different choppings AND two different fold orders — the
      // state must absorb batches whatever the boundaries are
      Seq(2, 3).foreach { k =>
        val batches = edges.zipWithIndex.groupBy(_._2 % k).toSeq.sortBy(_._1)
          .map(_._2.map(_._1))
        def fold(bs: Seq[Seq[(Long, Long)]]): Map[Long, Long] = {
          var state = DedupOps.connectedComponents(
            bs.head.toDF("doc_a", "doc_b"))
          bs.tail.foreach { b =>
            state = DedupOps.incrementalComponents(state, b.toDF("doc_a", "doc_b"))
          }
          state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(fold(batches) == oneShot,
          s"trial $trial k=$k: incremental fold diverged from one-shot")
        assert(fold(batches.reverse) == oneShot,
          s"trial $trial k=$k: fold order changed the clustering")
      }
    }
  }

  test("star components are insensitive to edge orientation, duplicates, and self-loops") {
    val spark2 = spark
    import spark2.implicits._
    val clean = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    // the same graph stated messily: reversed orientations, repeated
    // edges, self-loops — canonicalization must absorb all of it
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (2L, 3L),
      (10L, 11L), (7L, 7L), (1L, 1L)).toDF("doc_a", "doc_b")
    def run(df: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(messy)
    // self-loop-only node 7 is isolated: labeled by itself
    assert(got == run(clean) + (7L -> 7L))
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    // degenerate graphs: self-loops only, and a pre-converged star
    assert(run(Seq((5L, 5L)).toDF("doc_a", "doc_b")) == Map(5L -> 5L))
    val star = (1L to 100L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val labels = run(star)
    assert(labels.size == 101 && labels.values.toSet == Set(0L),
      "a 100-leaf star is already a fixed point labeled by its center")
  }

  test("tf-idf ranks are 1..5 per doc and scores non-increasing") {
    val rows = TextOps.tfidfTop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      .groupBy(_._1)
    rows.foreach { case (doc, terms) =>
      val byRank = terms.sortBy(_._2)
      assert(byRank.head._2 == 1L, s"doc $doc missing rank 1")
      assert(byRank.length <= 5)
      byRank.sliding(2).foreach {
        case Array((_, _, s1), (_, r2, s2)) =>
          assert(s1 >= s2 - 1e-9, s"doc $doc scores increase at rank $r2")
        case _ =>
      }
    }
  }

  test("Misra-Gries guarantees hold under arbitrary input splits and merge orders") {
    // 10 heavy words (300 each) over 400 light words (5 each):
    // N = 5000, m = 64, error bound N/(m+1) ~ 76.9 — every heavy word
    // is far above it, so presence AND the estimate envelope must
    // survive any chunking of the input and any merge order (the
    // mergeable-summaries contract the Scaladoc claims)
    val hh = new graft.functions.HeavyHitters(64)
    val heavy = (0 until 10).map(i => s"heavy$i")
    val light = (0 until 400).map(i => s"light$i")
    val input = heavy.flatMap(Seq.fill(300)(_)) ++ light.flatMap(Seq.fill(5)(_))
    val exact = input.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = input.size.toDouble / 65
    def sketchOf(ws: Seq[String]) = ws.foldLeft(hh.zero)(hh.reduce)
    Seq(1, 5, 9).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val chunkSize = 101 + rnd.nextInt(900)
      val parts = rnd.shuffle(rnd.shuffle(input).grouped(chunkSize).map(sketchOf).toSeq)
      val merged = parts.reduce(hh.merge)
      assert(merged.size <= 64, "sketch exceeded its capacity")
      heavy.foreach { w =>
        assert(merged.contains(w), s"seed $seed: heavy word $w evicted")
      }
      merged.foreach { case (w, est) =>
        assert(est <= exact(w), s"seed $seed: $w overestimated ($est > ${exact(w)})")
        assert(est >= exact(w) - bound,
          s"seed $seed: $w below the error envelope ($est < ${exact(w)} - $bound)")
      }
    }
  }

  test("TopKDocs is split/merge-order invariant, bounded, and equals the sorted truth") {
    // the same mergeable-summaries contract as Misra-Gries, for the
    // bounded top-k buffer: any chunking of the input and any merge
    // order must yield exactly the globally-sorted top k, and no
    // intermediate buffer may ever exceed k entries
    val tk = graft.functions.TopKDocs(5)
    val rnd0 = new scala.util.Random(7)
    // duplicate qualities on purpose — the doc_id tie-break must decide
    val input: Seq[(Long, Double)] =
      (1L to 500L).map(id => id -> (rnd0.nextInt(50) / 100.0))
    val truth = input.map { case (id, q) => (q, id) }
      .sorted(Ordering.by[(Double, Long), (Double, Long)] { case (q, id) => (-q, id) })
      .take(5)
      .map { case (q, id) => s"$id:${math.round(q * 1e6)}" }.mkString(",")
    Seq(11, 23, 42).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val chunks = rnd.shuffle(input).grouped(37 + rnd.nextInt(80)).toSeq
      val bufs = rnd.shuffle(chunks.map(c => c.foldLeft(tk.zero)(tk.reduce)))
      bufs.foreach(b => assert(b.size <= 5, "buffer exceeded k"))
      val merged = bufs.reduce(tk.merge)
      assert(merged.size <= 5, "merged buffer exceeded k")
      assert(tk.finish(merged) == truth, s"seed $seed: merged top-k != sorted truth")
    }
  }

  test("label centroids have one row per (label, dim) and count = label size") {
    val e = Tables.embeddings(spark, sf)
    val labelSizes = e.groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cent = SimilarityOps.labelCentroids(spark, sf).collect()
    val dims = cent.map(_.getLong(1)).distinct
    assert(dims.length == 64, s"expected 64 dims, got ${dims.length}")
    cent.foreach { r =>
      assert(r.getLong(3) == labelSizes(r.getInt(0)), "centroid n != label size")
    }
  }

  test("funnel: stage counts are monotone and every conversion is witnessed by an ordered event pair") {
    import spark.implicits._
    val r = RelationalExt.funnel(spark, sf).collect()(0)
    val (nView, nClick, nPurchase) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // a funnel can only narrow
    assert(nView >= nClick && nClick >= nPurchase, s"funnel widened: $nView/$nClick/$nPurchase")
    assert(nView > 0, "fixture exercises no funnel entry")
    // independent witness for the click stage: users with a view event
    // and a strictly later click event, computed via a self-join (a
    // different plan shape than the chained min-over-filter)
    val ev = Tables.events(spark, sf).select($"user_id", $"event_type", $"ts")
    val witness = ev.filter($"event_type" === "view").select($"user_id", $"ts".as("tv"))
      .join(ev.filter($"event_type" === "click").select($"user_id", $"ts".as("tc")),
        "user_id")
      .filter($"tc" > $"tv")
      .select($"user_id").distinct().count()
    assert(witness == nClick,
      s"click stage ($nClick) disagrees with the self-join witness ($witness)")
  }

  test("cohort retention: offset 0 holds every cohort member and no activity precedes its cohort") {
    import spark.implicits._
    val ret = RelationalExt.cohortRetention(spark, sf)
    assert(ret.filter($"week_offset" < 0).count() == 0,
      "activity before the user's first week is a contradiction")
    // at offset 0 every user of the cohort is active (their first week
    // IS the cohort week), so the diagonal must equal the cohort sizes
    val ev = Tables.events(spark, sf)
      .select($"user_id", date_trunc("week", $"ts").as("week"))
    val cohortSizes = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
      .groupBy($"cohort_week").agg(count(lit(1)).as("n_users"))
    val diag = ret.filter($"week_offset" === 0)
      .join(cohortSizes, "cohort_week")
      .filter($"n_active" =!= $"n_users").count()
    assert(diag == 0, "offset-0 retention differs from cohort size")
    // retention never exceeds the cohort size at any offset
    val over = ret.join(cohortSizes, "cohort_week")
      .filter($"n_active" > $"n_users").count()
    assert(over == 0, "an offset retains more users than the cohort holds")
  }

  test("distributed prefix sum is row-identical to the naive global window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // synthetic frame with duplicate keys (tie-break must matter) and
    // a null value (counts as 0), spread over genuinely many range
    // partitions so the offset phase is exercised, not vacuous
    val rows = (1 to 1000).map { i =>
      (i.toLong, (i * 7919 % 97).toLong,
        if (i % 53 == 0) None else Some((i * 31 % 11 + 1).toLong))
    }
    val df = rows.toDF("id", "key", "v")
    val order = Seq($"key".desc, $"id".asc)
    assert(df.repartitionByRange(8, order: _*).rdd.getNumPartitions == 8,
      "fixture must spread over >1 range partition or the offsets are untested")
    val got = RelationalExt.globalRunningSum(df, order, $"v", "cum", nPartitions = 8)
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df
      .withColumn("cum", sum(coalesce($"v", lit(0L)))
        .over(Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)))
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1000 && got == want,
      "two-phase prefix sum diverged from the single-partition window")
  }

  test("grouped prefix sum is row-identical to the naive per-group window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // few groups over many range partitions, so groups SPAN partitions
    // and the per-group offset phase is exercised; duplicate order keys
    // and nulls as in the global fixture
    val rows = (1 to 1000).map { i =>
      (i.toLong, s"g${i % 3}",
        if (i % 53 == 0) None else Some((i * 31 % 11 + 1).toLong))
    }
    val df = rows.toDF("id", "grp", "v")
    val got = RelationalExt.groupedRunningSum(df, "grp", Seq($"id".asc), $"v",
        "cum", nPartitions = 8)
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df
      .withColumn("cum", sum(coalesce($"v", lit(0L)))
        .over(Window.partitionBy($"grp").orderBy($"id".asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"id", $"cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1000 && got == want,
      "grouped two-phase prefix sum diverged from the per-group window")
  }

  test("sequence packing: segments reassemble every doc exactly and fill every non-final sequence") {
    import spark.implicits._
    val segs = TextOps.sequencePack(spark, sf, seqLen = 256).cache()
    try {
      // per-doc: segment token counts sum to the doc's token count and
      // segments are contiguous across consecutive sequences
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n"))
      val reassembled = segs.groupBy($"doc_id")
        .agg(sum($"n_seg_tokens").as("got"), count(lit(1)).as("n_segs"),
          (max($"seq_id") - min($"seq_id") + 1).as("span"))
      val bad = reassembled.join(docs, "doc_id")
        .filter($"got" =!= $"n" || $"n_segs" =!= $"span").count()
      assert(bad == 0, "a document's segments do not reassemble it")
      // per-sequence: every sequence except each source's last is
      // exactly seqLen tokens full
      val seqFill = segs.groupBy($"source", $"seq_id")
        .agg(sum($"n_seg_tokens").as("fill"))
      val lastSeq = seqFill.groupBy($"source").agg(max($"seq_id").as("last"))
      val under = seqFill.join(lastSeq, "source")
        .filter($"seq_id" =!= $"last" && $"fill" =!= 256L).count()
      assert(under == 0, "a non-final sequence is not exactly full")
      // offsets stay inside the sequence window
      val oob = segs.filter($"begin_off" < 0 || $"end_off" > 256 ||
        $"begin_off" >= $"end_off").count()
      assert(oob == 0, "segment offsets escape the [0, seqLen) window")
    } finally segs.unpersist()
  }

  test("locf: filled value is the most recent non-missing; leading misses stay null") {
    import spark.implicits._
    val out = RelationalExt.locfImpute(spark, sf)
    // non-missing rows carry their own value through unchanged
    val ev = Tables.events(spark, sf).select($"event_id", $"event_type", $"value")
    val own = out.join(ev, "event_id")
      .filter(!$"was_missing" && $"value_filled" =!= $"value").count()
    assert(own == 0, "a non-missing row's fill differs from its own value")
    // a filled (missing) row's value must equal SOME earlier non-error
    // value of the same user — spot-check via a recompute on one user
    val u = out.filter($"was_missing" && $"value_filled".isNotNull)
      .select($"user_id").limit(1).collect()(0).getLong(0)
    val hist = Tables.events(spark, sf).filter($"user_id" === u)
      .orderBy($"ts", $"event_id")
      .select($"event_id", $"event_type", $"value").collect()
    var lastSeen: Option[Double] = None
    val wantFill = scala.collection.mutable.Map[Long, Option[Double]]()
    hist.foreach { r =>
      if (r.getString(1) != "error") lastSeen = Some(r.getDouble(2))
      wantFill(r.getLong(0)) = lastSeen
    }
    val gotFill = out.filter($"user_id" === u).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(gotFill == wantFill.toMap,
      s"user $u LOCF fill diverges from the sequential recompute")
  }

  test("ewma: values match the sequential recurrence and spikes need prior baseline") {
    val out = RelationalExt.ewmaRateSmoothing(spark, sf)
    // recompute one event_type's series sequentially on the driver
    val et = out.select(col("event_type")).limit(1).collect()(0).getString(0)
    val series = out.filter(col("event_type") === et).orderBy(col("hour"))
      .select(col("n_events"), col("ewma"), col("is_spike")).collect()
    var e = 0.0d
    series.zipWithIndex.foreach { case (r, i) =>
      val x = r.getLong(0).toDouble
      val prev = e
      e = if (i == 0) x else (e + x) / 2.0
      assert(math.abs(r.getDouble(1) - e) < 1e-6,
        s"$et hour $i: ewma ${r.getDouble(1)} != recurrence $e")
      val wantSpike = i > 0 && prev > 0.0 && x >= prev * 2.0
      assert(r.getBoolean(2) == wantSpike, s"$et hour $i spike flag")
    }
    // the seed hour can never be a spike (no prior baseline)
    import org.apache.spark.sql.expressions.Window
    val first = out.withColumn("rn",
      row_number().over(Window.partitionBy(col("event_type")).orderBy(col("hour"))))
      .filter(col("rn") === 1 && col("is_spike"))
    assert(first.count() == 0)
  }

  test("user acquisition: curve ends at total distinct users and n_new sums telescope") {
    val out = RelationalExt.userAcquisition(spark, sf).orderBy(col("day")).collect()
    val total = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(out.last.getLong(2) == total, "final cumulative != distinct users")
    var run = 0L
    out.foreach { r =>
      run += r.getLong(1)
      assert(r.getLong(2) == run, s"cumulative breaks at ${r.get(0)}")
    }
  }

  test("cusum: a planted level shift is localized at the shift hour") {
    // 10 hours at rate 2, then 10 hours at rate 8: |S| peaks at the
    // last pre-shift hour (rank 10)
    val rows = (0 until 20).flatMap { h =>
      val n = if (h < 10) 2 else 8
      (0 until n).map(i => (h.toLong * 100 + i,
        java.sql.Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00"),
        1L, "shift", 1.0, "{}"))
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cusum").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val cp = RelationalExt.cusumChangepoint(spark, dir).collect()(0)
    assert(cp.getLong(3) == 10L, s"cp_rank ${cp.getLong(3)} != 10")
    // pre-shift hours sit BELOW the mean, so S peaks negative: the
    // level rose — level_dropped must be false
    assert(!cp.getBoolean(5), "level rose; level_dropped must be false")
    assert(math.abs(cp.getDouble(4) - 30.0) < 1e-9, "peak |S| = 10*(5-2) = 30")
  }
}
