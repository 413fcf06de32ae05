package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.HydroPipeline

/** One benchmark process. Drives graft only through its public entry
  * points (the `SparkEntry` registry, the `HydroPipeline` stages and
  * the `SyntheticObservations` source) in a closed loop: one driver
  * thread, one operation at a time.
  *
  * Phases, in order: SparkSession start and a cold pass that pays
  * class loading, JIT and codegen and keeps every output for checking
  * (set-up); the output checks; three settling passes; timed passes
  * until `--seconds` is spent, at least three, or with `--trace 1`
  * untraced, traced and untraced passes. Everything measured is written as one JSON document to
  * `--out`; `run.py` turns it into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --out FILE
  */
object Main {
  val OpProp = "perfbench.op"
  val PartProp = "perfbench.part"

  // Sized so that the cold, settling and timed passes fit one run
  // (README.md gives the reasons and the queries left out).
  val CurationLoops: Seq[String] = Seq(
    "q61_dedup_clusters", "q220_coreness", "q128_shard_export")

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String)

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("out"))
  }

  // epoch milliseconds with sub-millisecond resolution
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def procCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set of this process so far (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** One timed operation: a construct part (the call into graft that
    * returns a DataFrame) and an action part that runs it. */
  final case class Op(name: String, build: () => DataFrame, act: DataFrame => Unit)

  final class Recorder(spark: SparkSession) {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var next = 0
    def run(pass: Int, op: Op): Unit = {
      val id = s"p$pass.o$next"
      next += 1
      val sc = spark.sparkContext
      sc.setLocalProperty(OpProp, id)
      sc.setLocalProperty(PartProp, "construct")
      val t0 = nowMs()
      var t1 = t0
      var analysis = Seq.empty[Seq[Long]]
      val err = try {
        val df = op.build()
        t1 = nowMs()
        // analysis runs eagerly while the DataFrame is built; the
        // listener only sees the executions that run
        analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(p => Seq(p.startTimeMs, p.endTimeMs)).toSeq
        sc.setLocalProperty(PartProp, "action")
        op.act(df)
        None
      } catch { case NonFatal(e) =>
        if (t1 == t0) t1 = nowMs()
        System.err.println(s"[perfbench] op ${op.name} failed: ${e.getMessage}")
        Some(String.valueOf(e.getMessage).take(300))
      }
      val t2 = nowMs()
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(PartProp, null)
      ops += Map("id" -> id, "name" -> op.name, "pass" -> pass,
        "start_ms" -> t0, "construct_end_ms" -> t1, "end_ms" -> t2,
        "analysis_ms" -> analysis, "ok" -> err.isEmpty, "error" -> err.orNull)
      // localCheckpoint blocks live as long as the session; drop them so
      // one op's residue does not slow the next
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  trait Workload {
    /** Ops of one pass (the pass index varies the order). The cold
      * pass (`keep`) writes its outputs where the checks read them. */
    def ops(spark: SparkSession, pass: Int, keep: Boolean): Seq[Op]
    /** Called before each pass, outside the pass's timing. */
    def reset(): Unit = ()
    /** Output checks on what the cold pass kept. */
    def check(spark: SparkSession): Map[String, Any]
    def extraTrace(spark: SparkSession): Map[String, Any] = Map.empty
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final class Queries(conf: Conf, names: Seq[String]) extends Workload {
    private val registry = SparkEntry.queries
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))

    private def outPath(n: String) = s"${conf.work}/check/$n"

    def ops(spark: SparkSession, pass: Int, keep: Boolean): Seq[Op] =
      // the seed permutes the order of every pass
      new Random(conf.seed * 1000003L + pass).shuffle(names).map { n =>
        Op(n, () => registry(n)(spark, conf.data),
          df => if (keep) df.write.mode("overwrite").parquet(outPath(n)) else noop(df))
      }

    def check(spark: SparkSession): Map[String, Any] =
      Map("queries" -> names.map { n =>
        n -> Map("path" -> outPath(n), "oracle_sql" -> SparkEntry.oracleSql.getOrElse(n, null))
      }.toMap)
  }

  /** The paper's dataflow on a seeded synthetic feed: a from-scratch
    * load into empty parquet state, prefix-growing re-deliveries merged
    * in with `upsertMergedState`, and a streamed export of the merged
    * view. */
  final class HydroFeed(conf: Conf, spark: SparkSession) extends Workload {
    // sized so that the cold, settling and timed passes fit one run
    private val Sites = 15000
    private val Batches = 4
    private val root = s"${conf.work}/hydro"
    private val nproc = spark.sparkContext.defaultParallelism
    private def fs = {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    }

    /** (sites, seed) per batch: batch i delivers sites [0, n_i), n_i
      * growing from 2/(Batches+1) to all of `Sites`, each with its own
      * seed. */
    def batches: Seq[(Int, Long)] =
      (0 until Batches).map { i =>
        (math.max(1, (Sites.toLong * (i + 2) / (Batches + 1)).toInt),
          new Random(conf.seed * 7919L + i).nextLong())
      }

    def feed(sites: Int, seed: Long): DataFrame =
      spark.read.format("graft.sources.v2.SyntheticObservations")
        .option("sites", sites.toLong).option("partitions", nproc.toLong)
        .option("seed", seed).load()

    private val state = s"$root/state"
    private val exportDir = s"$root/export"

    override def reset(): Unit =
      Seq(state, state + ".staging", state + ".old", exportDir)
        .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))

    def ops(spark: SparkSession, pass: Int, keep: Boolean): Seq[Op] =
      batches.zipWithIndex.map { case ((n, s), i) =>
        Op(if (i == 0) "load" else "upsert", () => HydroPipeline.toFeatures(feed(n, s)),
          features => HydroPipeline.upsertMergedState(spark, state, features))
      } :+ Op("export", () => HydroPipeline.mergedFromState(spark, state),
        merged => HydroPipeline.writeFeatureCollectionStreamed(merged, exportDir))

    /** Order-independent digest: row count plus two sums of per-row
      * hashes (exact in DECIMAL). */
    private def digest(df: DataFrame): Seq[String] = {
      val r = df.select(
          xxhash64(col("geometry"), col("properties")).cast("decimal(38,0)").as("a"),
          hash(col("properties"), col("geometry")).cast("decimal(38,0)").as("b"))
        .agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
      Seq(r.get(0), r.get(1), r.get(2)).map(String.valueOf)
    }

    def check(spark: SparkSession): Map[String, Any] = {
      val delivered = batches.map { case (n, s) => HydroPipeline.toFeatures(feed(n, s)) }
        .reduce(_ unionByName _)
      // one row per distinct site that delivered a flow or gage series
      val oneShot = digest(HydroPipeline.mergeSites(delivered))
      val fromState = digest(HydroPipeline.mergedFromState(spark, state))
      Map("hydro" -> Map(
        "state_digest" -> fromState.mkString("/"), "one_shot_digest" -> oneShot.mkString("/"),
        "state_matches" -> (oneShot == fromState),
        "distinct_sites" -> oneShot.head.toLong,
        "export_lines" -> spark.read.text(exportDir).count(),
        "state_rows" -> fromState.head.toLong))
    }

    override def extraTrace(spark: SparkSession): Map[String, Any] = {
      // the synthetic feed alone, at the largest batch size
      val (n, s) = batches.last
      val t0 = nowMs()
      noop(feed(n, s))
      val secs = (nowMs() - t0) / 1e3
      Map("gen_rows" -> n.toLong * 2, "gen_s" -> secs)
    }

    def seriesRows: Long =
      batches.map(_._1.toLong * 2).sum
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    new File(conf.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(conf.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(conf.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = nowMs()

    val workload: Workload = conf.workload match {
      case "curation_loops" => new Queries(conf, CurationLoops)
      case "hydro_feed"     => new HydroFeed(conf, spark)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // the cold pass: pays class loading, JIT and codegen, and keeps its
    // outputs for the checks
    val coldRec = new Recorder(spark)
    workload.reset()
    workload.ops(spark, -1, keep = true).foreach(op => coldRec.run(-1, op))
    val setupDoneMs = nowMs()
    val check = workload.check(spark)
    heapPools.foreach(_.resetPeakUsage())

    val rec = new Recorder(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // role: "settle" (untraced, not measured), "timed" (untraced,
    // measured) or "traced"
    def runPasses(budgetS: Double, role: String, minPasses: Int): Unit = {
      val start = nowMs()
      var n = 0
      while (n < minPasses || (nowMs() - start) / 1e3 < budgetS) {
        n += 1
        val p = passes.size
        workload.reset()
        val (c0, g0, t0) = (procCpuS(), gcS(), nowMs())
        workload.ops(spark, p, keep = false).foreach(op => rec.run(p, op))
        val t1 = nowMs()
        passes += Map("pass" -> p, "role" -> role, "start_ms" -> t0, "end_ms" -> t1,
          "cpu_s" -> (procCpuS() - c0), "gc_s" -> (gcS() - g0))
      }
    }

    val jobs = new JobTracer
    val phases = new PhaseTracer
    var extra = Map.empty[String, Any]
    // JIT keeps speeding passes up for about three passes after the
    // cold one; those settle untimed
    runPasses(0, "settle", 3)
    if (!conf.trace) runPasses(conf.seconds, "timed", 3)
    else {
      // untraced / traced / untraced: the overhead compares the traced
      // passes with untraced ones on both sides of them
      runPasses(conf.seconds / 3, "timed", 1)
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      runPasses(conf.seconds / 3, "traced", 1)
      extra = workload.extraTrace(spark)
      JobTracer.drain(spark, jobs)
      spark.listenerManager.unregister(phases)
      spark.sparkContext.removeSparkListener(jobs)
      runPasses(conf.seconds / 3, "timed", 1)
    }
    val rssMb = peakRssMb()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    spark.stop()

    val traceJson: Map[String, Any] =
      if (!conf.trace) Map.empty
      else Map(
        "jobs" -> jobs.jobs.values.toSeq.map(j => Map(
          "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "op" -> j.op,
          "part" -> j.part, "execution" -> j.execution)),
        "stages" -> jobs.stages.values.toSeq.map(s => Map(
          "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
          "submit_ms" -> s.submit, "complete_ms" -> s.complete, "tasks" -> s.tasks,
          "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
          "gc_ms" -> s.gcMs, "deser_ms" -> s.deserMs,
          "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
          "spill_disk" -> s.spillDisk, "in_bytes" -> s.inBytes,
          "in_records" -> s.inRecords, "out_bytes" -> s.outBytes,
          "task_ms" -> s.taskMs.toSeq)),
        "phases" -> phases.phases.toSeq.map { case (n, a, b) =>
          Map("phase" -> n, "start_ms" -> a, "end_ms" -> b) },
        "files_written" -> jobs.filesWritten.map { case (x, n) =>
          Map("execution" -> x.toString, "files" -> n) },
        "extra" -> extra)

    val doc = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "nproc" -> nproc,
      "session_ready_ms" -> sessionReadyMs, "setup_done_ms" -> setupDoneMs,
      "cold_ops" -> coldRec.ops.toSeq, "passes" -> passes.toSeq, "ops" -> rec.ops.toSeq,
      "series_rows" -> (workload match {
        case h: HydroFeed => h.seriesRows
        case _ => 0L
      }),
      "peak_rss_mb" -> rssMb, "heap_peak_mb" -> heapPeakMb,
      "check" -> check,
      "trace" -> traceJson)
    val w = new java.io.PrintWriter(conf.out, "UTF-8")
    try w.write(Json(doc)) finally w.close()
  }
}

/** Minimal JSON rendering of maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
