package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.TextOps

/** JVM side of the corpus-analytics benchmark (driven by perfbench/run.py).
  *
  * Runs a workload's query mix from [[SparkEntry.queries]] against one
  * generated `documents.parquet` in a single local[cpus] session, timing
  * each query as a noop-sink write, and writes `result.json` (and, when
  * traced, `trace.json`) into the output directory. Each query's result is
  * also written once, untimed, as parquet beside `oracle_sql.json` so the
  * caller can compare it with [[SparkEntry.oracleSql]].
  *
  * Usage: perfbench.Harness <dataDir> <outDir> <query,query,...> <seconds>
  *          <trace 0|1> <cpus>
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, mixArg, secondsArg, traceArg, cpusArg) = args
    val mix = mixArg.split(",").toSeq
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = cpusArg.toInt
    val unknown = mix.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))

    // ---- set-up, once and cold: from JVM start through session build and
    // untimed warmup, in wall and JVM CPU time (the process's CPU clock
    // starts with the JVM) ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val buildStartMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val spark = buildSession(cpus)
    val t1 = System.nanoTime()
    val (docsIn, textBytes) = warmup(spark, dataDir)
    val t2 = System.nanoTime()
    val setupCpu = processCpuSeconds()
    val jvmS = (buildStartMs - jvmStartMs) / 1e3
    val (buildS, warmupS) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    val setupWall = jvmS + buildS + warmupS
    val setupMarks = SetupMarks(jvmStartMs, buildStartMs, buildStartMs + buildS * 1e3,
      buildStartMs + (buildS + warmupS) * 1e3)

    // ---- failure-accounting self-check: a throwing query is a failure
    // with its error class, never a timed sample ----
    val probe = new Accounting
    probe.run(spark, "selfcheck_missing_input",
      () => spark.read.parquet(s"$dataDir/no_such_table.parquet"))
    probe.run(spark, "selfcheck_execution_error",
      () => spark.range(1000).select(assert_true(col("id") < 0).as("x")))
    val selfCheckOk = probe.attempted == 2 && probe.failed == 2 &&
      probe.samples.isEmpty && probe.failures.forall(_("error_class").nonEmpty)
    if (!selfCheckOk) {
      System.err.println(s"[perfbench] failure-accounting self-check broken: ${probe.summary}")
      sys.exit(3)
    }

    // ---- one untimed run per query, written for the oracle compare ----
    val acct = new Accounting
    val resultsDir = s"$outDir/results"
    val readsText = mutable.Map[String, Boolean]()
    for (q <- mix) {
      spark.sparkContext.setJobDescription(s"perfbench:result:$q")
      acct.attempt(q) {
        val df = SparkEntry.queries(q)(spark, dataDir)
        readsText(q) = planOf(df.queryExecution.executedPlan).exists {
          case s: FileSourceScanExec => s.requiredSchema.fieldNames.contains("text")
          case _ => false
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$q")
      }
    }
    val oracle = mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"), mapper.writeValueAsString(oracle))

    // ---- four untimed passes: the JIT keeps compiling the queries' hot
    // paths through their first executions. After only two, corpus_agg's
    // CPU time per pass still fell by a fifth over the next six, so a fast
    // host, which fits more timed passes, read lower medians ----
    timePasses(spark, dataDir, mix, acct, budget = 0, minPasses = 4)
    acct.samples.clear()

    // ---- timed passes; a traced run alternates them with traced ones ----
    val trace = if (traced) Some(new TracedRun(spark, dataDir, mix, acct, docsIn, setupMarks)) else None
    val passes = trace match {
      case Some(t) => t.run(seconds)
      case None => timePasses(spark, dataDir, mix, acct, seconds, minPasses = 5)
    }
    val walls = passes.map(_.wall_s)
    val timedS = mix.flatMap(acct.samples.getOrElse(_, Nil)).sum
    val textMb = mix.map(q => acct.samples.getOrElse(q, Nil).size *
      (if (readsText.getOrElse(q, true)) textBytes else 0L)).sum / 1e6

    val result = mutable.LinkedHashMap[String, Any](
      "setup_cpu_s" -> setupCpu,
      "setup_wall_s" -> setupWall,
      "session_jvm_s" -> jvmS,
      "session_build_s" -> buildS,
      "session_warmup_s" -> warmupS,
      "report_s_p50" -> median(walls),
      "report_s_max" -> (if (walls.isEmpty) Double.NaN else walls.max),
      "report_cpu_s_p50" -> median(passes.map(_.cpu_s)),
      "passes" -> passes.size,
      "pass_details" -> passes,
      "text_mb_s" -> (if (timedS > 0) textMb / timedS else 0.0),
      "text_mb" -> textMb,
      "timed_s" -> timedS,
      "docs" -> docsIn,
      "text_bytes" -> textBytes,
      "attempted" -> acct.attempted,
      "failed" -> acct.failed,
      "failures" -> acct.failures.toSeq,
      "query_p50_s" -> mix.map(q => q -> median(acct.samples.getOrElse(q, Nil))).toMap,
      "selfcheck" -> probe.summary,
      "clean_text_sql_expr" -> TextOps.cleanTextSqlExpr)

    trace.foreach { t =>
      t.metrics ++= Seq(
        "session.jvm_s" -> jvmS,
        "session.build_s" -> buildS,
        "session.warmup_s" -> warmupS,
        "session.setup_wall_s" -> setupWall,
        "text.mb_s" -> textMb / timedS)
      result("per_layer") = t.metrics
      Files.writeString(Paths.get(s"$outDir/trace.json"), mapper.writeValueAsString(t.document()))
    }
    result("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(s"$outDir/result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  def buildSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** graft.Bench's untimed warmup (the shared clean/aggregate code paths on
    * synthetic text) plus one scan of the input, which also yields the
    * corpus's document count and raw `text` bytes. */
  def warmup(spark: SparkSession, dataDir: String): (Long, Long) = {
    spark.sparkContext.setJobDescription("perfbench:warmup")
    val warm = spark.range(0, 20000).selectExpr(
      "id AS doc_id",
      "concat('Visit http://ex.a/', id, ' @user The quick brown fox jumps over the lazy dog ', repeat('lorem ipsum dolor sit amet spark ', 4)) AS text")
    warm.select(col("doc_id"), md5(TextOps.cleanText(col("text")).cast("binary")).as("fp"),
        explode(TextOps.cleanTokens(col("text"))).as("w"))
      .groupBy("w").agg(min("doc_id"), count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(20)
      .write.format("noop").mode("overwrite").save()
    val row = spark.read.parquet(s"$dataDir/documents.parquet")
      .agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L)))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Passes over the mix, in its fixed order: at least `minPasses`, more
    * while they fit in `budget` seconds. Returns a sample for each pass in
    * which every query succeeded. */
  def timePasses(spark: SparkSession, dataDir: String, mix: Seq[String], acct: Accounting,
                 budget: Double, minPasses: Int): Seq[PassSample] = {
    val out = mutable.ArrayBuffer[PassSample]()
    val start = System.nanoTime()
    var n = 0
    // A pass starts only if one more of the passes' mean length still ends
    // within the budget, so the timed section stays near `budget` seconds.
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < minPasses || elapsed * (n + 1) / n <= budget) {
      n += 1
      val (t0, c0, g0, s0) = (System.nanoTime(), processCpuSeconds(), gcSeconds(), stealSeconds())
      val ok = mix.map { q =>
        acct.run(spark, q, () => SparkEntry.queries(q)(spark, dataDir), s"perfbench:pass$n:$q")
      }.forall(identity)
      if (ok) out += PassSample((System.nanoTime() - t0) / 1e9, processCpuSeconds() - c0,
        gcSeconds() - g0, stealSeconds() - s0)
    }
    out.toSeq
  }

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Machine-wide CPU time stolen by the hypervisor (the `steal` column of
    * /proc/stat, in USER_HZ ticks), summed over all CPUs. */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Every physical operator of an executed plan: the final plan of each
    * adaptive node, query-stage contents and subqueries included. A reused
    * exchange counts once, as itself; its original is not walked again. */
  def planOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planOf(a.executedPlan)
    case s: QueryStageExec => planOf(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planOf)
  }

  val OperatorKinds: Seq[(String, SparkPlan => Boolean)] = Seq(
    "filescan" -> (_.isInstanceOf[FileSourceScanExec]),
    "generate" -> (_.isInstanceOf[GenerateExec]),
    "exchange" -> (_.isInstanceOf[ShuffleExchangeExec]),
    "reused_exchange" -> (_.isInstanceOf[ReusedExchangeExec]),
    "broadcast_exchange" -> (_.isInstanceOf[BroadcastExchangeExec]),
    "window" -> (_.isInstanceOf[WindowExec]),
    "sort" -> (_.isInstanceOf[SortExec]),
    "hash_agg" -> (_.isInstanceOf[HashAggregateExec]))

  def operatorCounts(p: SparkPlan): Map[String, Int] = {
    val ops = planOf(p)
    OperatorKinds.map { case (k, f) => k -> ops.count(f) }.toMap
  }

  /** JVM-wide GC time. A collector bean may report -1 ("undefined"); only
    * beans with a defined time are summed. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** Wall-clock instants (epoch ms) of the set-up: JVM start, session build
  * start, build end (warmup start), warmup end. */
final case class SetupMarks(jvmStart: Double, buildStart: Double, buildEnd: Double, warmupEnd: Double)

/** One complete pass: wall time, JVM CPU and GC time, and the machine's
  * steal time while it ran. */
final case class PassSample(wall_s: Double, cpu_s: Double, gc_s: Double, steal_s: Double)

/** Counts query executions and their failures. A failed execution is kept
  * with its error class and never becomes a timed sample. */
final class Accounting {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[Map[String, String]]()
  val samples = mutable.LinkedHashMap[String, List[Double]]()

  /** Runs `body` as one attempted execution of `query`; true if it ran. */
  def attempt(query: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += Map("query" -> query, "error_class" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(300))
        System.err.println(s"[perfbench] $query failed: ${e.getClass.getName}")
        false
    }
  }

  /** One timed noop-sink write of the query; the sample is kept only if
    * the whole execution, DataFrame construction included, succeeded. */
  def run(spark: SparkSession, query: String, df: () => DataFrame,
          description: String = ""): Boolean = {
    spark.sparkContext.setJobDescription(if (description.nonEmpty) description else s"perfbench:$query")
    var t = 0.0
    val ok = attempt(query) {
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      t = (System.nanoTime() - t0) / 1e9
    }
    if (ok) samples(query) = samples.getOrElse(query, Nil) :+ t
    ok
  }

  def summary: Map[String, Any] = Map(
    "attempted" -> attempted, "failed" -> failed,
    "failed_frac" -> (if (attempted > 0) failed.toDouble / attempted else Double.NaN),
    "timed_samples" -> samples.values.map(_.size).sum,
    "failures" -> failures.toSeq)
}
