package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.functions.TextOps
import graft.operators.{CorpusOps, TfIdfOps}

/** A span: one call into a layer, timed from the benchmark's side. All
  * spans of a run share the tracer's run id; times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, start_ms: Double, end_ms: Double,
                      attrs: Map[String, Any] = Map.empty)

final class Tracer {
  val runId: String = java.util.UUID.randomUUID().toString
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private var stack = List(0)
  private var nextId = 1
  val spans = mutable.ArrayBuffer[Span]()

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def add(parent: Int, name: String, start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, start, end, attrs)
    id
  }

  /** Runs `body` inside a new child span of the current one. Returns the
    * body's value and the span's id. */
  def span[T](name: String)(body: => T): (T, Int) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val start = nowMs
    try (body, id)
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, start, nowMs)
    }
  }

  def attach(id: Int, attrs: Map[String, Any] = Map.empty, end: Double = Double.NaN): Unit = {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs,
      end_ms = if (end.isNaN) spans(i).end_ms else end)
  }

  /** Runs `body` with span `id` as the parent of the spans it opens. */
  def within[T](id: Int)(body: => T): T = {
    stack = id :: stack
    try body finally stack = stack.tail
  }
}

/** Stage and task events of Spark's scheduler, collected between drains. */
final class StageListener extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageInfo]()
  val tasks = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add((e.stageId, e.taskInfo.duration, e.taskInfo.successful))
  def take(): (Seq[StageInfo], Seq[(Int, Long, Boolean)]) = {
    val s = Iterator.continually(stages.poll()).takeWhile(_ != null).toSeq
    val t = Iterator.continually(tasks.poll()).takeWhile(_ != null).toSeq
    (s, t)
  }
}

/** Query executions reported by the SQL layer, collected between drains. */
final class PlanListener extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = done.add(qe)
  def takeLast(): Option[QueryExecution] =
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq.lastOption
}

/** The traced run: the workload's passes with a `SparkListener` and a
  * `QueryExecutionListener` registered, alternating with untraced passes,
  * then each layer's public functions called directly, then the data
  * funnel. Produces the per-layer metrics and the span tree. */
final class TracedRun(spark: SparkSession, dataDir: String, mix: Seq[String], acct: Accounting,
                      docsIn: Long, setup: SetupMarks) {
  import Harness.{median, operatorCounts, gcSeconds}

  val tracer = new Tracer
  private val stageListener = new StageListener
  private val planListener = new PlanListener
  val metrics = mutable.LinkedHashMap[String, Double]()
  val perQuery = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val samples = mutable.LinkedHashMap[String, List[Map[String, Double]]]()

  private def docs(): DataFrame = spark.read.parquet(s"$dataDir/documents.parquet")
  private val text = col("text")

  /** Layer functions called directly, unsorted. Prefixes of the clean
    * chain first: each one's self time is its time minus its prefix's. */
  private val layerCalls: Seq[(String, () => DataFrame)] = Seq(
    "text.scan" -> (() => docs().select(text)),
    "text.lower" -> (() => docs().select(lower(text))),
    "text.normalize" -> (() => docs().select(TextOps.normalize(text))),
    "text.split" -> (() => docs().select(split(TextOps.normalize(text), TextOps.WsRe))),
    "text.keep_filter" -> (() => docs().select(TextOps.cleanTokens(text))),
    "text.join" -> (() => docs().select(TextOps.cleanText(text))),
    "text.explode" -> (() => docs().select(explode(TextOps.cleanTokens(text)))),
    "text.wordfreq_top200" -> (() => TextOps.wordFreq(docs(), 200)),
    "corpus.clean_texts" -> (() => CorpusOps.cleanTexts(docs())),
    "corpus.word_counts" -> (() => CorpusOps.wordCounts(docs())),
    "corpus.keyword_filter" -> (() => CorpusOps.keywordFilter(docs())),
    "corpus.doc_stats" -> (() => CorpusOps.docStats(docs())),
    "corpus.lang_dist" -> (() => CorpusOps.langDist(docs())),
    "corpus.fingerprints" -> (() => CorpusOps.fingerprints(docs())),
    "corpus.dedup_exact" -> (() => CorpusOps.dedupExact(docs())),
    "tfidf.tf_agg" -> (() => tfAgg()),
    "tfidf.term_doc_freq" -> (() => TfIdfOps.termDocFreq(docs())))

  /** termDocFreq's tf aggregate alone. */
  private def tfAgg(): DataFrame =
    docs().select(col("doc_id"), explode(TextOps.cleanTokens(text)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** The unsorted layer call behind each sorted SparkEntry query. */
  private val unsortedOf = Map(
    "clean_text" -> "corpus.clean_texts", "word_count" -> "corpus.word_counts",
    "keyword_filter" -> "corpus.keyword_filter", "doc_stats" -> "corpus.doc_stats",
    "lang_dist" -> "corpus.lang_dist", "doc_fingerprint" -> "corpus.fingerprints",
    "dedup_exact" -> "corpus.dedup_exact", "term_doc_freq" -> "tfidf.term_doc_freq")

  /** One traced noop-write execution: wall time, plan phases, operator
    * counts and the stage/task metrics of the jobs it ran. */
  private def traced(label: String, df: () => DataFrame): Option[Map[String, Double]] = {
    ListenerBusAccess.drain(spark.sparkContext)
    stageListener.take()
    planListener.takeLast()
    val gc0 = gcSeconds()
    var built: DataFrame = null
    val ((ok, t0, t1), spanId) = tracer.span(label) {
      val t0 = tracer.nowMs
      val ok = acct.run(spark, s"traced:$label", () => { built = df(); built }, s"perfbench:trace:$label")
      (ok, t0, tracer.nowMs)
    }
    val gc = gcSeconds() - gc0
    ListenerBusAccess.drain(spark.sparkContext)
    val (stages, tasks) = stageListener.take()
    val qe = planListener.takeLast()
    if (!ok) return None

    // Analysis runs when the DataFrame is built, on its own tracker; the
    // write's optimization and planning run on the command's.
    val phases = qe.map(_.tracker.phases).getOrElse(Map.empty).filter(_._1 != "analysis") ++
      built.queryExecution.tracker.phases.filter(_._1 == "analysis")
    for ((phase, p) <- phases if phase != "parsing")
      tracer.add(spanId, s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    val byStage = tasks.groupBy(_._1)
    val intervals = stages.map { s =>
      val start = s.submissionTime.getOrElse(t0.toLong).toDouble
      val end = s.completionTime.getOrElse(t1.toLong).toDouble
      tracer.add(spanId, s"exec.stage${s.stageId}", start, end, Map("tasks" -> s.numTasks))
      (start max t0, end min t1)
    }
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_._2.toDouble).sorted
      if (d(d.size / 2) > 0) d.last / d(d.size / 2) else 1.0
    }
    def stageSum(f: org.apache.spark.executor.TaskMetrics => Long): Double =
      stages.map(s => f(s.taskMetrics)).sum.toDouble
    val runS = stageSum(_.executorRunTime) / 1e3
    val cpuS = stageSum(_.executorCpuTime) / 1e9
    val m = mutable.LinkedHashMap[String, Double](
      "wall_s" -> (t1 - t0) / 1e3,
      "analysis_s" -> phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0),
      "optimization_s" -> phases.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0),
      "planning_s" -> phases.get("planning").map(_.durationMs / 1e3).getOrElse(0.0),
      "driver_gap_s" -> ((t1 - t0) - unionLength(intervals)) / 1e3,
      "stages" -> stages.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "run_s" -> runS,
      "cpu_s" -> cpuS,
      "gc_s" -> gc,
      "shuffle_write_mb" -> stageSum(_.shuffleWriteMetrics.bytesWritten) / 1e6,
      "shuffle_read_mb" -> stageSum(_.shuffleReadMetrics.totalBytesRead) / 1e6,
      "spill_mb" -> stageSum(_.diskBytesSpilled) / 1e6,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "failed_tasks" -> tasks.count(!_._3).toDouble)
    qe.foreach(q => operatorCounts(q.executedPlan).foreach { case (k, v) => m(s"op.$k") = v.toDouble })
    tracer.attach(spanId, m.toMap)
    samples(label) = samples.getOrElse(label, Nil) :+ m.toMap
    Some(m.toMap)
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (first || s > reach) { total += e - s; reach = e; first = false }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  private def p50(label: String, key: String): Double =
    median(samples.getOrElse(label, Nil).map(_(key)))

  /** Alternates untraced and traced passes, at least three of each and more
    * while one more pair fits in `budget` seconds, then runs the layer calls
    * and the funnel with the listeners registered. Returns the untraced
    * passes. */
  def run(budget: Double): Seq[PassSample] = {
    val ctx = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def listen(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(stageListener)
        ctx.listenerManager.register(planListener)
      } else {
        ListenerBusAccess.drain(spark.sparkContext)
        ctx.listenerManager.unregister(planListener)
        spark.sparkContext.removeSparkListener(stageListener)
      }
    val untraced = mutable.ArrayBuffer[PassSample]()
    val root = tracer.add(0, "workload", setup.jvmStart, Double.NaN, Map("mix" -> mix.mkString(",")))
    val s = tracer.add(root, "setup", setup.jvmStart, setup.warmupEnd)
    tracer.add(s, "session.jvm", setup.jvmStart, setup.buildStart)
    tracer.add(s, "session.build", setup.buildStart, setup.buildEnd)
    tracer.add(s, "session.warmup", setup.buildEnd, setup.warmupEnd)
    tracer.within(root) {
      val passTotals = mutable.ArrayBuffer[Map[String, Double]]()
      val passWalls = mutable.ArrayBuffer[Double]()
      val start = System.nanoTime()
      var n = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (n < 3 || elapsed * (n + 1) / n <= budget) {
        n += 1
        untraced ++= Harness.timePasses(spark, dataDir, mix, acct, budget = 0, minPasses = 1)
        listen(true)
        tracer.span(s"pass$n") {
          val t0 = tracer.nowMs
          val rs = mix.map(q => traced(q, () => SparkEntry.queries(q)(spark, dataDir)))
          if (rs.forall(_.isDefined)) {
            passWalls += (tracer.nowMs - t0) / 1e3
            passTotals += rs.flatten.reduce((a, b) => a.map { case (k, v) => k -> (v + b.getOrElse(k, 0.0)) })
          }
        }
        listen(false)
      }
      listen(true)
      // Layer calls, interleaved round by round.
      for (r <- 1 to 3) tracer.span(s"layers$r") {
        layerCalls.foreach { case (label, df) => traced(label, df) }
      }
      tracer.span("funnel")(funnel())

      def pass(key: String): Double = median(passTotals.map(_(key)).toSeq)
      val traceP50 = median(passWalls.toSeq)
      val untracedP50 = median(untraced.map(_.wall_s).toSeq)
      metrics ++= Seq(
        "trace.report_s_p50" -> traceP50,
        "trace.untraced_report_s_p50" -> untracedP50,
        "trace.overhead_s" -> (traceP50 - untracedP50),
        "plan.analysis_s" -> pass("analysis_s"),
        "plan.optimization_s" -> pass("optimization_s"),
        "plan.planning_s" -> pass("planning_s"))
      Harness.OperatorKinds.foreach { case (k, _) => metrics(s"plan.$k") = pass(s"op.$k") }
      Seq("driver_gap_s", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "failed_tasks").foreach(k => metrics(s"exec.$k") = pass(k))
      metrics("exec.cpu_ratio") = if (metrics("exec.run_s") > 0) metrics("exec.cpu_s") / metrics("exec.run_s") else 0.0
      metrics("exec.task_skew") = mix.map(q => p50(q, "task_skew")).max

      metrics("entry.edge_sort_s") = mix.flatMap(q => unsortedOf.get(q).map(op => p50(q, "wall_s") - p50(op, "wall_s"))).sum
      val prefix = Seq("scan", "lower", "normalize", "split", "keep_filter")
      prefix.zip("" +: prefix).foreach { case (p, before) =>
        metrics(s"text.${p}_s") = p50(s"text.$p", "wall_s") - (if (before.isEmpty) 0.0 else p50(s"text.$before", "wall_s"))
      }
      metrics("text.join_s") = p50("text.join", "wall_s") - p50("text.keep_filter", "wall_s")
      metrics("text.explode_s") = p50("text.explode", "wall_s") - p50("text.keep_filter", "wall_s")
      metrics("text.wordfreq_top200_s") = p50("text.wordfreq_top200", "wall_s")
      layerCalls.map(_._1).filter(l => l.startsWith("corpus.") || l.startsWith("tfidf."))
        .foreach(l => metrics(s"${l}_s") = p50(l, "wall_s"))
      metrics("tfidf.df_join_s") = metrics("tfidf.term_doc_freq_s") - metrics("tfidf.tf_agg_s")

      for (q <- mix) perQuery(q) = Map(
        s"entry.${q}_s" -> p50(q, "wall_s"),
        s"entry.$q.edge_sort_s" -> unsortedOf.get(q).map(op => p50(q, "wall_s") - p50(op, "wall_s")).getOrElse(0.0),
        "exec" -> samples.getOrElse(q, Nil).lastOption.getOrElse(Map.empty))
    }
    tracer.attach(root, end = tracer.nowMs)
    listen(false)
    untraced.toSeq
  }

  /** Data funnel: one aggregate over the corpus plus the dedup and tf sizes. */
  private def funnel(): Unit = {
    spark.sparkContext.setJobDescription("perfbench:funnel")
    val r = docs().agg(
      count(lit(1)),
      sum(when(size(TextOps.cleanTokens(text)) === 0, 1).otherwise(0)),
      sum(size(TextOps.tokenize(TextOps.normalize(text)))),
      sum(size(TextOps.cleanTokens(text)))).head()
    val split = r.getLong(2).toDouble
    val kept = r.getLong(3).toDouble
    val tf = tfAgg()
    metrics ++= Seq(
      "text.docs_in" -> r.getLong(0).toDouble,
      "text.docs_empty" -> r.getLong(1).toDouble,
      "text.tokens_split" -> split,
      "text.tokens_kept" -> kept,
      "text.keep_ratio" -> (if (split > 0) kept / split else 0.0),
      "corpus.dedup_ratio" -> CorpusOps.dedupExact(docs()).count().toDouble / docsIn,
      "tfidf.tf_rows" -> tf.count().toDouble,
      "tfidf.vocab" -> tf.select("term").distinct().count().toDouble)
  }

  def document(): Map[String, Any] = Map(
    "run_id" -> tracer.runId,
    "metrics" -> metrics,
    "ratio_bases" -> Map(
      "exec.cpu_ratio" -> "exec.run_s", "text.keep_ratio" -> "text.tokens_split",
      "corpus.dedup_ratio" -> "text.docs_in"),
    "per_query" -> perQuery,
    "samples" -> samples,
    "spans" -> tracer.spans.toSeq)
}
