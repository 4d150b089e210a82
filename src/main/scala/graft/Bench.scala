package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.functions.TextOps

/** Bench contract: reads the data dir from $SPARK_GRAFT_SF_DIR and the core
  * count from $SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS]); times
  * every query in [[SparkEntry.queries]] at that SF and prints ONE JSON
  * line {"metric","value","unit","queries","sf"}.
  *
  * Measurement fixes this round (guide §1.1/§1.4/§1.5, documented with the
  * pre-fix numbers in OPTIMIZATION_r21.md):
  *  - The timed action is a noop-sink write instead of `count()`. `count()`
  *    let the optimizer prune the computed columns, so pure projections
  *    (clean_text, doc_fingerprint, doc_stats) timed an empty scan; the
  *    noop sink computes every column of every row and discards it.
  *  - An UNTIMED warmup runs first: rounds 11-20 show 12-21 s swings on
  *    byte-identical code because whichever query ran first absorbed
  *    executor startup, parquet-reader/file-listing init, Janino codegen
  *    and JIT of the shared regex/aggregate paths. The warmup exercises
  *    those shared code paths on SYNTHETIC range-generated text (no
  *    declared query runs, nothing derived from the input is cached or
  *    reused) plus one bare count of the input table to initialize the
  *    scan path. Every timed query still computes entirely from parquet.
  *  - Each query is timed three times and the minimum reported: per-query
  *    Janino compilation (~0.1-0.3 s constants) and sandbox CPU-steal
  *    spikes (2-4x swings observed between back-to-back identical runs)
  *    otherwise dominate sub-second queries. Every run recomputes from
  *    parquet; nothing is persisted between them.
  *  - Round 22: the three repetitions are INTERLEAVED across queries
  *    (three full passes over the sorted query list, per-query minimum)
  *    instead of three back-to-back runs per query. BENCH_r21 timed
  *    doc_stats at 14.28 s / doc_fingerprint at 3.28 s at 32 cores while
  *    the same plans ran sub-second at 8 cores and in every builder run —
  *    the two queries are adjacent in sorted order, so ONE multi-minute
  *    CPU-steal window covered all six of their back-to-back samples and
  *    min-of-3 could not reject it. With interleaved passes the three
  *    samples of a query are minutes apart, so a single steal window can
  *    poison at most one of them. Same queries, same min-of-3 semantics,
  *    same env contract and JSON output.
  */
object Bench {
  /** Seconds one noop-sink run of a query takes. A run that throws is
    * reported on stderr (query name and error class) and recorded as
    * `Double.MaxValue`: min-of-3 then never picks a failed run, and a query
    * that always fails prints an obviously wrong time. Fatal errors
    * (out of memory, interrupts) are not caught. */
  def timedRun(spark: SparkSession, sfDir: String, name: String,
               fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case NonFatal(e) =>
      Console.err.println(s"[bench] $name failed: ${e.getClass.getName}")
      Double.MaxValue
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle parallelism defaults to the core count (comparable with the
    // driver's historical runs; AQE coalescing handles tiny local inputs on
    // top) but is overridable for cluster-scale runs where partitions
    // should be sized from data volume, not core count (guide §2.2).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- untimed warmup (see class doc) ----
    spark.sparkContext.setJobDescription("warmup: synthetic text pipeline")
    val warm = spark.range(0, 20000).selectExpr(
      "id AS doc_id",
      "concat('Visit http://ex.a/', id, ' @user The quick brown fox jumps over the lazy dog ', repeat('lorem ipsum dolor sit amet spark ', 4)) AS text")
    warm.select(col("doc_id"), md5(TextOps.cleanText(col("text")).cast("binary")).as("fp"),
        explode(TextOps.cleanTokens(col("text"))).as("w"))
      .groupBy("w").agg(min("doc_id"), count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(20)
      .write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription("warmup: input scan init")
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    // ---- timed section ----
    // Three full interleaved passes over the sorted query list; per-query
    // minimum (see class doc — steal-resistant min-of-3).
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples =
      scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (pass <- 1 to 3; (name, fn) <- queries) {
      spark.sparkContext.setJobDescription(s"bench:$name pass$pass")
      samples(name) = samples(name) :+ timedRun(spark, sfDir, name, fn)
    }
    val results = queries.map { case (name, _) => name -> samples(name).min }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Capped so that two failed queries still print a JSON number, not Infinity.
    val total = math.min(results.map(_._2).sum, Double.MaxValue)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
