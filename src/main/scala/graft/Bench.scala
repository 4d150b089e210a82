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
  *  - The timed action is a noop-sink write: `count()` lets the optimizer
  *    prune computed columns, so a projection would time an empty scan.
  *  - An untimed warmup runs first, on synthetic text plus one count of
  *    [[SparkEntry.documents]], so that no query absorbs executor start-up,
  *    scan init, codegen and JIT. Nothing from it is reused by a timed run.
  *  - Each query's time is the minimum of three runs, taken in three
  *    interleaved passes over the query list, so that one CPU-steal window
  *    can spoil at most one of a query's samples.
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
    SparkEntry.documents(spark, sfDir).count()

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
