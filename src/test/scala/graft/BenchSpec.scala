package graft

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bench's failure accounting: a query that throws is never timed as a
  * fast success. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .appName("bench-accounting")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a throwing query is recorded as Double.MaxValue and reported on stderr") {
    val err = new ByteArrayOutputStream()
    // SparkEntry.documents keeps a session's reads, but not a failed one:
    // a missing table fails on every call
    val (missing, inTask) = Console.withErr(err) {
      (Seq.fill(3)(Bench.timedRun(spark, "/nonexistent", "missing_input",
         SparkEntry.queries("clean_text"))),
       Bench.timedRun(spark, "", "raises_in_task",
         (s, _) => s.range(3).select(raise_error(lit("boom")))))
    }
    assert(missing.forall(_ === Double.MaxValue) && inTask === Double.MaxValue)
    val log = err.toString
    assert(log.split("\n").count(_.contains("missing_input failed: org.apache.spark.sql.AnalysisException")) === 3)
    assert(log.contains("raises_in_task failed: "))
    val ok = Bench.timedRun(spark, "", "ok", (s, _) => s.range(3).toDF())
    assert(ok >= 0.0 && ok < 60.0)
    // min-of-3 picks the successful run, never a failure
    assert((missing :+ ok :+ inTask).min === ok)
  }

  test("fatal errors are not swallowed") {
    intercept[InterruptedException] {
      Bench.timedRun(spark, "", "interrupted", (_, _) => throw new InterruptedException())
    }
  }
}
