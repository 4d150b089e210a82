package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** A2+A3: per-doc term frequency joined with per-term document
  * frequency (app.py:156-157) — the relational spine of TF-IDF; no UDFs,
  * no driver-side work.
  *
  * tf is counted inside each document's row, as in the reference, where
  * each tweet is one row of sklearn's term matrix (app.py:156-166): the
  * [[TextOps.termCounts]] kernel emits one `(term, tf)` row per distinct
  * term, so nothing is shuffled on `(doc_id, term)`. That is exact because
  * `doc_id` is the documents key (FIXTURES.md).
  *
  * df has two plans. Over several partitions it is a partial plus final
  * hash aggregate on `term`, whose map-side combine absorbs hot terms,
  * joined back to tf: the planner broadcasts df while it is under
  * `spark.sql.autoBroadcastJoinThreshold`; past that it sort-merge joins,
  * and AQE's skew-join rule can split a hot term's partitions. Over one
  * partition (`docs` is [[onePartition]]) the table is one task already,
  * so df is a count over a window on `term`: tf is read once, sorted by
  * term and counted in place, with no aggregate, no join and one job. The
  * window holds one term's rows at a time, in a buffer that spills to disk,
  * so a hot term need not fit in task memory. */
object TfIdfOps {
  def termDocFreq(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), inline(TextOps.termCounts(col("text"))))
    if (onePartition(docs)) tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    else tf.join(tf.groupBy("term").agg(count(lit(1)).as("df")), "term")
      .select("doc_id", "term", "tf", "df")
  }

  /** Whether `df` is one partition by its own plan: its root is
    * `coalesce(1)` or `repartition(1)`, as [[graft.SparkEntry.documents]]
    * returns a one-split table. The plan is analyzed already, so this plans
    * nothing and starts no job. */
  def onePartition(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, _, _) => true
    case _ => false
  }

  val termDocFreqSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.cleanTokensSqlExpr}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf
       |       FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df
       |       FROM toks GROUP BY term)
       |SELECT tf.doc_id, tf.term, tf.tf, df.df
       |FROM tf JOIN df USING (term)""".stripMargin
}
