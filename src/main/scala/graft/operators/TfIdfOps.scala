package graft.operators

import org.apache.spark.sql.DataFrame
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
  * `doc_id` is the documents key (FIXTURES.md). df is then a partial plus
  * final hash aggregate on `term`, whose map-side combine absorbs hot
  * terms, joined back to tf.
  *
  * The join. Over several partitions the planner broadcasts df while it is
  * under `spark.sql.autoBroadcastJoinThreshold`; past that it sort-merge
  * joins, and AQE's skew-join rule can split a hot term's partitions. Over
  * one partition (`onePartition`: the caller read `docs` as one) tf and df
  * are each one partition already, so a `shuffle_hash` hint on df joins
  * them in the task, with no exchange: one job, and no collect of df to
  * the driver, no broadcast and no broadcast blocks left for the context
  * cleaner. A sort-merge join would also need no exchange, but it sorts
  * both sides. The hint's build side is bounded: df holds at most one row
  * per distinct term of one split, and Spark plans a table as one split
  * only when it is at most `spark.sql.files.maxPartitionBytes`. The hash
  * relation is built in task memory; one that cannot get it fails the
  * task with Spark's out-of-memory error, not silently. */
object TfIdfOps {
  def termDocFreq(docs: DataFrame, onePartition: Boolean = false): DataFrame = {
    val tf = docs.select(col("doc_id"), inline(TextOps.termCounts(col("text"))))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(if (onePartition) dfreq.hint("shuffle_hash") else dfreq, "term")
      .select("doc_id", "term", "tf", "df")
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
