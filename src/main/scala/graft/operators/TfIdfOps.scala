package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** A2+A3: per-doc term frequency joined with per-term document
  * frequency (app.py:156-157) — the relational spine of TF-IDF.
  * One scan + one explode + one hash aggregate, then a vocabulary-sized
  * per-term count joined back; no UDFs, no driver-side work. */
object TfIdfOps {
  def termDocFreq(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.cleanTokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    // df = tf rows per term; count(when(tf > 0, 1)) is count(*) that keeps
    // AQE's exchange reuse, hence one scan (OPTIMIZATION_r22.md).
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") > 0, 1)).as("df"))
    tf.join(dfreq, "term")
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
       |FROM tf JOIN df USING (term)
       |ORDER BY doc_id, term""".stripMargin
}
