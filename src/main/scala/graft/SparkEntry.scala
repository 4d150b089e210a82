package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextOps
import graft.operators.{CorpusOps, TfIdfOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core analytic: top-20 word frequency over the cleaned
    * corpus (app.py:168-169 + 46-57).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("word_freq_top20")(spark, "/root/testdata/sf0.001")

  /** The `documents` table's schema (FIXTURES.md). Declared rather than
    * inferred: inferring it runs a one-task Spark job per read to open a
    * parquet footer, i.e. one extra job in every query. */
  private[graft] val DocumentsSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** `documents`, read through [[DocumentsSchema]]. A table that Spark
    * plans as one split comes back as `coalesce(1)`, which reports a single
    * partition: then every edge sort and aggregate is satisfied as it is,
    * and no query plans a shuffle or a range-sampling re-scan. Planning the
    * scan to count its splits builds its RDD and runs no job. The rule
    * cannot take scan parallelism away: it fires only where the scan is one
    * task already, and Spark splits a file of more than about
    * `max(spark.sql.files.openCostInBytes, bytes / cores)` into several.
    * Column pruning and filter pushdown pass through the coalesce. */
  private def docs(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.schema(DocumentsSchema).parquet(s"$dir/documents.parquet")
    if (d.queryExecution.toRdd.getNumPartitions <= 1) d.coalesce(1) else d
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Operators in `graft.operators`/`graft.functions` return UNSORTED
    * DataFrames (no library operator embeds a global sort — a full
    * range-partition of the corpus would be a 100 TB scale-killer).
    * The deterministic ORDER BY that the driver's row-by-row hash compare
    * needs is applied HERE, at the verification edge only.
    *
    * Edge rule: a per-row projection sorts its narrow INPUT, not its
    * output. A global sort is a range-partition exchange, and range
    * sampling runs the exchange's child once to pick the bounds and again
    * for the shuffle. Sorting `(doc_id, text)` first leaves only the scan
    * under the exchange; Project, Generate and Filter keep their input's
    * order, so the clean chain runs once, after the exchange.
    * Aggregating and filtering queries sort their (smaller) output, except
    * term_doc_freq: its output is as wide as a per-row projection's, and it
    * reads its input twice (tf, and df's aggregate). Sorting the input lets
    * both branches share one range exchange of `(doc_id, text)`, which AQE
    * reuses: one scan. tf's Generate and the broadcast probe keep the
    * `doc_id` range partitioning, so the output needs only a local sort.
    *
    * All of the above is the plan of a table that scans as several splits.
    * On a one-split table [[docs]] returns a single partition, so every
    * sort runs in place and no query has a range or hash exchange; only
    * term_doc_freq's broadcast of df remains, and it scans its input once
    * per branch. The results, and their order, are the same on both.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A7/T2/T3 + P1-P5,P7,F3,F4: global word frequency, chart top-20.
    "word_freq_top20" -> ((s, dir) => TextOps.wordFreq(docs(s, dir), 20)),
    // A7/T2: the reference's full top-200 result table (app.py:169).
    "word_freq_top200" -> ((s, dir) => TextOps.wordFreq(docs(s, dir), 200)),
    // P1-P5,P7,F3,F4: the clean_text projection (app.py:46-57).
    "clean_text" -> ((s, dir) => CorpusOps.cleanTexts(docs(s, dir).orderBy("doc_id"))),
    // P8+F2: derived word count, empty docs dropped (app.py:115,117).
    "word_count" -> ((s, dir) => CorpusOps.wordCounts(docs(s, dir).orderBy("doc_id"))),
    // F1+T4: keyword OR predicate + lang filter (app.py:83-89).
    "keyword_filter" -> ((s, dir) => CorpusOps.keywordFilter(docs(s, dir)).orderBy("doc_id")),
    // Text-quality scoring (north-star corpus filtering).
    "doc_stats" -> ((s, dir) => CorpusOps.docStats(docs(s, dir).orderBy("doc_id"))),
    // Corpus stats per language (exact bigint sums).
    "lang_dist" -> ((s, dir) => CorpusOps.langDist(docs(s, dir)).orderBy("lang")),
    // Document fingerprinting (md5 of cleaned text).
    "doc_fingerprint" -> ((s, dir) => CorpusOps.fingerprints(docs(s, dir).orderBy("doc_id"))),
    // Exact dedup: deterministic survivor + dup count per fingerprint.
    "dedup_exact" -> ((s, dir) => CorpusOps.dedupExact(docs(s, dir)).orderBy("keep_id")),
    // A2+A3: per-doc term frequency ⋈ per-term document frequency — the
    // relational spine of TF-IDF (app.py:156-157).
    "term_doc_freq" -> ((s, dir) =>
      TfIdfOps.termDocFreq(docs(s, dir).orderBy("doc_id")).orderBy("doc_id", "term"))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "word_freq_top20" -> TextOps.wordFreqSql(20),
    "word_freq_top200" -> TextOps.wordFreqSql(200),
    "clean_text" -> CorpusOps.cleanTextsSql,
    "word_count" -> CorpusOps.wordCountsSql,
    "keyword_filter" -> CorpusOps.keywordFilterSql,
    "doc_stats" -> CorpusOps.docStatsSql,
    "lang_dist" -> CorpusOps.langDistSql,
    "doc_fingerprint" -> CorpusOps.fingerprintsSql,
    "dedup_exact" -> CorpusOps.dedupExactSql,
    "term_doc_freq" -> TfIdfOps.termDocFreqSql
  )
}
