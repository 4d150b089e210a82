package graft

import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
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
    * plans as one split (`toRdd.getNumPartitions <= 1`: the scan is planned,
    * no job runs) comes back as `coalesce(1)`, which reports a single
    * partition: then every edge sort and aggregate is satisfied as it is,
    * and no query plans a shuffle or a range-sampling re-scan. The rule
    * cannot take scan parallelism away: it fires only where the scan is one
    * task already, and Spark splits a file of more than about
    * `max(spark.sql.files.openCostInBytes, bytes / cores)` into several.
    * Column pruning and filter pushdown pass through the coalesce;
    * [[TfIdfOps.onePartition]] tells the two layouts apart.
    *
    * The frame is kept per `(session, dir)`: a session lists the table,
    * checks its columns ([[requireColumns]]) and decides its layout once.
    * After that first read, new files or new `spark.sql.files.*` settings
    * need a new session or a new directory, as Spark's catalog tables need
    * `REFRESH TABLE`. A read that throws keeps nothing: a missing table
    * fails on every call. */
  def documents(s: SparkSession, dir: String): DataFrame = reads.synchronized {
    reads.filterInPlace { case ((session, _), _) => !session.sparkContext.isStopped }
    reads.getOrElseUpdate((s, dir), {
      val d = s.read.schema(DocumentsSchema).parquet(s"$dir/documents.parquet")
      requireColumns(d)
      if (d.queryExecution.toRdd.getNumPartitions <= 1) d.coalesce(1) else d
    })
  }

  /** [[documents]]' frames; a stopped session's go on the next call. */
  private val reads = mutable.Map[(SparkSession, String), DataFrame]()

  /** Throws unless the first file of the read `d` holds every column of
    * [[DocumentsSchema]], by name and case-insensitively, as Spark resolves
    * them: Spark's reader fills a requested column that a file lacks with
    * NULLs, so a table without `text` would run every query to a wrong
    * result. It reads that file's parquet footer on the driver, from the
    * read's own file listing: no job. The other files of a table with
    * several files stay unchecked. */
  private def requireColumns(d: DataFrame): Unit = d.inputFiles.headOption.foreach { f =>
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(new URI(f)), d.sparkSession.sparkContext.hadoopConfiguration))
    val names = try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
      finally reader.close()
    val missing = DocumentsSchema.fieldNames.filterNot(c => names.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, s"$f lacks the documents column(s): ${missing.mkString(", ")}")
  }

  private case class Query(name: String, plan: DataFrame => DataFrame, sql: String,
      keys: Seq[String] = Nil) {
    /** [[plan]] over `d`, sorted by [[keys]] as [[table]]'s edge rule says
      * for `d`'s layout. */
    def sorted(d: DataFrame): DataFrame = keys.map(col) match {
      case Seq() => plan(d)
      case k if TfIdfOps.onePartition(d) => plan(d).sortWithinPartitions(k: _*)
      case k if keys.head != "doc_id" => plan(d).orderBy(k: _*)
      case Seq(id) => plan(d.orderBy(id))
      case k => plan(d.orderBy(k.head)).orderBy(k: _*)
    }
    def sortedSql: String = if (keys.isEmpty) sql else s"$sql ORDER BY ${keys.mkString(", ")}"
  }

  /** One row per operator from SURVEY.md §2: its name, its plan over
    * `documents` as [[documents]] reads it, its DuckDB twin and the keys
    * both are sorted by.
    *
    * Operators in `graft.operators`/`graft.functions` return UNSORTED
    * DataFrames, and their SQL twins unsorted rows (no library operator
    * embeds a global sort — a full range-partition of the corpus would be a
    * 100 TB scale-killer). Each row's keys give the deterministic order that
    * the driver's row-by-row hash compare needs, to its plan and to its twin
    * (`ORDER BY`) alike, at the verification edge only; top-K word
    * frequency has no keys: it orders and limits inside the operator, on
    * both sides.
    *
    * On several splits the sort follows from the keys. A global sort is a
    * range-partition exchange, and range sampling runs its child twice. A
    * query keyed by `doc_id`, the `documents` key, sorts its input by it:
    * only the scan runs under the exchange, plus keyword_filter's filter,
    * pushed below it (it ships `(doc_id, lang)`). Project, Generate and
    * Filter keep that order, so a projection's kernel runs once, above it.
    * With more keys (term_doc_freq) it sorts its output too: tf and df share
    * the one `(doc_id, text)` exchange, which AQE reuses, and the output sort
    * runs over rows already in `doc_id` order. Any other keyed query
    * aggregates and sorts its smaller output. Two simpler rules lost. An
    * input and an output sort for every `doc_id` query: `EliminateSorts`
    * drops the inner one through a Project, so clean_text's kernel runs
    * under the exchange, twice. An unsorted `repartitionByRange` of the
    * input plus an output sort: term_doc_freq's task CPU went from 3.592 s
    * to 3.906 s (lower in 8 of 30 rounds; 8-file ×10 seed-7 `corpus_agg`).
    *
    * On one split [[documents]] returns one partition, and every query
    * sorts its output in place, not its input: a plan of one-child operators
    * keeps that partition, so `sortWithinPartitions` is a global order, and
    * the five queries that do not aggregate plan without AQE. term_doc_freq
    * counts df over a window in the task ([[TfIdfOps.termDocFreq]]). No
    * query has an exchange. The results, and their order, are the same on
    * both.
    */
  private val table: Seq[Query] = Seq(
    // A7/T2/T3 + P1-P5,P7,F3,F4: global word frequency, chart top-20.
    Query("word_freq_top20", TextOps.wordFreq(_, 20), TextOps.wordFreqSql(20)),
    // A7/T2: the reference's full top-200 result table (app.py:169).
    Query("word_freq_top200", TextOps.wordFreq(_, 200), TextOps.wordFreqSql(200)),
    // P1-P5,P7,F3,F4: the clean_text projection (app.py:46-57).
    Query("clean_text", CorpusOps.cleanTexts, CorpusOps.cleanTextsSql, Seq("doc_id")),
    // P8+F2: derived word count, empty docs dropped (app.py:115,117).
    Query("word_count", CorpusOps.wordCounts, CorpusOps.wordCountsSql, Seq("doc_id")),
    // F1+T4: keyword OR predicate + lang filter (app.py:83-89).
    Query("keyword_filter", CorpusOps.keywordFilter, CorpusOps.keywordFilterSql, Seq("doc_id")),
    // Text-quality scoring (north-star corpus filtering).
    Query("doc_stats", CorpusOps.docStats, CorpusOps.docStatsSql, Seq("doc_id")),
    // Corpus stats per language (exact bigint sums).
    Query("lang_dist", CorpusOps.langDist, CorpusOps.langDistSql, Seq("lang")),
    // Document fingerprinting (md5 of cleaned text).
    Query("doc_fingerprint", CorpusOps.fingerprints, CorpusOps.fingerprintsSql, Seq("doc_id")),
    // Exact dedup: deterministic survivor + dup count per fingerprint.
    Query("dedup_exact", CorpusOps.dedupExact, CorpusOps.dedupExactSql, Seq("keep_id")),
    // A2+A3: per-doc term frequency ⋈ per-term document frequency — the
    // relational spine of TF-IDF (app.py:156-157).
    Query("term_doc_freq", TfIdfOps.termDocFreq, TfIdfOps.termDocFreqSql, Seq("doc_id", "term"))
  )

  /** Each query's plan over `documents` as [[documents]] reads it from `dir`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(q => q.name -> ((s: SparkSession, dir: String) => q.sorted(documents(s, dir)))).toMap

  /** Each query's DuckDB twin, run on the same parquet tables. */
  def oracleSql: Map[String, String] = table.map(q => q.name -> q.sortedSql).toMap
}
