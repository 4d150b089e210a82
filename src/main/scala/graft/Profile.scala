package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Measurement harness (guide §1): times candidate expression variants on a
  * REPLICATED corpus (default 100x ~= 150 MB of text) so per-row compute —
  * not session/codegen warmup — dominates. Replication happens inside the
  * timed pipeline's scan (explode of a constant range), so nothing is cached.
  * Not part of the declared query surface.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rep = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REP", "100").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    // replicate rep x and repartition so all cores work
    val docs = raw
      .withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("doc_id", col("doc_id") * rep + col("rep"))
      .drop("rep")
      .repartition(cpus.toInt * 2)

    def time(name: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(name)
      val built = df
      // one untimed run to absorb codegen+JIT, then two timed runs
      built.write.format("noop").mode("overwrite").save()
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        built.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name%-36s ${ts.min}%8.3f s (runs: ${ts.map(t => f"$t%.3f").mkString(", ")})")
    }

    val text = col("text")
    val CleanReNoHttps = s"${"http[^" + TextOps.WsClass + "]+|www[^" + TextOps.WsClass + "]+"}|${TextOps.MentionRe}|${TextOps.NonAlphaRe}"

    time("scan_only")(docs.select("doc_id", "text"))
    time("normalize_no_https_branch")(docs.select(regexp_replace(lower(text), CleanReNoHttps, "").as("t")))
    time("normalize_seq3")(docs.select(
      regexp_replace(regexp_replace(regexp_replace(lower(text),
        TextOps.UrlRe, ""), TextOps.MentionRe, ""), TextOps.NonAlphaRe, "").as("t")))
    time("split_only")(docs.select(split(TextOps.normalize(text), TextOps.WsRe).as("t")))
    time("clean_tokens_kernel")(docs.select(TextOps.cleanTokens(text).as("t")))
    time("clean_tokens_1hof")(docs.select(
      filter(split(TextOps.normalize(text), TextOps.WsRe),
        (t: Column) => length(t) > 2 && !t.isin(TextOps.NltkStopwords: _*)).as("t")))
    time("clean_text_current")(docs.select(TextOps.cleanText(text).as("t")))
    time("clean_text_1hof")(docs.select(array_join(
      filter(split(TextOps.normalize(text), TextOps.WsRe),
        (t: Column) => length(t) > 2 && !t.isin(TextOps.NltkStopwords: _*)), " ").as("t")))
    time("explode_hof_then_generate")(docs.select(explode(TextOps.cleanTokens(text)).as("word")))
    time("explode_then_codegen_filter")(docs
      .select(col("doc_id"), explode(split(TextOps.normalize(text), TextOps.WsRe)).as("word"))
      .where(length(col("word")) > 2 && !col("word").isin(TextOps.NltkStopwords: _*)))
    time("word_count_current")(docs.select(col("doc_id"), TextOps.wordCount(text).as("wc")).filter(col("wc") > 0))
    time("word_count_1hof")(docs.select(col("doc_id"),
      size(filter(split(TextOps.normalize(text), TextOps.WsRe),
        (t: Column) => length(t) > 2 && !t.isin(TextOps.NltkStopwords: _*))).as("wc")).filter(col("wc") > 0))
    // word_count with a Generate barrier: filters on generated attributes
    // are not pushed below the Generate, so the clean chain runs ONCE.
    time("word_count_explode_barrier")(docs
      .select(col("doc_id"), explode(array(
        size(filter(split(TextOps.normalize(text), TextOps.WsRe),
          (t: Column) => length(t) > 2 && !t.isin(TextOps.NltkStopwords: _*))))).as("word_count"))
      .filter(col("word_count") > 0))
    time("doc_stats_current")(graft.operators.CorpusOps.docStats(docs))
    // sum_len via one regex delete of whitespace instead of HOF aggregate+transform
    time("doc_stats_sumlen_regex") {
      val toks = TextOps.tokenize(lower(text))
      val nTok = size(toks)
      val nStop = size(filter(toks, (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
      val sumLen = length(regexp_replace(lower(text), TextOps.WsRe, ""))
      docs.select(
        col("doc_id"), length(text).as("n_chars"), nTok.as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        when(nTok > 0, round(sumLen.cast("double") / nTok, 4)).otherwise(0.0).as("avg_token_len"),
        when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0).as("stop_ratio"),
        when(nTok > 0, round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0).as("quality_score"))
    }
    // doc_stats with toks materialized once in a lower projection —
    // CollapseProject does not inline a non-cheap alias referenced many
    // times, so the HOF chain runs once per row even if per-Project CSE
    // does not cover CodegenFallback subtrees.
    time("doc_stats_two_level") {
      val lt = lower(text)
      val base = docs.select(col("doc_id"), length(text).as("n_chars"),
        TextOps.tokenize(lt).as("toks"),
        length(regexp_replace(lt, TextOps.WsRe, "")).as("sum_len"))
      val nTok = size(col("toks"))
      val nStop = size(filter(col("toks"),
        (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
      base.select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        when(nTok > 0, round(col("sum_len").cast("double") / nTok, 4)).otherwise(0.0).as("avg_token_len"),
        when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0).as("stop_ratio"),
        when(nTok > 0, round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0).as("quality_score"))
    }
    time("keyword_filter_current")(graft.operators.CorpusOps.keywordFilter(docs))
    // lower(text) computed once via a Generate barrier; the lang predicate
    // still pushes below the Generate into the scan, the Contains chain
    // (on the generated attribute) stays above and sees one lowered copy.
    time("keyword_filter_lower_once")(docs
      .select(col("doc_id"), col("lang"), explode(array(lower(text))).as("lt"))
      .where(col("lang") === "en" &&
        graft.operators.CorpusOps.Keywords.map(col("lt").contains(_)).reduce(_ || _))
      .select(col("doc_id"), col("lang")))
    time("md5_of_clean")(docs.select(md5(TextOps.cleanText(text).cast("binary")).as("fp")))
    time("dedup_full_current")(graft.operators.CorpusOps.dedupExact(docs))
    time("word_freq200_current")(TextOps.wordFreq(docs, 200))
    time("term_doc_freq_current")(graft.operators.TfIdfOps.termDocFreq(docs))
    // single-scan variant: df derived from tf (tf rows are distinct
    // (doc_id, term) pairs, so count-per-term == countDistinct(doc_id))
    time("term_doc_freq_single_scan") {
      val tf = docs
        .select(col("doc_id"), explode(
          filter(split(TextOps.normalize(text), TextOps.WsRe),
            (t: Column) => length(t) > 2 && !t.isin(TextOps.NltkStopwords: _*))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "term").select("doc_id", "term", "tf", "df")
    }
    spark.stop()
  }
}
