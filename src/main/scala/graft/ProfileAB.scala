package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Interleaved A/B measurement harness (guide §1): the plain Profile runs
  * showed the sandbox's CPU steal produces 30-40% swings even between two
  * runs of the IDENTICAL plan, so sequential per-variant timing cannot
  * resolve <2x differences. This harness round-robins all variants N times
  * (default 7) and reports min + median per variant, so every variant
  * samples the same noise distribution. Same replicated-corpus setup as
  * graft.Profile; not part of the declared query surface.
  */
object ProfileAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rep = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REP", "100").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ROUNDS", "7").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = raw
      .withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("doc_id", col("doc_id") * rep + col("rep"))
      .drop("rep")
      .repartition(cpus.toInt * 2)

    val text = col("text")
    // the r21-r22 fused clean patterns: the pre-r21 3-branch form and the
    // 2-branch form without the dead https branch (the engine now runs the
    // TextOps.cleanLowered kernel instead of either)
    val CleanRe3 =
      s"${TextOps.UrlRe}|${TextOps.MentionRe}|${TextOps.NonAlphaRe}"
    val UrlRe2 = s"http[^${TextOps.WsClass}]+|www[^${TextOps.WsClass}]+"
    val CleanRe2 = s"$UrlRe2|${TextOps.MentionRe}|${TextOps.NonAlphaRe}"

    // the pre-r21 single-Project doc_stats shape (CorpusOps.docStats is now
    // the two-level projection; this is the rejected-then-overturned baseline)
    def docStatsSingle(d: DataFrame): DataFrame = {
      val toks = TextOps.tokenize(lower(text))
      val nTok = size(toks)
      val nStop = size(filter(toks,
        (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
      val sumLen = length(regexp_replace(lower(text), TextOps.WsRe, ""))
      d.select(col("doc_id"), length(text).as("n_chars"), nTok.as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        when(nTok > 0, round(sumLen.cast("double") / nTok, 4)).otherwise(0.0).as("avg_token_len"),
        when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0).as("stop_ratio"),
        when(nTok > 0, round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0).as("quality_score"))
    }

    // the pre-r22 two-level doc_stats shape (r21 baseline: toks/sum_len
    // staged, but n_stop still expanded twice in the upper Project)
    def docStatsTwoLevel(d: DataFrame): DataFrame = {
      val lt = lower(text)
      val base = d.select(
        col("doc_id"),
        length(text).as("n_chars"),
        TextOps.tokenize(lt).as("toks"),
        length(regexp_replace(lt, TextOps.WsRe, "")).as("sum_len"))
      val nTok = size(col("toks"))
      val nStop = size(filter(col("toks"),
        (t: Column) => t.isin(TextOps.NltkStopwords: _*)))
      base.select(
        col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        when(nTok > 0, round(col("sum_len").cast("double") / nTok, 4)).otherwise(0.0)
          .as("avg_token_len"),
        when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0)
          .as("stop_ratio"),
        when(nTok > 0,
          round(least(lit(1.0), nTok.cast("double") / 50.0) *
            (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0)
          .as("quality_score"))
    }
    // r22 SHIPPED shape (CorpusOps.docStats): n_stop/n_tokens/n_distinct
    // staged in a middle Project so the interpreted INSET filter runs ONCE
    // per row instead of once per consuming expression (ADVICE r21: n_stop
    // is referenced by both stop_ratio and quality_score). docStatsStaged
    // below rebuilds the same shape with a pluggable tokenizer for the
    // (rejected) trim+split candidate.
    def docStatsStaged(d: DataFrame, toksOf: Column => Column): DataFrame = {
      val lt = lower(text)
      val base = d.select(
        col("doc_id"),
        length(text).as("n_chars"),
        toksOf(lt).as("toks"),
        length(regexp_replace(lt, TextOps.WsRe, "")).as("sum_len"))
      val mid = base.select(
        col("doc_id"), col("n_chars"), col("sum_len"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        size(filter(col("toks"),
          (t: Column) => t.isin(TextOps.NltkStopwords: _*))).as("n_stop"))
      val nTok = col("n_tokens")
      val nStop = col("n_stop")
      mid.select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
        when(nTok > 0, round(col("sum_len").cast("double") / nTok, 4)).otherwise(0.0)
          .as("avg_token_len"),
        when(nTok > 0, round(nStop.cast("double") / nTok, 4)).otherwise(0.0)
          .as("stop_ratio"),
        when(nTok > 0,
          round(least(lit(1.0), nTok.cast("double") / 50.0) *
            (lit(1.0) - nStop.cast("double") / nTok), 4)).otherwise(0.0)
          .as("quality_score"))
    }
    // codegen'd tokenize: regex-trim boundary whitespace then split — no
    // interpreted HOF empty-filter; whitespace-only/empty text special-cased
    // (split("") yields [""], not []).
    def tokenizeTrimSplit(lt: Column): Column = {
      val trimmed = regexp_replace(lt, s"^[${TextOps.WsClass}]+|[${TextOps.WsClass}]+$$", "")
      when(trimmed === "", typedlit(Seq.empty[String]))
        .otherwise(split(trimmed, TextOps.WsRe))
    }
    // the pre-r22 window formulation of term_doc_freq (TfIdfOps.termDocFreq
    // is now the broadcast-join-back shape; this is the r21 baseline)
    def termDocFreqWindow(d: DataFrame): DataFrame = {
      val tf = d.select(col("doc_id"),
          explode(TextOps.cleanTokens(text)).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("term")))
        .select("doc_id", "term", "tf", "df")
    }

    // optional comma-separated substring filter, e.g. SPARK_GRAFT_PROFILE_ONLY=doc_stats
    val only = sys.env.get("SPARK_GRAFT_PROFILE_ONLY").map(_.split(",").toSeq)
    val allVariants: Seq[(String, DataFrame)] = Seq(
      "normalize_fused3" -> docs.select(regexp_replace(lower(text), CleanRe3, "").as("t")),
      "normalize_nohttps" -> docs.select(regexp_replace(lower(text), CleanRe2, "").as("t")),
      "clean_text_fused3" -> docs.select(array_join(
        filter(split(regexp_replace(lower(text), CleanRe3, ""), TextOps.WsRe),
          (t: Column) => TextOps.keepToken(t)), " ").as("t")),
      "clean_text_nohttps" -> docs.select(array_join(
        filter(split(regexp_replace(lower(text), CleanRe2, ""), TextOps.WsRe),
          (t: Column) => TextOps.keepToken(t)), " ").as("t")),
      "doc_stats_single" -> docStatsSingle(docs),
      "doc_stats_two_level" -> docStatsTwoLevel(docs),
      // token pipeline: tok_a/tok_b are the three-pass regex prefixes,
      // tok_c the cleanLowered kernel, which does not extend them
      "tok_a_normalize" -> docs.select(TextOps.normalize(text).as("t")),
      "tok_b_split" -> docs.select(split(TextOps.normalize(text), TextOps.WsRe).as("t")),
      "tok_c_filter" -> docs.select(TextOps.cleanTokens(text).as("t")),
      // normalize-regex micro-variants (all must be result-identical):
      "norm_lower_only" -> docs.select(lower(text).as("t")),
      "norm_fused2" -> docs.select(regexp_replace(lower(text), CleanRe2, "").as("t")),
      // non-alpha class quantified to consume runs in ONE match; '@' is
      // excluded from the class (else a greedy run could swallow the '@'
      // a following mention needs, e.g. "1@abc") and handled by a lone-@
      // fallback branch, preserving branch priority exactly
      "norm_runs" -> docs.select(regexp_replace(lower(text),
        s"$UrlRe2|${TextOps.MentionRe}|[^a-z${TextOps.WsClass}@]+|@", "").as("t")),
      // http|www grouped into one alternative
      "norm_grouped" -> docs.select(regexp_replace(lower(text),
        s"(?:http|www)[^${TextOps.WsClass}]+|${TextOps.MentionRe}|${TextOps.NonAlphaRe}", "").as("t")),
      // r22: doc_stats staging variants (must be result-identical)
      "ds_nstop_staged" -> graft.operators.CorpusOps.docStats(docs),
      "ds_staged_trimsplit" -> docStatsStaged(docs, tokenizeTrimSplit),
      // r22: term_doc_freq window (r21) vs broadcast-join-back (shipped)
      "tdf_window" -> termDocFreqWindow(docs),
      "tdf_bcast" -> graft.operators.TfIdfOps.termDocFreq(docs),
      // r22: the same pair on a corpus with a manufactured hot term ("zzz
      // skewterm" appended to EVERY doc — passes the len>2/stopword filter),
      // so one term's tf rows number rep x 5000. The natural corpus has no
      // hot term (stopwords filtered), so only this pair can show the
      // window's unsplittable per-term sort partition vs the join shape
      // AQE can split (guide §2.5: skew handling applies to joins only).
      "tdf_skew_window" -> termDocFreqWindow(
        docs.withColumn("text", concat(col("text"), lit(" skewterm")))),
      "tdf_skew_bcast" -> graft.operators.TfIdfOps.termDocFreq(
        docs.withColumn("text", concat(col("text"), lit(" skewterm"))))
    )
    val variants = only.fold(allVariants)(fs =>
      allVariants.filter { case (n, _) => fs.exists(n.contains) })

    // optional plan dump per variant: =1 initial plan, =2 final
    // post-execution AQE plan (shows ReusedExchange / stage reuse)
    sys.env.get("SPARK_GRAFT_PROFILE_EXPLAIN") match {
      case Some("1") => variants.foreach { case (n, df) =>
        println(s"==== plan: $n ====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      case Some("2") => variants.foreach { case (n, df) =>
        // collect (not noop-write) so THIS QueryExecution is the one AQE
        // finalizes — the final plan shows ReusedExchange / stage reuse
        df.collect()
        println(s"==== executed plan: $n ====")
        println(df.queryExecution.executedPlan.toString)
      }
      case _ =>
    }

    // one untimed pass per variant to absorb codegen/JIT
    variants.foreach { case (n, df) =>
      spark.sparkContext.setJobDescription(s"warm:$n")
      df.write.format("noop").mode("overwrite").save()
    }
    // GC time accumulated during a variant's runs (local mode: executor
    // threads share this JVM, so this captures task-side GC pressure too).
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    val gc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for (r <- 1 to rounds; (n, df) <- variants) {
      spark.sparkContext.setJobDescription(s"ab:$n round$r")
      val g0 = gcMillis
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
      gc(n) = gc(n) + (gcMillis - g0)
    }
    variants.foreach { case (n, _) =>
      val ts = times(n).sorted
      // true median: average the two middle elements for even round counts
      val med = if (ts.size % 2 == 1) ts(ts.size / 2)
                else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
      println(f"[ab] $n%-22s min ${ts.head}%6.3f  med $med%6.3f  gc ${gc(n)}%5d ms  (${times(n).map(t => f"$t%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}
