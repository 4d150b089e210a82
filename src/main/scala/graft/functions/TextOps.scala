package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-cleaning + corpus-statistics pipeline, rebuilt Spark-first.
  *
  * Semantics mirror the reference's `clean_text` + frequency analytics
  * (/root/reference/app.py:46-57, 168-169): lowercase, URL strip,
  * @mention strip, non-alpha strip, whitespace tokenize, NLTK-stopword +
  * len>2 token filter, re-join, and global word frequency top-K.
  *
  * Everything here is composed from `org.apache.spark.sql.functions`
  * built-ins (codegen'd Catalyst expressions — no UDFs), so the whole
  * P1–P8 chain fuses into one WholeStageCodegen stage and the derived
  * columns push through the parquet scan with column pruning (only
  * `text` is read). The lemmatizer (app.py:54) is deliberately NOT part
  * of these oracle-checked paths: WordNet morphy is not SQL-expressible,
  * so its implementation lives outside this object and is golden-tested
  * instead of DuckDB-oracle-checked.
  */
object TextOps {

  /** NLTK English stopword list (public, nltk_data corpora/stopwords/english,
    * 179 entries). Referenced by app.py:53 (`stopwords.words('english')`).
    * Note the reference filters tokens AFTER the non-alpha strip, so the
    * contraction entries ("don't", lone "s"/"t", …) can never match a token;
    * we keep the full list anyway for fidelity — the oracle SQL embeds the
    * character-identical list.
    */
  val NltkStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't",
    "won", "won't", "wouldn", "wouldn't")

  /** The same list as a SQL `IN`-list literal, for oracle parity. */
  val stopwordsSqlList: String =
    NltkStopwords.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  /** The normalization regexes, shared verbatim between the Spark column
    * expressions and the DuckDB oracle SQL. We avoid the shorthand \s/\S
    * because Java's \s includes \x0B (vertical tab) while DuckDB RE2's does
    * not — the explicit class [ \t\n\f\r] is identical in both engines.
    * \w is ASCII [a-zA-Z0-9_] in both Java and RE2; this is a deliberate
    * ASCII deviation from the Python reference (app.py:47-50), whose \w/\s
    * are Unicode-aware. After lower(), [^a-z…] ≡ the reference's
    * [^a-zA-Z\s].
    */
  val WsClass = " \\t\\n\\f\\r" // body of the whitespace char class
  val UrlRe = s"http[^$WsClass]+|www[^$WsClass]+|https[^$WsClass]+"
  val MentionRe = "@\\w+"
  val NonAlphaRe = s"[^a-z$WsClass]"
  val WsRe = s"[$WsClass]+"

  /** [[UrlRe]] minus its `https[^\s]+` branch, which is DEAD: any position
    * where `https[^\s]+` can match starts with "http" followed by the
    * non-whitespace "s…", so the earlier `http[^\s]+` branch already matches
    * there, leftmost-first, with the same greedy span — the third branch can
    * never be reached. The engine's fused pattern uses this 2-branch form
    * (one less alternative tried at every non-matching scan position); the
    * oracle keeps the reference-verbatim 3-branch [[UrlRe]] (app.py:48), so
    * the dead-branch claim is itself checked by every DuckDB hash compare.
    * Pinned equal to the 3-branch form on https-heavy edge cases in
    * OptimizedOpsEquivalenceSpec. */
  val UrlReFused = s"http[^$WsClass]+|www[^$WsClass]+"

  /** P2–P4 fused into ONE alternation so the string is scanned once instead
    * of three times (the normalize chain dominates the fingerprint/dedup
    * family's cost — it runs per document on the full raw text). Branch
    * order preserves the sequential chain's priority at any given start
    * position (URL > mention > single non-alpha char); both Java regex and
    * DuckDB's RE2 are leftmost-first, so the two engines agree. Known
    * deviation from the reference's three sequential `re.sub` passes
    * (app.py:48-50): a mention glued to a URL ("@xhttp://y") is consumed
    * mention-first here, whereas the reference strips the URL in its own
    * earlier pass. Only adversarial inputs with no whitespace between a
    * mention and a URL differ. The oracle SQL does not share this pattern:
    * it runs the reference's three sequential passes ([[normalizeSqlExpr]]),
    * so such inputs show up as oracle mismatches.
    */
  val CleanRe = s"$UrlReFused|$MentionRe|$NonAlphaRe"

  /** P1–P4: lowercase, then fused URL/@mention/non-alpha strip. */
  def normalize(c: Column): Column =
    regexp_replace(lower(c), CleanRe, "")

  /** SQL twin of [[normalize]] over column `text`.
    *
    * Deliberately NOT the fused [[CleanRe]] pattern: the oracle side uses
    * the reference's sequential three-pass chain (app.py:48-50, URL strip
    * then mention strip then non-alpha strip) so that engine and oracle no
    * longer share one regex constant — a fused-pattern bug on the Spark
    * side is now detectable by the DuckDB hash compare. Fused and
    * sequential semantics only diverge on adversarial glued mention+URL
    * text (see [[CleanRe]]'s doc); verified identical on every row of
    * sf0.001/0.01/0.1 before the switch.
    */
  val normalizeSqlExpr: String =
    s"regexp_replace(regexp_replace(regexp_replace(lower(text), " +
      s"'$UrlRe', '', 'g'), '$MentionRe', '', 'g'), '$NonAlphaRe', '', 'g')"

  /** P5: whitespace tokenize with Python-`str.split()` parity — Spark's
    * split can emit empty tokens at string boundaries; drop them. */
  def tokenize(c: Column): Column =
    filter(split(c, WsRe), t => t =!= lit(""))

  /** F3+F4: NLTK stopword filter and len>2 filter (app.py:56). */
  def keepToken(t: Column): Column =
    length(t) > 2 && !t.isin(NltkStopwords: _*)

  /** Full cleaned token array for a raw-text column.
    *
    * Single higher-order filter: [[keepToken]]'s `length > 2` already
    * rejects the empty boundary tokens that [[tokenize]]'s own filter
    * exists to drop, so composing the two filters would materialize an
    * intermediate array and run a second interpreted lambda pass (HOFs are
    * CodegenFallback) for no semantic gain. Same result, one pass.
    */
  def cleanTokens(c: Column): Column =
    filter(split(normalize(c), WsRe), (t: Column) => keepToken(t))

  /** P7: the reference's clean_text output (sans lemmatizer — see class doc). */
  def cleanText(c: Column): Column = array_join(cleanTokens(c), " ")

  /** P8: derived word count of the cleaned text. */
  def wordCount(c: Column): Column = size(cleanTokens(c))

  /** A7/T2/T3: global word frequency, top-K with deterministic
    * (count DESC, word ASC) tie-break (SURVEY §2.5). Plans as
    * partial+final hash aggregate then TakeOrderedAndProject — no full
    * sort, no driver-side work beyond K rows. app.py:168-169.
    */
  def wordFreq(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(cleanTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)

  /** DuckDB oracle twin of [[wordFreq]]; regex + stopword list are the
    * same Scala constants to guarantee character-identical semantics. */
  def wordFreqSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex($normalizeSqlExpr,
       |    '$WsRe')) AS word
       |  FROM documents)
       |SELECT word, COUNT(*) AS cnt FROM toks
       |WHERE length(word) > 2 AND word NOT IN ($stopwordsSqlList)
       |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT $k""".stripMargin

  /** Shared SQL fragment: cleaned-token stream (doc_id, word). */
  val cleanToksSql: String =
    s"""SELECT doc_id, unnest(string_split_regex($normalizeSqlExpr,
       |    '$WsRe')) AS word
       |  FROM documents""".stripMargin

  /** SQL twin of [[cleanText]] as a scalar expression over column `text`
    * (DuckDB list lambda mirrors Spark's higher-order `filter`). NULL only
    * for NULL `text`: DuckDB 1.0's `array_to_string([], ' ')` is NULL, where
    * the reference's `" ".join([])` and [[cleanText]] give "". */
  val cleanTextSqlExpr: String =
    s"""CASE WHEN text IS NULL THEN NULL ELSE coalesce(array_to_string(
       |  list_filter(string_split_regex($normalizeSqlExpr, '$WsRe'),
       |  w -> length(w) > 2 AND w NOT IN ($stopwordsSqlList)), ' '), '') END""".stripMargin
}
