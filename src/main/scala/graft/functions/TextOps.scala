package graft.functions

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, ExpressionBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-cleaning + corpus-statistics pipeline, rebuilt Spark-first.
  *
  * Semantics mirror the reference's `clean_text` + frequency analytics
  * (app.py:46-57, 168-169): lowercase, URL strip, @mention strip,
  * non-alpha strip, whitespace tokenize, NLTK-stopword + len>2 token
  * filter, re-join, and global word frequency top-K.
  *
  * Everything is a codegen'd Catalyst expression (no UDFs), so each query's
  * chain fuses into one WholeStageCodegen stage and the scan prunes to
  * `text`. The per-row text work is byte kernels, each one `StaticInvoke`
  * (see [[kernel]]): [[cleanRaw]] (the clean chain) and [[termCountsRaw]]
  * (term_doc_freq's per-document tf, built on [[cleanRaw]]) read raw `text`
  * through one copy lowered in its ASCII bytes, [[lowerRaw]], and so does
  * keyword_filter's `CorpusOps.keywordHitRaw`. That copy is exact for them
  * because only two non-ASCII code points lower to anything ASCII (see
  * [[lowerRaw]]). [[statsLowered]] (doc_stats' counts) reads Spark's own
  * `lower(text)`: its distinct counts and token lengths depend on the case
  * mapping of every letter, not only of the ASCII ones.
  * Everything else is composed from `org.apache.spark.sql.functions`
  * built-ins. The reference's lemmatizer (app.py:54) is not built.
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

  /** P1–P4 as the reference's three sequential passes (app.py:48-50):
    * lowercase, then URL strip, then mention strip, then non-alpha strip.
    * The same chain as [[normalizeSqlExpr]] and as the [[cleanRaw]]
    * kernel; the engine's queries use the kernel, not this. */
  def normalize(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(lower(c),
      UrlRe, ""), MentionRe, ""), NonAlphaRe, "")

  /** DuckDB's `lower` of column `text` as Spark's `lower` computes it, for
    * every oracle lowercase. Spark and Python lower `İ` (U+0130) to `i` plus
    * U+0307, DuckDB 1.0 to a bare `i`, which would let [[MentionRe]] eat the
    * `istanbul` of `@İstanbul` (the engine and the reference keep `stanbul`).
    * Not covered: DuckDB lowers a word-final `Σ` to `σ`, Spark and Python to
    * `ς`, so doc_stats' `n_distinct` of `ΟΔΟΣ οδοσ word` is 3 in the engine
    * and 2 in the oracle. */
  val lowerSql: String = "lower(replace(text, chr(304), 'i' || chr(775)))"

  /** SQL twin of [[normalize]] over column `text`: the same three
    * sequential passes. The engine computes this chain with the
    * [[cleanRaw]] kernel, not with these regexes, so the DuckDB hash
    * compare checks the kernel against an independent implementation. */
  val normalizeSqlExpr: String =
    s"regexp_replace(regexp_replace(regexp_replace($lowerSql, " +
      s"'$UrlRe', '', 'g'), '$MentionRe', '', 'g'), '$NonAlphaRe', '', 'g')"

  /** P5: whitespace tokenize with Python-`str.split()` parity — Spark's
    * split can emit empty tokens at string boundaries; drop them. */
  def tokenize(c: Column): Column =
    array_remove(split(c, WsRe), "")

  /** F3+F4: NLTK stopword filter and len>2 filter (app.py:56). */
  def keepToken(t: Column): Column =
    length(t) > 2 && !t.isin(NltkStopwords: _*)

  /** SQL twin of [[keepToken]] for the token named `w`. */
  def keepTokenSql(w: String): String =
    s"length($w) > 2 AND $w NOT IN ($stopwordsSqlList)"

  /** SQL twin of [[cleanTokens]] over column `text`: [[normalizeSqlExpr]],
    * the whitespace split and [[keepTokenSql]]. Every clean-chain oracle
    * query is built from this, as its engine query is from [[cleanTokens]]. */
  val cleanTokensSqlExpr: String =
    s"list_filter(string_split_regex($normalizeSqlExpr, '$WsRe'), w -> ${keepTokenSql("w")})"

  /** Full cleaned token array of a raw-text column. NULL in, NULL out. */
  def cleanTokens(c: Column): Column =
    kernel(this, "cleanRaw", ArrayType(StringType, containsNull = false), c)

  /** Each document's term frequencies: one `(term, tf)` struct per distinct
    * [[cleanTokens]] token of a raw-text column. NULL in, NULL out. */
  def termCounts(c: Column): Column = kernel(this, "termCountsRaw", ArrayType(
    StructType.fromDDL("term STRING NOT NULL, tf BIGINT NOT NULL"), containsNull = false), c)

  /** doc_stats' token counts of a raw-text column, over Spark's `lower(c)`.
    * NULL in, NULL out. */
  def tokenStats(c: Column): Column = kernel(this, "statsLowered",
    StructType.fromDDL("n_tokens INT, n_distinct INT, n_stop INT, sum_len INT"), lower(c))

  /** The byte kernel `name` of object `obj` over `arg`, as one codegen'd
    * `StaticInvoke`: no UDF, no Java-string round trip. A kernel named
    * `…Raw` takes raw text and reads it through [[lowerRaw]], which lowers
    * only what ASCII logic can see, in one pass with no Java string; one
    * named `…Lowered` takes `lower(text)`. */
  private[graft] def kernel(obj: AnyRef, name: String, dataType: DataType, arg: Column): Column =
    ExpressionBridge.column(StaticInvoke(obj.getClass, dataType, name,
      Seq(ExpressionBridge.expression(arg)), returnNullable = false))

  private val Stopwords = new java.util.HashSet[UTF8String]()
  NltkStopwords.foreach(w => Stopwords.add(UTF8String.fromString(w)))

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'

  private def isWord(b: Byte): Boolean = // ASCII \w, as in Java and RE2
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  /** The lowercase of raw UTF-8 text in every ASCII byte: `A`-`Z` lowered,
    * the Kelvin sign U+212A (`E2 84 AA`) to `k`, `İ` U+0130 (`C4 B0`) to `i`
    * plus U+0307 (`i CC 87`), and every other byte as it is.
    *
    * These two are the only code points of U+0080 and up whose lowercase
    * holds an ASCII character, with ICU case mapping on or off (a test
    * lowers every one of them). Every other one lowers to non-ASCII code
    * points only, which are never whitespace, `[a-z]` or `\w`, and no ASCII
    * byte occurs inside a multi-byte sequence. So ASCII-only logic reads
    * this array exactly as it would read Spark's `lower(text)`.
    */
  private[graft] def lowerRaw(text: UTF8String): Array[Byte] = {
    val in = text.getBytes
    val n = in.length
    // A fresh array, never `in`: getBytes can return the string's own
    // buffer, and cleanRaw writes into the result.
    var out = new Array[Byte](n)
    var i = 0
    var o = 0
    while (i < n) {
      val b = in(i)
      if (b == 0xE2.toByte && i + 2 < n && in(i + 1) == 0x84.toByte && in(i + 2) == 0xAA.toByte) {
        out(o) = 'k'
        i += 3
        o += 1
      } else if (b == 0xC4.toByte && i + 1 < n && in(i + 1) == 0xB0.toByte) {
        // Grow at most once, at the first İ: each 2-byte İ lowers to 3
        // bytes, so the result never needs more than n + n/2. Growing by one
        // per İ would copy the array once per İ, quadratic in their number.
        if (out.length == n) out = java.util.Arrays.copyOf(out, n + n / 2 + 1)
        out(o) = 'i'
        out(o + 1) = 0xCC.toByte
        out(o + 2) = 0x87.toByte
        i += 2
        o += 3
      } else {
        out(o) = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
        i += 1
        o += 1
      }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  /** End of the token at `from`: its first whitespace index, or `in.length`. */
  private def tokenEnd(in: Array[Byte], from: Int): Int = {
    var i = from
    while (i < in.length && !isWs(in(i))) i += 1
    i
  }

  /** Start of the first [[UrlRe]] match in the lowered token
    * `in(from until end)`, or `end`: `http` or `www` and one more byte
    * (`https` implies `http`). */
  private def urlStart(in: Array[Byte], from: Int, end: Int): Int = {
    var p = from
    while (p < end && !(
        p + 4 < end && in(p) == 'h' && in(p + 1) == 't' && in(p + 2) == 't' && in(p + 3) == 'p' ||
        p + 3 < end && in(p) == 'w' && in(p + 1) == 'w' && in(p + 2) == 'w')) p += 1
    p
  }

  /** The clean chain on raw text, read through [[lowerRaw]]. The result is
    * exactly `filter(split(p, WsRe), keepToken)`, where `p` is the text
    * after the lowercase and the three regex passes of [[normalize]].
    *
    * No pass deletes whitespace and a [[UrlRe]] match runs to the end of its
    * token, so each whitespace token cleans on its own: cut it at its first
    * URL, then skip each [[MentionRe]] match before the cut (`@abhttp://x`
    * cleans to "", not "x"), keep its `[a-z]` letters, and keep the result
    * if it is longer than 2 and not a stopword. Bytes are exact here: every
    * pattern literal and class member is ASCII.
    */
  def cleanRaw(text: UTF8String): GenericArrayData = {
    val in = lowerRaw(text)
    // in(start until w) holds the current token's letters, written behind
    // the scan (w <= r); a kept token is a view of them (fromBytes does not
    // copy), so the next one starts after.
    val out = ArrayBuffer.empty[Any]
    var start = 0
    var from = 0
    while (from < in.length) {
      val end = tokenEnd(in, from)
      val cut = urlStart(in, from, end)
      var w = start
      var r = from
      while (r < cut) {
        val b = in(r)
        r += 1
        if (b == '@') while (r < cut && isWord(in(r))) r += 1 // a MentionRe match, or a lone '@'
        else if (b >= 'a' && b <= 'z') {
          in(w) = b
          w += 1
        }
      }
      if (w - start > 2) {
        val token = UTF8String.fromBytes(in, start, w - start)
        if (!Stopwords.contains(token)) {
          out += token
          start = w
        }
      }
      from = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Byte order of [[UTF8String]]s. Not `compareTo`, which reads the
    * environment on every call and throws when Spark's testing flag is set. */
  private val ByBytes: java.util.Comparator[AnyRef] =
    (a, b) => a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])

  /** The distinct [[cleanRaw]] tokens of raw text, each with its count: the
    * tokens sorted by bytes, then counted run by run. */
  def termCountsRaw(text: UTF8String): ArrayData = {
    val terms = cleanRaw(text).array.asInstanceOf[Array[AnyRef]]
    java.util.Arrays.sort(terms, ByBytes)
    val out = ArrayBuffer.empty[Any]
    var i = 0
    while (i < terms.length) {
      var j = i + 1
      while (j < terms.length && terms(j) == terms(i)) j += 1
      out += new GenericInternalRow(Array[Any](terms(i), (j - i).toLong))
      i = j
    }
    new GenericArrayData(out.toArray)
  }

  /** doc_stats' counts over the whitespace tokens of already-lowered text:
    * tokens, distinct tokens, stopword tokens, and the sum of the token
    * lengths in characters (code points, as `length` counts them). */
  def statsLowered(lowered: UTF8String): InternalRow = {
    val in = lowered.getBytes
    val distinct = new java.util.HashSet[UTF8String]()
    var nTokens = 0
    var nStop = 0
    var sumLen = 0
    var from = 0
    while (from < in.length) {
      val end = tokenEnd(in, from)
      if (end > from) {
        val token = UTF8String.fromBytes(in, from, end - from)
        nTokens += 1
        distinct.add(token)
        if (Stopwords.contains(token)) nStop += 1
        sumLen += token.numChars
      }
      from = end + 1
    }
    new GenericInternalRow(Array[Any](nTokens, distinct.size, nStop, sumLen))
  }

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

  /** DuckDB oracle twin of [[wordFreq]]. */
  def wordFreqSql(k: Int): String =
    s"""SELECT word, COUNT(*) AS cnt FROM (
       |  SELECT unnest($cleanTokensSqlExpr) AS word FROM documents)
       |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT $k""".stripMargin

  /** SQL twin of [[cleanText]] as a scalar expression over column `text`.
    * NULL only for NULL `text`: DuckDB 1.0's `array_to_string([], ' ')` is
    * NULL, where the reference's `" ".join([])` and [[cleanText]] give "". */
  val cleanTextSqlExpr: String =
    s"CASE WHEN text IS NULL THEN NULL ELSE " +
      s"coalesce(array_to_string($cleanTokensSqlExpr, ' '), '') END"
}
