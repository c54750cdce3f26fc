package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions for the dedup/text-analysis hot paths.
  *
  * These are per-row scalar kernels: at 100 TB they are the inner loop of
  * shingling/fingerprinting every document, so they must stay in compiled
  * code (Spark's split/transform/aggregate higher-order pipeline is
  * CodegenFallback — interpreted per element) and must not force a shuffle
  * (the relational shingle construction needed a posexplode + per-doc
  * window + distinct; [[WordShingles]] produces the deduped shingle array
  * in a single map).
  *
  * Codegen strategy: one static call per row into compiled Scala — keeps the
  * surrounding operators inside whole-stage codegen while the string loop
  * runs as ordinary JIT'd bytecode.
  */
object TextKernels {

  /** Tokenize exactly like Spark's split(wsTrim(lower(text)), "\\s+"):
    * lower is locale-independent, the trim strips the regex-`\s` alphabet
    * (see [[graft.ops.TextAnalysis.WsChars]] — space \t \n VT \f \r, the
    * r15 lockstep fix for the trailing-empty-token defect), and split uses
    * limit -1 (Spark's default). After a `\s`-aware trim no trailing empty
    * can survive, so limit -1 and limit 0 agree; -1 is kept to stay
    * textually identical to the HOF reference forms. The ONE tokenizer
    * behind both [[wordShingles]] and [[simHash]], so the two kernels can
    * never drift apart.
    */
  def tokenize(text: UTF8String): Array[String] = {
    val lowered = text.toLowerCase.toString
    @inline def ws(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var from = 0
    var to = lowered.length
    while (from < to && ws(lowered.charAt(from))) from += 1
    while (to > from && ws(lowered.charAt(to - 1))) to -= 1
    lowered.substring(from, to).split("\\s+", -1)
  }

  /** Lowercase, `\s`-trim, split on whitespace runs, emit DISTINCT
    * space-joined word n-grams (first-occurrence order). Matches
    * array_distinct(ngrams(split(wsTrim(lower(text)), "\\s+"))) exactly —
    * wsTrim as in [[graft.ops.TextAnalysis.wsTrim]] (r15; a plain
    * space-only trim here would resurrect the phantom-""-token defect).
    */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    // reachable from SQL (graft_shingles) with any int literal: n <= 0
    // would walk past the words array — fail with the argument named, not
    // an executor-side ArrayIndexOutOfBoundsException
    if (n < 1) throw new IllegalArgumentException(s"shingle n must be >= 1, got $n")
    val words = tokenize(text)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** h = (h*31 + codepoint) mod 1e9+7 over the string's code points —
    * bit-identical to TextAnalysis.fingerprint's HOF form and to the DuckDB
    * oracle's list_reduce over string_split + ascii.
    */
  def polyHash(text: UTF8String): Long = polyHashStr(text.toString)

  def polyHashStr(s: String): Long = {
    var h = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Stopword / language-marker vocabularies — the single source of truth;
    * [[graft.ops.TextAnalysis]] re-exports them for the HOF spec forms.
    */
  val stopwords: Set[String] =
    Set("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
  val langMarkers: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "is", "a"),
    "es" -> Set("el", "la", "los", "que", "y"),
    "de" -> Set("der", "die", "das", "und", "ist"),
    "fr" -> Set("le", "la", "les", "et", "est"),
    "zh" -> Set("的", "是", "了", "在", "和"))

  /** One compiled pass over the document: char stats on the RAW text
    * (punct/char counts), then token stats on the tokenized form — exactly
    * the quantities the HOF forms compute with one interpreted array scan
    * per statistic. Ratios use the same double arithmetic as the HOF
    * divide, so values are bit-identical.
    */
  def textStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString
    var nChars = 0
    var punct = 0
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      nChars += 1
      if (cp == '.' || cp == '!' || cp == '?' || cp == ',' || cp == ';' || cp == ':')
        punct += 1
      i += Character.charCount(cp)
    }
    val words = tokenize(text)
    var sumLen = 0L
    var stop = 0
    val lang = new Array[Int](langMarkers.length)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      sumLen += word.codePointCount(0, word.length)
      if (stopwords.contains(word)) stop += 1
      var l = 0
      while (l < langMarkers.length) {
        if (langMarkers(l)._2.contains(word)) lang(l) += 1
        l += 1
      }
      w += 1
    }
    val n = words.length
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n.toLong,
      if (n > 0) sumLen.toDouble / n else 0.0,
      if (nChars > 0) punct.toDouble / nChars else 0.0,
      if (n > 0) stop.toDouble / n else 0.0,
      lang(0), lang(1), lang(2), lang(3), lang(4)))
  }

  /** One-pass SimHash signature: [[tokenize]], hash each word with
    * [[polyHashStr]], accumulate the per-bit +1/-1 votes in a single array,
    * and emit the sign bits. Bit-identical to the HOF reference form
    * `graft.ops.DedupRef.simhashHof` under src/test (32 interpreted
    * aggregate() passes), but one compiled pass per row — this is the
    * inner loop of signing every document at 100 TB.
    */
  def simHash(text: UTF8String, bits: Int): Long = {
    require(bits >= 1, s"simHash needs bits >= 1, got $bits") // SQL-reachable
    val words = tokenize(text)
    val acc = new Array[Long](bits)
    // The poly word hash lives in [0, P) ⊂ [0, 2^30), so signature bits
    // past 30 would vote constant -1 and freeze at 0 — fine at the
    // oracled 32-bit default (bits 30-31 are dead weight, consistent in
    // both engines), fatal for a WIDE signature whose whole point is more
    // blocking entropy. For bits > 32 the vote source widens to a 60-bit
    // hash: low 30 bits from h, high bits from the second-level mix
    // (h² mod P)·a+b mod P — the same portable remix HLL uses
    // (Sketches.hllDistinct), so the oracle SQL can reproduce it exactly.
    // bits <= 32 keeps the legacy path BIT-IDENTICAL (q18/q27/q132 parity).
    val wide = bits > 32
    require(bits <= 60, s"simHash supports at most 60 bits, got $bits")
    var i = 0
    while (i < words.length) {
      val h = polyHashStr(words(i))
      val h2 = if (wide) (h * h % 1000000007L * 2654435761L + 11L) % 1000000007L else 0L
      var j = 0
      while (j < bits) {
        val bit = if (j < 30) (h >> j) & 1L else if (wide) (h2 >> (j - 30)) & 1L else 0L
        acc(j) += bit * 2L - 1L
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (acc(j) > 0L) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** array<string> of distinct word n-gram shingles of `child`. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"WordShingles needs string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    TextKernels.wordShingles(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Portable polynomial hash of a string (mod 1e9+7). */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"PolyHash needs string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    TextKernels.polyHash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document text statistics computed in ONE pass (see
  * [[TextKernels.textStats]]): token count, mean word length, punctuation
  * ratio, stopword ratio, and per-language marker hit counts. The HOF
  * compositions in [[graft.ops.TextAnalysis]] re-scan the word array once
  * per statistic through interpreted CodegenFallback lambdas — at 100 TB
  * the profile of every document must be a single compiled pass.
  */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextStats.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"TextStats needs string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    TextKernels.textStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.textStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("lang_en", IntegerType, nullable = false),
    StructField("lang_es", IntegerType, nullable = false),
    StructField("lang_de", IntegerType, nullable = false),
    StructField("lang_fr", IntegerType, nullable = false),
    StructField("lang_zh", IntegerType, nullable = false)))
}

/** One-pass SimHash signature of `child` (see [[TextKernels.simHash]]). */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"SimHash needs string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    TextKernels.simHash(v.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simHash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextFunctions {
  private def expr(c: Column): Expression = GraftColumnBridge.toExpression(c)

  def wordShingles(text: Column, n: Int): Column =
    GraftColumnBridge.toColumn(WordShingles(expr(text), n))

  def polyHash(text: Column): Column =
    GraftColumnBridge.toColumn(PolyHash(expr(text)))

  def simHash(text: Column, bits: Int): Column =
    GraftColumnBridge.toColumn(SimHash(expr(text), bits))

  def textStats(text: Column): Column =
    GraftColumnBridge.toColumn(TextStats(expr(text)))
}
