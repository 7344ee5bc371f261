package graft.functions

import java.util.regex.{Matcher, Pattern}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A row's word statistics in one scan of its text: `graft_word_stats`.
  *
  * Each output field stands for one Spark formula and equals it on every
  * input, nulls included:
  *
  *  - [[WordStats.Count]] — `regexp_count(lowered, '\b(w₁|…|wₙ)\b')`, or
  *    with `(?U)` in front when `unicode`;
  *  - [[WordStats.Rlike]] — `lowered rlike 'l₁|…|lₙ'`;
  *  - [[WordStats.Contains]] — `contains(text, literal)`;
  *  - `words`, always last — `CASE WHEN length(trim(text)) = 0 THEN 0
  *    ELSE size(split(trim(text), '\s+')) END`.
  *
  * `lowered` is whatever string the counts and the rlike flags read: Spark's
  * own `lower(text)` for the warehouse enrichment, the text itself for the
  * case-sensitive battery counts (q22, q24).
  *
  * Why the counts are exact. Every list word is letters or digits, and the
  * compiled `\b` of the list's mode must call all of the mode's list
  * characters word characters, or all of them not (checked at
  * construction). Then `\b` never holds between two list characters, so
  * every regex match is a maximal run of list characters, and a run is a
  * match exactly when its text is a list word and `\b` holds at both of its
  * ends. The scan finds the runs with a char loop and one hash probe per
  * run, and asks the compiled `\b` itself (same flags, a region at the
  * run's end with transparent bounds, so it sees the whole string as the
  * regex does) only at the ends of a run that is a list word. The kernel
  * encodes no boundary rule of its own. That matters because the rule
  * differs between JDKs: on OpenJDK 17.0.20 the default `\b` calls every
  * letter a word character, so `\b(élevé)\b` matches "élevé" and
  * `\b(tr)\b` does not match the "tr" of "trés", although `\w` there is
  * ASCII-only; from JDK 19 on, the default `\b` follows `\w` (JDK-8264160)
  * and both answers flip. Where a JDK splits a mode's list characters,
  * construction fails loudly.
  *
  * The rlike and contains fields are literal-substring tests
  * (`String.indexOf` on the decoded `lowered`, `UTF8String.contains` on the
  * raw text, as `rlike` and `contains` do), literals being letters or
  * digits so the alternation has no other meaning. `words` counts the runs
  * of `\s` (`[ \t\n\x0B\f\r]`, single bytes in UTF-8) in Spark's own
  * `trim(text)`: `split` with limit −1 returns one more piece than there are
  * runs. A null text gives what `size` gives for a null array.
  */
object WordStats {

  sealed trait Field { def name: String }
  final case class Count(name: String, words: Seq[String], unicode: Boolean) extends Field
  final case class Rlike(name: String, literals: Seq[String]) extends Field
  final case class Contains(name: String, literal: String) extends Field

  /** The name of the `\s`-run word count, the struct's last field. */
  val Words = "words"

  /** `graft_word_stats(text, lowered, fields…)`, a struct with one field
    * per entry of `fields` (by its name) and then `words`. */
  def column(text: Column, lowered: Column, fields: Seq[Field]): Column =
    call_function("graft_word_stats",
      Seq(text, lowered) ++ fields.flatMap(sqlArgs).map(lit): _*)

  /** SQL form: each field is two string literals, a `kind:name` tag and
    * the pattern it mirrors (`count:fr`, `le|la|les`; `ucount:pos`, …;
    * `rlike:fees`, `frais|prix`; `contains:ar0`, `بنك`). */
  private def sqlArgs(f: Field): Seq[String] = f match {
    case Count(n, ws, u) => Seq(s"${if (u) "ucount" else "count"}:$n", ws.mkString("|"))
    case Rlike(n, ls) => Seq(s"rlike:$n", ls.mkString("|"))
    case Contains(n, l) => Seq(s"contains:$n", l)
  }

  /** The registered builder: parses the literal field arguments. */
  def build(args: Seq[Expression]): Expression = {
    require(args.size >= 2 && args.size % 2 == 0,
      "graft_word_stats(text, lowered, [tag, pattern]…) takes the tag/pattern literals in pairs")
    def str(e: Expression): String = e match {
      case Literal(v: UTF8String, _: StringType) => v.toString
      case _ => throw new IllegalArgumentException(
        s"graft_word_stats: field arguments must be string literals, got ${e.sql}")
    }
    val fields = args.drop(2).grouped(2).map { p =>
      val (tag, body) = (str(p(0)), str(p(1)))
      tag.split(":", 2) match {
        case Array("count", n) => Count(n, body.split('|').toSeq, unicode = false)
        case Array("ucount", n) => Count(n, body.split('|').toSeq, unicode = true)
        case Array("rlike", n) => Rlike(n, body.split('|').toSeq)
        case Array("contains", n) => Contains(n, body)
        case _ => throw new IllegalArgumentException(s"graft_word_stats: unknown field tag '$tag'")
      }
    }.toSeq
    WordStatsExpr(args(0), args(1), fields, SQLConf.get.legacySizeOfNull)
  }

  private[functions] def requireWord(what: String, w: String): Unit =
    require(w.nonEmpty && w.forall(Character.isLetterOrDigit),
      s"graft_word_stats: $what '$w' must be non-empty letters or digits")

  /** Java's `\s`, `[ \t\n\x0B\f\r]`: single bytes in UTF-8 that no
    * multi-byte character contains. */
  private[functions] def ws(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** `regexp_replace(s, '\s+', ' ')` on the UTF-8 bytes: every maximal
    * `\s` run becomes one space. A string with nothing to replace comes back
    * as the same object. */
  def collapseWhitespace(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    var clean = true
    while (clean && i < n) {
      val b = s.getByte(i)
      clean = !ws(b) || (b == ' ' && (i + 1 == n || !ws(s.getByte(i + 1))))
      i += 1
    }
    if (clean) s
    else {
      val out = new java.io.ByteArrayOutputStream(n)
      var inRun = false
      i = 0
      while (i < n) {
        val b = s.getByte(i)
        if (!ws(b)) out.write(b)
        else if (!inRun) out.write(' ')
        inRun = ws(b)
        i += 1
      }
      UTF8String.fromBytes(out.toByteArray)
    }
  }
}

/** `graft_word_stats(text, lowered, …)`: see [[WordStats]]. Never null
  * itself; each field is null exactly where the formula it mirrors is. */
case class WordStatsExpr(
    text: Expression, lowered: Expression, fields: Seq[WordStats.Field],
    legacySizeOfNull: Boolean) extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = lowered
  override def prettyName: String = "graft_word_stats"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, lowered.dataType) match {
    case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires two string arguments")
  }

  override def dataType: DataType = StructType(fields.map {
    case f: WordStats.Count => StructField(f.name, IntegerType, lowered.nullable)
    case f: WordStats.Rlike => StructField(f.name, BooleanType, lowered.nullable)
    case f: WordStats.Contains => StructField(f.name, BooleanType, text.nullable)
  } :+ StructField(WordStats.Words, IntegerType, text.nullable && !legacySizeOfNull))

  @transient private lazy val kernel = new WordStatsKernel(fields, legacySizeOfNull)

  override def eval(input: InternalRow): Any = kernel.newScanner().scan(
    text.eval(input).asInstanceOf[UTF8String], lowered.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val l = lowered.genCode(ctx)
    val k = ctx.addReferenceObj("wordStats", kernel, classOf[WordStatsKernel].getName)
    val scanner = ctx.addMutableState(classOf[WordStatsScanner].getName, "wordScanner",
      v => s"$v = $k.newScanner();")
    ev.copy(code = code"""
      |${t.code}
      |${l.code}
      |InternalRow ${ev.value} = $scanner.scan(
      |  ${t.isNull} ? null : ${t.value}, ${l.isNull} ? null : ${l.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(text = l, lowered = r)
}

/** `graft_collapse_ws(s)` ≡ `regexp_replace(s, '\s+', ' ')`, as
  * [[WordStats.collapseWhitespace]] on the bytes: `\s` is ASCII-only and a
  * UTF-8 multi-byte sequence holds no ASCII byte, so the bytes outside the
  * runs are the regex's output re-encoded (for valid UTF-8, as Spark's
  * strings are). */
case class CollapseWhitespace(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_collapse_ws"

  override def nullSafeEval(a: Any): Any = WordStats.collapseWhitespace(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordStats.collapseWhitespace($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One boundary mode's lists: its alphabet, its word table and its `\b`. */
private[functions] final class WordStatsMode(
    val unicode: Boolean, lists: Seq[(WordStats.Count, Int)]) extends Serializable {
  val bound: Pattern = Pattern.compile(if (unicode) "(?U)\\b" else "\\b")
  /** The output slot of each list bit. */
  val slots: Array[Int] = lists.map(_._2).toArray
  require(slots.length <= 64, "graft_word_stats: at most 64 lists per boundary mode")

  private val words: Map[String, Long] = lists.zipWithIndex
    .flatMap { case ((c, _), bit) => c.words.map(_ -> (1L << bit)) }
    .groupMapReduce(_._1)(_._2)(_ | _)
  words.keys.foreach(WordStats.requireWord("list word", _))
  require(lists.forall(_._1.words.nonEmpty), "graft_word_stats: a word list is empty")

  /** Bitmap of the characters any list word holds. */
  val alphabet: Array[Long] = new Array[Long](1024)
  private val chars = words.keys.flatMap(_.toSeq).toSet
  chars.foreach(c => alphabet(c >>> 6) |= 1L << c)
  def has(c: Char): Boolean = ((alphabet(c >>> 6) >>> c) & 1L) != 0L
  // The compiled \b at the start of a one-char string holds iff the
  // engine calls that char a word character.
  private val wordChars = chars.groupBy(c => bound.matcher(c.toString).lookingAt())
  require(wordChars.size <= 1,
    s"graft_word_stats: this JDK's ${if (unicode) "(?U)" else "default"} \\b calls " +
      s"${wordChars.getOrElse(true, Set.empty).mkString} word characters but not " +
      s"${wordChars.getOrElse(false, Set.empty).mkString}; run boundaries would differ")

  val maxLen: Int = words.keys.map(_.length).max
  // Open addressing on String.hashCode, which the scan computes inline.
  private val cap = Integer.highestOneBit(math.max(words.size * 4, 16))
  val keys: Array[String] = new Array[String](cap)
  val masks: Array[Long] = new Array[Long](cap)
  words.foreach { case (w, m) =>
    var i = slot(w.hashCode)
    while (keys(i) != null) i = (i + 1) & (cap - 1)
    keys(i) = w; masks(i) = m
  }
  def slot(h: Int): Int = (h ^ (h >>> 16)) & (cap - 1)
}

/** The compiled fields; shared by every scanner of one expression. */
final class WordStatsKernel(fields: Seq[WordStats.Field], legacySizeOfNull: Boolean)
    extends Serializable {
  val width: Int = fields.size + 1
  require((fields.map(_.name) :+ WordStats.Words).distinct.size == width,
    s"graft_word_stats: field names must be distinct and not '${WordStats.Words}'")
  val modes: Array[WordStatsMode] = fields.zipWithIndex
    .collect { case (c: WordStats.Count, i) => (c, i) }
    .groupBy(_._1.unicode).toArray.sortBy(_._1)
    .map { case (u, ls) => new WordStatsMode(u, ls) }
  val rlikes: Array[(Int, Array[String])] = fields.zipWithIndex.collect {
    case (WordStats.Rlike(_, ls), i) =>
      ls.foreach(WordStats.requireWord("rlike literal", _)); (i, ls.toArray)
  }.toArray
  val contains: Array[(Int, UTF8String)] = fields.zipWithIndex.collect {
    case (WordStats.Contains(_, l), i) =>
      WordStats.requireWord("contains literal", l); (i, UTF8String.fromString(l))
  }.toArray
  /** `size` of a null array: −1 under the legacy flag, else null. */
  val nullWords: Any = if (legacySizeOfNull) -1 else null

  def newScanner(): WordStatsScanner = new WordStatsScanner(this)
}

/** Per-thread state (the `\b` matchers); one per generated class or eval. */
final class WordStatsScanner(k: WordStatsKernel) {
  private val matchers: Array[Matcher] = k.modes.map { m =>
    m.bound.matcher("").useTransparentBounds(true)
  }
  private val hits = new Array[Int](64)

  def scan(text: UTF8String, lowered: UTF8String): InternalRow = {
    val out = new Array[Any](k.width)
    if (lowered != null) {
      val s = lowered.toString
      var m = 0
      while (m < k.modes.length) { count(k.modes(m), matchers(m), s, out); m += 1 }
      var r = 0
      while (r < k.rlikes.length) {
        val (slot, ls) = k.rlikes(r)
        var hit = false
        var i = 0
        while (!hit && i < ls.length) { hit = s.indexOf(ls(i)) >= 0; i += 1 }
        out(slot) = hit
        r += 1
      }
    }
    if (text != null) {
      var c = 0
      while (c < k.contains.length) {
        val (slot, l) = k.contains(c)
        out(slot) = text.contains(l)
        c += 1
      }
      out(k.width - 1) = words(text.trim())
    } else out(k.width - 1) = k.nullWords
    new GenericInternalRow(out)
  }

  private def count(mode: WordStatsMode, bound: Matcher, s: String, out: Array[Any]): Unit = {
    java.util.Arrays.fill(hits, 0, mode.slots.length, 0)
    bound.reset(s)
    val n = s.length
    var i = 0
    while (i < n) {
      if (!mode.has(s.charAt(i))) i += 1
      else {
        val start = i
        var h = 0
        while (i < n && mode.has(s.charAt(i))) {
          h = 31 * h + s.charAt(i)
          i += 1
        }
        val len = i - start
        if (len <= mode.maxLen) {
          var p = mode.slot(h)
          var key = mode.keys(p)
          while (key != null &&
              !(key.length == len && key.hashCode == h && s.regionMatches(start, key, 0, len))) {
            p = (p + 1) & (mode.keys.length - 1)
            key = mode.keys(p)
          }
          if (key != null && holds(bound, start, n) && holds(bound, i, n)) {
            var bits = mode.masks(p)
            while (bits != 0L) {
              hits(java.lang.Long.numberOfTrailingZeros(bits)) += 1
              bits &= bits - 1
            }
          }
        }
      }
    }
    var b = 0
    while (b < mode.slots.length) { out(mode.slots(b)) = hits(b); b += 1 }
  }

  private def holds(bound: Matcher, at: Int, n: Int): Boolean = {
    bound.region(at, n)
    bound.lookingAt()
  }

  /** Pieces of `split(trimmed, '\s+')`, or 0 when `trimmed` is empty. */
  private def words(trimmed: UTF8String): Int = {
    val n = trimmed.numBytes
    if (n == 0) 0
    else {
      var runs = 0
      var inRun = false
      var i = 0
      while (i < n) {
        val ws = WordStats.ws(trimmed.getByte(i))
        if (ws && !inRun) runs += 1
        inRun = ws
        i += 1
      }
      runs + 1
    }
  }
}
