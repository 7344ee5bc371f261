package graft.functions

import graft.SparkSpec
import graft.domain.{FullLexiconScorer, Nlp}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Randomized interpreted-eval ↔ codegen parity for every custom
  * Catalyst expression: the same inputs go through (a) a DataFrame
  * select, which executes the `doGenCode` path inside whole-stage
  * codegen, and (b) `Expression.eval` on literals, the interpreted
  * path. Any drift between the two implementations of one expression —
  * the r8 LSH null-semantics advisory was exactly such a divergence —
  * fails here mechanically instead of waiting for a reviewer. Seeded,
  * deterministic; inputs include empty arrays, nulls, negatives, and
  * non-finite doubles.
  */
class ExprParityFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(77)

  private def vec(n: Int): Seq[java.lang.Double] =
    Seq.fill(n)(rnd.nextInt(10) match {
      case 0 => null
      case 1 => java.lang.Double.valueOf(0.0)
      case _ => java.lang.Double.valueOf(rnd.nextDouble() * 20 - 10)
    })

  private def lit(v: Seq[java.lang.Double]): Literal =
    Literal.create(
      new GenericArrayData(v.map(x => if (x == null) null else x.doubleValue())
        .toArray[Any]),
      ArrayType(DoubleType))

  test("graft_dot / graft_l2norm / graft_lsh: eval == codegen on random vectors") {
    val cases = (1 to 60).map(_ => vec(1 + rnd.nextInt(8))) :+
      Seq.empty[java.lang.Double]
    val df = cases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(col("id"),
        expr("graft_dot(v, v)").as("dot"),
        expr("graft_l2norm(v)").as("norm"),
        expr("graft_lsh(v, 8)").as("lsh"))
      .collect().sortBy(_.getLong(0))
    cases.zipWithIndex.foreach { case (v, i) =>
      val row = df(i)
      val viaEvalDot = DotProductD(lit(v), lit(v)).eval(null)
      val viaEvalNorm = L2NormD(lit(v)).eval(null)
      val viaEvalLsh = LshBits(lit(v), Literal(8)).eval(null)
      assert((if (row.isNullAt(1)) null else row.getDouble(1)) === viaEvalDot,
        s"dot drift on $v")
      assert((if (row.isNullAt(2)) null else row.getDouble(2)) === viaEvalNorm,
        s"norm drift on $v")
      assert((if (row.isNullAt(3)) null else row.getInt(3)) === viaEvalLsh,
        s"lsh drift on $v")
    }
  }

  test("graft_h60 / graft_simhash / graft_minhash: eval == codegen on random tokens") {
    val token = () => rnd.nextInt(8) match {
      case 0 => ""
      case _ => Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val cases = (1 to 50).map(_ => Seq.fill(rnd.nextInt(12))(token())) :+
      Seq.empty[String]
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t, t.mkString(" ")) }
      .toDF("id", "toks", "s")
      .select(col("id"),
        expr("graft_h60(s)").as("h"),
        expr("graft_simhash(toks)").as("sim"),
        expr("graft_minhash(toks, 2, 16)").as("mh"))
      .collect().sortBy(_.getLong(0))
    def tokArr(t: Seq[String]): ArrayData =
      new GenericArrayData(t.map(UTF8String.fromString).toArray[Any])
    cases.zipWithIndex.foreach { case (t, i) =>
      val row = df(i)
      val s = UTF8String.fromString(t.mkString(" "))
      assert(row.getLong(1) === H60Expr(Literal(s, StringType)).eval(null),
        s"h60 drift on '$s'")
      assert(row.getLong(2) ===
        SimhashExpr(Literal.create(tokArr(t), ArrayType(StringType))).eval(null),
        s"simhash drift on $t")
      val viaEval = MinhashExpr(
        Literal.create(tokArr(t), ArrayType(StringType)), Literal(2), Literal(16))
        .eval(null)
      if (viaEval == null)
        assert(row.isNullAt(3), s"minhash null-drift on $t (codegen non-null)")
      else
        assert(!row.isNullAt(3) && row.getSeq[Long](3) ===
          viaEval.asInstanceOf[ArrayData].toLongArray().toSeq,
          s"minhash drift on $t")
    }
  }

  test("graft_nfc: eval == codegen on adversarial unicode; idempotent; JDK reference") {
    val pieces = Seq("café", "café", "Ä́", "ascii", "",
      "東京", "x̖̀y", "ḍ̇", "ḍ̇", "ẛ̣",
      "a'b\"c\\d", "tab\tnl\n")
    val cases = (1 to 40).map { _ =>
      Seq.fill(1 + rnd.nextInt(4))(pieces(rnd.nextInt(pieces.size))).mkString(" ")
    } ++ pieces
    val df = cases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(col("id"), expr("graft_nfc(v)").as("n"),
        expr("graft_nfc(graft_nfc(v))").as("nn"))
      .collect().sortBy(_.getLong(0))
    cases.zipWithIndex.foreach { case (v, i) =>
      val row = df(i)
      val viaEval = NfcNormalize(Literal(UTF8String.fromString(v), StringType))
        .eval(null).asInstanceOf[UTF8String].toString
      assert(row.getString(1) === viaEval, s"nfc eval/codegen drift on '$v'")
      assert(row.getString(1) === row.getString(2), s"nfc not idempotent on '$v'")
      assert(row.getString(1) ===
        java.text.Normalizer.normalize(v, java.text.Normalizer.Form.NFC),
        s"nfc differs from JDK reference on '$v'")
    }
  }

  test("graft_nfc property fuzz: randomized combining-mark strings (both-table alphabet)") {
    // Bases and marks are all Unicode-1.x/2.0-era codepoints assigned in
    // BOTH the JDK's and utf8proc's tables (the TextUtil.nfc parity
    // boundary): Latin/Greek/Cyrillic bases with precomposed forms,
    // combining marks U+0300..U+0328, and conjoining Hangul jamo (LVT
    // composition — the other NFC algorithm arm, absent from the fixed
    // fixture list above). 300 random strings of 1-8 clusters, each
    // base + 0-3 marks; asserts eval==codegen, idempotence, and JDK
    // agreement — the reference implementation both engines claim.
    val bases = "aeiouncsz" + "αεηιουω" + "аеиоу" + "AEIOU"
    val marks = Seq(0x0300, 0x0301, 0x0302, 0x0303, 0x0304, 0x0306,
      0x0308, 0x030A, 0x030C, 0x0323, 0x0327, 0x0328).map(_.toChar)
    val jamoL = Seq(0x1100, 0x1102, 0x1109).map(_.toChar)
    val jamoV = Seq(0x1161, 0x1165, 0x1169).map(_.toChar)
    val jamoT = Seq(0x11A8, 0x11AB, 0x11BC).map(_.toChar)
    def cluster(): String =
      if (rnd.nextInt(5) == 0) {
        val t = if (rnd.nextBoolean()) jamoT(rnd.nextInt(3)).toString else ""
        s"${jamoL(rnd.nextInt(3))}${jamoV(rnd.nextInt(3))}$t"
      } else {
        val b = bases(rnd.nextInt(bases.length)).toString
        b + Seq.fill(rnd.nextInt(4))(marks(rnd.nextInt(marks.size))).mkString
      }
    val cases = (1 to 300).map(_ =>
      Seq.fill(1 + rnd.nextInt(8))(cluster()).mkString(" "))
    val df = cases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(col("id"), expr("graft_nfc(v)").as("n"),
        expr("graft_nfc(graft_nfc(v))").as("nn"))
      .collect().sortBy(_.getLong(0))
    var composedSome = false
    cases.zipWithIndex.foreach { case (v, i) =>
      val row = df(i)
      val viaEval = NfcNormalize(Literal(UTF8String.fromString(v), StringType))
        .eval(null).asInstanceOf[UTF8String].toString
      assert(row.getString(1) === viaEval, s"nfc eval/codegen drift on '$v'")
      assert(row.getString(1) === row.getString(2), s"nfc not idempotent on '$v'")
      assert(row.getString(1) ===
        java.text.Normalizer.normalize(v, java.text.Normalizer.Form.NFC),
        s"nfc differs from JDK reference on '$v'")
      if (row.getString(1).length < v.length) composedSome = true
    }
    assert(composedSome,
      "fuzz self-check: some string must actually compose (else the alphabet is vacuous)")
  }

  test("graft_word_stats / graft_collapse_ws: eval == codegen on the adversarial corpus") {
    val fields = Seq(
      WordStats.Count("fr", Nlp.frenchMarkers, unicode = false),
      WordStats.Count("neg", FullLexiconScorer.negative, unicode = true),
      WordStats.Rlike("fees", Seq("tarif", "file")),
      WordStats.Contains("ar", Nlp.arabicMarkers.head))
    val texts = WordStatsCorpus.texts(400, seed = 5)
    val rows = WordStatsCorpus.frame(spark, 400, seed = 5)
      .select(col("id"), WordStats.column(col("t"), lower(col("t")), fields).as("k"),
        call_function("graft_collapse_ws", col("t")).as("c"))
      .collect().sortBy(_.getInt(0))
    texts.zipWithIndex.foreach { case (v, i) =>
      val text = Literal.create(if (v == null) null else UTF8String.fromString(v), StringType)
      val stats = WordStatsExpr(text, Literal.create(Lower(text).eval(null), StringType), fields,
        SQLConf.get.legacySizeOfNull)
      assert(rows(i).getStruct(1) ===
        CatalystTypeConverters.convertToScala(stats.eval(null), stats.dataType),
        s"word stats drift on '$v'")
      assert(rows(i).getString(2) ===
        Option(CollapseWhitespace(text).eval(null)).map(_.toString).orNull,
        s"collapse drift on '$v'")
    }
  }
}
