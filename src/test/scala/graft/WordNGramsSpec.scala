package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The word_ngrams Generator must be a drop-in for the HOF chain it
  * replaced in the shingle pipelines — differential-tested against
  * that exact expression on the real fixture plus adversarial
  * strings, and plan-locked to codegen'd GenerateExec.
  */
class WordNGramsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session
  import spark.implicits._

  private val hof =
    "transform(sequence(0, size(split(t, ' '))-3), " +
      "i -> concat_ws(' ', split(t, ' ')[i], split(t, ' ')[i+1], split(t, ' ')[i+2]))"

  test("word_ngrams(text,3) ≡ the split/sequence/transform/explode chain, multiset-exact") {
    val docs = graft.io.Tables.t(spark, SparkSpec.sfDir, "documents")
      .select($"doc_id", $"text".as("t"))
    // differential domain = docs with >= 3 tokens: below that the HOF
    // chain is PARTIAL under ANSI (w[i+1] out-of-bounds raises); the
    // generator's total degenerate semantics are pinned separately
    val edge = Seq(
      (9104L, "a b c"), (9105L, "a  b c "), (9106L, " lead in"),
      (9107L, "exactly three words here now")).toDF("doc_id", "t")
    val all = docs.unionByName(edge)
    val viaGen = all.select($"doc_id",
        graft.functions.TextFunctions.wordNGrams($"t", 3).as("sh"))
      .groupBy($"doc_id", $"sh").count()
    val viaHof = all.select($"doc_id", explode(expr(hof)).as("sh"))
      .groupBy($"doc_id", $"sh").count()
    // multiset equality both directions (counts ride along)
    assert(viaGen.except(viaHof).isEmpty && viaHof.except(viaGen).isEmpty,
      "generator output diverged from the HOF chain")
    assert(viaGen.count() > 0)
  }

  test("degenerate <n-word docs are total: all-words gram, (n-m+1) copies") {
    // the HOF chain errors here under ANSI (out-of-bounds w[i+1]) and
    // emits these duplicated all-words grams non-ANSI; the generator
    // is total and pins the non-ANSI multiset
    val out = Seq((1L, "solo"), (2L, "two words"), (3L, ""))
      .toDF("doc_id", "t")
      .select($"doc_id",
        graft.functions.TextFunctions.wordNGrams($"t", 3).as("sh"))
      .as[(Long, String)].collect().groupBy(_._1)
    assert(out(1L).toSeq.map(_._2) == Seq("solo", "solo", "solo"))
    assert(out(2L).toSeq.map(_._2) == Seq("two words", "two words"))
    assert(out(3L).toSeq.map(_._2) == Seq("", "", ""))
  }

  test("SQL registration: word_ngrams is callable as a table generator") {
    val rows = spark.sql(
      "SELECT word_ngrams('a b c d', 2) AS g").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a b", "b c", "c d"))
  }

  test("property: generator multiset == scala reference for random texts, n in 1..5") {
    import org.apache.spark.unsafe.types.UTF8String
    // scala reference: the documented semantics, written independently
    def ref(text: String, n: Int): Seq[String] = {
      val w = text.split(" ", -1)
      if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toSeq
      else Seq.fill(n - w.length + 1)(w.mkString(" "))
    }
    val rnd = new scala.util.Random(3)
    val alphabet = "ab ,.x  y"
    val texts = (0 until 200).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ " " :+ "  " :+ "a b c d e"
    for (t <- texts; n <- 1 to 5) {
      val arr = graft.functions.WordNGramsUtil.terms(UTF8String.fromString(t), n)
      val got = (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
      assert(got == ref(t, n), s"text='$t' n=$n got=$got want=${ref(t, n)}")
    }
  }

  test("interpreted eval path agrees with the codegen helper") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // eval() drives generator rows off the same helper the generated
    // Java calls — assert the row shape AND values once, directly
    val g = graft.functions.WordNGrams(Literal.create("p q r s", StringType), 3)
    val rows = g.eval(InternalRow.empty).iterator.toSeq
    assert(rows.map(_.getUTF8String(0).toString) == Seq("p q r", "q r s"))
    val nullChild = graft.functions.WordNGrams(
      Literal.create(null, StringType), 3)
    assert(nullChild.eval(InternalRow.empty).iterator.isEmpty,
      "null text must generate zero rows")
  }

  test("GenerateExec parity: interpreted path (codegen off) == codegen path") {
    val docs = graft.io.Tables.t(spark, SparkSpec.sfDir, "documents")
      .limit(50).select($"doc_id", $"text")
    def run(): Array[(Long, String)] = docs
      .select($"doc_id", graft.functions.TextFunctions.wordNGrams($"text", 3).as("sh"))
      .as[(Long, String)].collect().sorted
    val withCodegen = run()
    val interpreted = graft.config.Sessions.withConf(spark,
      "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(withCodegen.sameElements(interpreted),
      "interpreted GenerateExec diverged from the codegen path")
    assert(withCodegen.nonEmpty)
  }

  test("plan lock: one Generate node, inside whole-stage codegen, no CodegenFallback") {
    val df = graft.io.Tables.t(spark, SparkSpec.sfDir, "documents")
      .select(graft.functions.TextFunctions.wordNGrams($"text", 3).as("sh"))
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("Generate word_ngrams"), planStr.take(800))
    // the Generate row carries the codegen star (whole-stage span), and
    // the generator participates natively (supportCodegen = true)
    assert("\\*\\(\\d+\\) Generate word_ngrams".r.findFirstIn(planStr).isDefined,
      s"Generate not in a WholeStageCodegen span:\n${planStr.take(800)}")
    assert(df.count() > 0)
  }
}
