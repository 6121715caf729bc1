package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{ChecksumExpr, ChecksumKernels}
import graft.model.Reasons
import graft.validate.Validators

/** The native codegen expressions must agree with the faithful (throwing)
  * validators on every input in the supported domain (ASCII without the
  * sign-prefix quirk — divergence documented in ChecksumKernels).
  */
class ChecksumExprSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private def luhnRef(s: String): Int = Validators.luhnOutcome(s) match {
    case Left(_) => ChecksumKernels.Abort
    case Right(b) => if (b) ChecksumKernels.Valid else ChecksumKernels.Invalid
  }
  private def abnRef(s: String): Int = Validators.abnOutcome(s) match {
    case Left(_) => ChecksumKernels.Abort
    case Right(b) => if (b) ChecksumKernels.Valid else ChecksumKernels.Invalid
  }
  private def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  private val asciiNoSign: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.numChar, 2 -> Gen.alphaChar,
    1 -> Gen.oneOf(' ', '.', '#', 'x'))).map(_.mkString)

  test("kernel == reference validators (Luhn), incl. empty-string quirk") {
    check(Prop.forAll(asciiNoSign)(s => ChecksumKernels.luhnCode(u(s)) == luhnRef(s)))
    assert(ChecksumKernels.luhnCode(u("")) == ChecksumKernels.Valid)
  }

  test("kernel == reference validators (ABN) on the supported domain") {
    check(Prop.forAll(asciiNoSign)(s => ChecksumKernels.abnCode(u(s)) == abnRef(s)))
    val elevens = Gen.listOfN(11, Gen.numChar).map(_.mkString)
    check(Prop.forAll(elevens)(s => ChecksumKernels.abnCode(u(s)) == abnRef(s)))
  }

  test("expressions run inside whole-stage codegen via DataFrame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("4242424242424242", "4242424242424243", "", "xx",
      "51824753556", "123456").toDF("v")
    val out = df.select(ChecksumExpr.luhn_check($"v").as("l"),
      ChecksumExpr.abn_check($"v").as("a"))
    val rows = out.collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows(0) == (0, 1)) // valid Luhn; ABN guard: 16 digits, len != 11 -> Invalid
    // codegen check needs a non-foldable source (literals constant-fold
    // into LocalTableScan) — use a parquet scan
    val scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(ChecksumExpr.luhn_check(col("text")).as("l"))
    val plan = scan.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Project [luhn_check"), plan)
    assert(!plan.contains("ScalaUDF"))
    assert(scan.count() > 0)
    // SQL resolution goes through GraftExtensions (ExtensionsSpec)
  }

  test("null propagates as null (UnaryExpression null-intolerance)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("123")).toDF("v")
    val out = df.select(ChecksumExpr.luhn_check($"v")).collect()
    assert(out(0).isNullAt(0) && !out(1).isNullAt(0))
  }
}
