package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** The production integration point for the engine's native Catalyst
  * expressions: a consuming job sets
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (spark-submit conf, no code changes) and every graft function resolves
  * in SQL — `SELECT cosine_sim(a, b)`, `minhash_sig(shingles, 64)`, … —
  * in ANY session built over that config, including Thrift/Connect
  * servers. It is the one SQL registration path: the expression objects
  * offer DataFrame column builders only.
  * Size/seed parameters (numHashes, planes) arrive as integer LITERALS —
  * they shape the generated code, so a non-literal is rejected at
  * analysis time rather than silently interpreted.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal (it shapes codegen), got: $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, arity: Int,
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        es => {
          if (es.length != arity) throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${es.length}")
          builder(es)
        }))
    // vector kernels
    inject("dot_f64", 2, es => DotProduct(es(0), es(1)))
    inject("cosine_sim", 2, es => CosineSim(es(0), es(1)))
    inject("argmax_dot", 2, es => ArgmaxDotExpr(es(0), es(1)))
    // checksum validators
    inject("luhn_check", 1, es => LuhnCheck(es.head))
    inject("abn_check", 1, es => AbnCheck(es.head))
    // sketches (static size params as literals)
    inject("minhash_sig", 2, es => MinHashSig(es(0), intLit(es(1), "numHashes")))
    inject("simhash64", 1, es => SimHash64(es.head))
    inject("splitmix64", 1, es => SplitMix64(es.head))
    inject("hyperplane_code", 2, es => HyperplaneCode(es(0), intLit(es(1), "planes")))
  }
}
