package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.linkage.expr._

/** SparkSessionExtensions entry point — wire the engine's Catalyst
  * expressions into any session via config, no code changes:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * then `SELECT jaro_winkler(a, b)` etc. work from plain SQL. This is
  * the engine's one SQL-registration path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(l, r)"),
      (es: Seq[Expression]) => JaroWinkler(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("hamming_sim"),
      info("hamming_sim", "hamming_sim(l, r)"),
      (es: Seq[Expression]) => HammingSim(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("normalize_ascii"),
      info("normalize_ascii", "normalize_ascii(s)"),
      (es: Seq[Expression]) => NormalizeAscii(es.head)))
    ext.injectFunction((FunctionIdentifier("metaphone_sig"),
      info("metaphone_sig", "metaphone_sig(s)"),
      (es: Seq[Expression]) => MetaphoneExpr(es.head)))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(vec_a, vec_b)"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
  }
}
