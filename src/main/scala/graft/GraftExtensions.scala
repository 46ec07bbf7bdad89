package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Multiply, Sqrt, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.DoubleType
import graft.functions.expressions.{LongDotProduct, LshBucket}
import graft.plans.TopKStrategy

/** SQL-surface registration for graft's custom operators.
  *
  * Cluster use: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (the standard injection point), after which plain SQL can call the
  * vector kernels and the planner can execute [[graft.plans.TopKPerKeyNode]]
  * (the sort-free top-k-per-key physical operator that
  * [[graft.plans.TopK.topKPerKey]] inserts).
  * [[GraftExtensions.register]] installs the same surface on an
  * already-built session (local tools, tests).
  *
  * Functions:
  *  - `graft_dot(a, b)` — exact int64 dot product (codegen'd kernel)
  *  - `graft_sqnorm(v)` — Σ vᵢ² as int64
  *  - `graft_quantize(e)` — float embedding → ×1000 int64 fixed point
  *  - `graft_lsh_bucket(v)` — 8-hyperplane/256-bucket LSH bucket id
  *  - `graft_cosine(a, b)` — cosine from exact int64 dot/norms
  *
  * Builders return plain Catalyst trees (parsed templates with the
  * argument spliced in) — a Column-DSL round-trip would leave lazy
  * `ColumnNodeExpression` wrappers in the tree, which are Unevaluable
  * outside plan-attached analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[LongDotProduct].getName, name),
      builder)

  /** Parse a SQL formula and splice `args(i)` in for `__argi`. Inside
    * lambda bodies the parser wraps identifiers as
    * `UnresolvedNamedLambdaVariable` (the analyzer later demotes
    * unbound ones back to attributes), so match both shapes. */
  private def template(sql: String, args: Seq[Expression]): Expression =
    CatalystSqlParser.parseExpression(sql).transformUp {
      case a: UnresolvedAttribute if a.name.startsWith("__arg") =>
        args(a.name.stripPrefix("__arg").toInt)
      case v: UnresolvedNamedLambdaVariable
          if v.nameParts.lengthIs == 1 && v.nameParts.head.startsWith("__arg") =>
        args(v.nameParts.head.stripPrefix("__arg").toInt)
    }

  // Same formulas as graft.functions.Similarity.{quantize, lshBucket} —
  // identical arithmetic, verified equal in ExtensionsSpec.
  private val quantizeSql =
    "transform(__arg0, x -> cast(round(cast(x as double) * 1000, 0) as bigint))"

  // The D2/D4 pipeline verbs as SCALAR functions, so plain-SQL users
  // can build minhash-LSH / simhash dedup pipelines without the Scala
  // API: per document the shingle/token set lives in one array, so the
  // per-band minimum (resp. per-bit vote) is an array fold rather than
  // a row aggregation. Same arithmetic as Dedup.bandsDf / SimHash
  // (Kirsch–Mitzenmacher g_j = a + j·b over md5 halves; 60-bit vote
  // signature) — equality is asserted in ExtensionsSpec against the
  // operator-pipeline implementations.

  /** `graft_minhash_band(text, band)` → the band's bucket digest
    * (null for docs under 3 tokens, which D2 skips). */
  private def minhashBandSql: String = {
    val sh = "transform(sequence(1, size(split(__arg0, ' ')) - 2), " +
      "i -> md5(concat_ws(' ', slice(split(__arg0, ' '), i, 3))))"
    def g(r: Int) =
      s"cast(array_min(transform($sh, h -> cast(conv(substr(h, 1, 8), 16, 10) as bigint)" +
        s" + (4 * __arg1 + $r) * cast(conv(substr(h, 9, 8), 16, 10) as bigint))) as string)"
    s"case when size(split(__arg0, ' ')) >= 3 then " +
      s"md5(concat_ws('|', ${(0 until 4).map(g).mkString(", ")})) else null end"
  }

  /** `graft_simhash(text)` → the 60-bit vote signature as int64. */
  private val simhashSql =
    "aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) -> acc + " +
      "case when aggregate(transform(split(__arg0, ' '), t -> " +
      "2 * ((cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) >> (59 - j)) & 1) - 1), " +
      "cast(0 as bigint), (s, x) -> s + cast(x as bigint)) > 0 " +
      "then shiftleft(cast(1 as bigint), cast(j as int)) else cast(0 as bigint) end)"

  /** `graft_redact_pii(text)` — the T11 scrub as a scalar verb: emails,
    * IPv4 addresses, then phone numbers become typed placeholders, in
    * the same order the operator applies (order matters: a redacted
    * placeholder must not re-match a later pattern). Patterns are the
    * operator's own ([[graft.functions.TextAnalysis]]), re-escaped for
    * the SQL string literal. */
  private val redactPiiSql = {
    def q(re: String) = "'" + re.replace("\\", "\\\\") + "'"
    s"regexp_replace(regexp_replace(regexp_replace(__arg0, " +
      s"${q(graft.functions.TextAnalysis.emailRe)}, '<EMAIL>'), " +
      s"${q(graft.functions.TextAnalysis.ipRe)}, '<IP>'), " +
      s"${q(graft.functions.TextAnalysis.phoneRe)}, '<PHONE>')"
  }

  private val all = Seq(
    fn("graft_dot", exprs => LongDotProduct(exprs.head, exprs(1))),
    fn("graft_sqnorm", exprs => LongDotProduct(exprs.head, exprs.head)),
    fn("graft_quantize", exprs => template(quantizeSql, exprs)),
    // graft_lsh_bucket(v [, planes [, band]]) — banded form for SQL
    // users scaling the block size (planes/band must be int literals)
    fn("graft_lsh_bucket", exprs =>
      if (exprs.lengthIs == 1) LshBucket(exprs.head)
      else {
        val planes = exprs(1).eval().asInstanceOf[Number].intValue
        val band = if (exprs.lengthIs > 2) exprs(2).eval().asInstanceOf[Number].intValue else 0
        LshBucket(exprs.head, planes, band)
      }),
    fn("graft_minhash_band", exprs => template(minhashBandSql, exprs)),
    fn("graft_simhash", exprs => template(simhashSql, exprs)),
    fn("graft_redact_pii", exprs => template(redactPiiSql, exprs)),
    fn("graft_cosine", exprs => {
      val dot = LongDotProduct(exprs.head, exprs(1))
      val na = LongDotProduct(exprs.head, exprs.head)
      val nb = LongDotProduct(exprs(1), exprs(1))
      Divide(Cast(dot, DoubleType), Sqrt(Cast(Multiply(na, nb), DoubleType)))
    }))

  def register(spark: SparkSession): Unit = {
    all.foreach(f =>
      spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3))
    TopKStrategy.install(spark)
  }
}
