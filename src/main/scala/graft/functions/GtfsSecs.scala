package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for GTFS time parsing: `gtfs_secs(str)` →
  * seconds since the noon−12h anchor, with HH ≥ 24 allowed.
  *
  * The composable-column implementation ([[graft.gtfs.GtfsTime.toSeconds]],
  * split + 3 casts + arithmetic — 6 expression nodes) is correct and
  * portable; this single codegen'd node is the hot-path variant for
  * fact-scale stop_times scans (SURVEY.md §4: "native expression for
  * GTFS-time parsing only if BENCH demands"): one byte-level pass, no
  * intermediate array/UTF8String allocations, stays inside
  * WholeStageCodegen via a static-method call. Malformed input → NULL
  * (PERMISSIVE, feeds the C2/C3 machinery) instead of an ANSI error.
  */
case class GtfsSecsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gtfs_secs expects STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "gtfs_secs"

  override def nullSafeEval(input: Any): Any =
    GtfsSecs.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.GtfsSecs.parse($c);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GtfsSecsExpr =
    copy(child = newChild)
}

object GtfsSecs {

  /** One-pass byte parser for `H+:MM:SS`. Returns null on malformed
    * input. Called from generated code — must stay static and cheap. */
  def parse(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val n = s.numBytes()
    var i = 0
    var hours = 0L
    var sawDigit = false
    while (i < n && s.getByte(i) != ':') {
      val b = s.getByte(i)
      if (b < '0' || b > '9') return null
      hours = hours * 10 + (b - '0'); sawDigit = true; i += 1
    }
    if (!sawDigit || i >= n) return null
    i += 1 // ':'
    if (i + 5 != n || s.getByte(i + 2) != ':') return null
    val m1 = s.getByte(i) - '0'; val m2 = s.getByte(i + 1) - '0'
    val s1 = s.getByte(i + 3) - '0'; val s2 = s.getByte(i + 4) - '0'
    if (m1 < 0 || m1 > 9 || m2 < 0 || m2 > 9 || s1 < 0 || s1 > 9 || s2 < 0 || s2 > 9)
      return null
    val mins = m1 * 10 + m2; val secs = s1 * 10 + s2
    if (mins > 59 || secs > 59) return null
    java.lang.Long.valueOf(hours * 3600 + mins * 60 + secs)
  }

  /** Register `gtfs_secs` into an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gtfs_secs", (children: Seq[Expression]) => GtfsSecsExpr(children.head),
      "built-in")
}

/** SparkSessionExtensions entry point — enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Injects every custom Catalyst expression this library defines, so an
  * extension-enabled session needs no per-function register() calls
  * (ExtensionsSpec proves the path end-to-end). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      require(children.length == n,
        s"$name expects $n argument(s), got ${children.length}")
      build(children)
    }
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("gtfs_secs"),
      new ExpressionInfo(classOf[GtfsSecsExpr].getName, "gtfs_secs"),
      arity("gtfs_secs", 1)(c => GtfsSecsExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("dot_scaled"),
      new ExpressionInfo(classOf[DotScaledExpr].getName, "dot_scaled"),
      arity("dot_scaled", 2)(c => DotScaledExpr(c.head, c(1)))))
    ext.injectFunction((
      FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2SqExpr].getName, "l2_sq"),
      arity("l2_sq", 2)(c => L2SqExpr(c.head, c(1)))))
    ext.injectFunction((
      FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashesExpr].getName, "ngram_hashes"),
      arity("ngram_hashes", 2)(NgramHashes.builder)))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCountExpr].getName,
        "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(SortedIntersect.builder)))
    ext.injectFunction((
      FunctionIdentifier("sha256_chunks"),
      new ExpressionInfo(classOf[Sha256ChunksExpr].getName, "sha256_chunks"),
      arity("sha256_chunks", 1)(Sha256Chunks.builder)))
    // logical rewrite: inequality range joins -> bucketized equi joins
    // (opt-in via spark.graft.rangeJoin.bucketWidth; see the rule's doc)
    ext.injectOptimizerRule(session =>
      graft.plans.RangeJoinRewrite(session))
  }
}
