package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDotLong, ArraySortedIntersectCount, Md5Lower64, Shingles, TopKByScore}

/** Session extensions: expose graft's native Catalyst expressions to
  * SQL (`SELECT md5lower64(text), array_dot_long(a, b) …`) so the
  * catalog-SQL surface and the DataFrame surface are the same engine.
  *
  * Registered via `SparkSession.builder.withExtensions` in
  * [[GraftSession]]; also usable with
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL DML, column DDL and the lakehouse-only statements over
    // registered lakehouse views — the role Iceberg's extensions play
    // for the reference (gold_reporting.py:70). DML and column DDL are
    // mapped from Spark's parsed plan; everything else delegates to
    // Spark's parser.
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(delegate))
    ext.injectFunction((
      new FunctionIdentifier("md5lower64"),
      new ExpressionInfo(classOf[Md5Lower64].getName, "md5lower64"),
      (children: Seq[Expression]) => Md5Lower64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("array_dot_long"),
      new ExpressionInfo(classOf[ArrayDotLong].getName, "array_dot_long"),
      (children: Seq[Expression]) => ArrayDotLong(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("array_sorted_intersect_count"),
      new ExpressionInfo(classOf[ArraySortedIntersectCount].getName, "array_sorted_intersect_count"),
      (children: Seq[Expression]) => ArraySortedIntersectCount(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (children: Seq[Expression]) => Shingles(children.head,
        children.lift(1).map(_.eval().asInstanceOf[Number].intValue).getOrElse(3))))
    ext.injectFunction((
      new FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (children: Seq[Expression]) => TopKByScore(children(0), children(1),
        children(2).eval().asInstanceOf[Number].intValue)))
  }
}
