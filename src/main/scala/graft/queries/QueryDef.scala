package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: a Spark plan plus an equivalent ANSI SQL
  * string `tools/verify_local.py` runs in DuckDB over the same parquet
  * tables.
  *
  * Conventions that make the hash-compare sound (see SURVEY.md §5):
  *   - every computed column is aliased identically in Spark and SQL;
  *   - the Spark side emits NO final orderBy (the driver's checker
  *     sorts rows itself and the bench writes to a noop sink, so a
  *     trailing sort is a pure RangePartitioning sample job + shuffle +
  *     sort cost) — except where orderBy+limit IS the semantics (top-k);
  *     oracle SQL may keep ORDER BY for readability;
  *   - no raw timestamp outputs (epoch BIGINT / DATE / string instead);
  *   - double aggregation goes through exact integer-cents or
  *     DECIMAL(38,12) sums so the result is order-independent and
  *     bit-identical across engines.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: String,
    doc: String = "")

object QueryDef {
  def apply(doc: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, oracle.stripMargin.trim, doc)
}
