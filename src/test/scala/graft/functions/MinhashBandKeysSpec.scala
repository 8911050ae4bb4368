package graft.functions

import graft.SparkSpec
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused [[MinhashBandKeysExpr]] must be BIT-IDENTICAL to the
  * composable higher-order-function formulation it replaced
  * ([[composable]] below) — that identity is what keeps the
  * stream-vs-batch exactness replay on one shared projection. Asserted
  * on real corpus text plus the adversarial edges of `split`/`slice`/
  * `array_join` semantics (short docs, empty tokens from repeated
  * spaces, trailing separators, unicode, sub-shingle-length docs). */
class MinhashBandKeysSpec extends SparkSpec {

  private def docsDf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
  }

  /** The composable formulation [[Streams.bandedDocs]] replaced: 8
    * interpreted `transform` lambdas over `sha2` hex strings, with the
    * same NULL-text filter as the fused form. */
  private def composable(docs: DataFrame, nBands: Int, rowsPerBand: Int,
      shingleLen: Int): DataFrame = {
    val words = split(col("text"), " ")
    val shingles = transform(
      sequence(lit(0), greatest(size(words) - shingleLen, lit(0))),
      i => array_join(slice(words, i + 1, lit(shingleLen)), " "))
    val mh = (0 until nBands * rowsPerBand).map { j =>
      array_min(transform(shingles, s =>
        conv(substring(sha2(s, 256), j * 8 + 1, 8), 16, 10).cast("long")))
    }
    val bandKeys = (0 until nBands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand)
        .map(r => mh(b * rowsPerBand + r))): _*)
    }
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("ts"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")))
  }

  private def assertIdentical(docs: DataFrame, nBands: Int = 4,
      rowsPerBand: Int = 2, shingleLen: Int = 3): Unit = {
    val fused = Streams.bandedDocs(docs, nBands, rowsPerBand, shingleLen)
      .select("doc_id", "band", "bucket")
    val comp = composable(docs, nBands, rowsPerBand, shingleLen)
      .select("doc_id", "band", "bucket")
    assert(fused.exceptAll(comp).isEmpty && comp.exceptAll(fused).isEmpty,
      s"fused != composable:\n fused ${fused.collect().toSeq.sortBy(_.getLong(0))}" +
        s"\n comp  ${comp.collect().toSeq.sortBy(_.getLong(0))}")
  }

  test("bit-identical to the composable form on real corpus text") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(500)
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    assertIdentical(docs)
  }

  test("bit-identical on split/slice/array_join edge cases") {
    assertIdentical(docsDf(Seq(
      "",                       // split -> [""] -> one empty shingle
      "one",                    // shorter than the shingle
      "two words",              // still shorter
      "a b c",                  // exactly one full shingle
      "a b c d e",              // sliding windows
      "a  b",                   // empty token from the double space
      "a b c ",                 // trailing empty token (split limit -1 keeps it)
      " leading space",         // leading empty token
      "héllo wörld ñ über ß",   // multi-byte UTF-8
      Seq.fill(300)("tok").zipWithIndex.map(p => p._1 + p._2).mkString(" "))))
  }

  test("NULL-text docs are dropped identically by both formulations") {
    import spark.implicits._
    // r16 ADVICE: pre-filter, the fused form dropped NULL-text docs at
    // posexplode while the composable form banded them into
    // xxhash64(band)-of-nothing buckets; both now filter text IS NOT
    // NULL, so identity holds by construction — asserted through the
    // DataFrame path with a real NULL row
    val docs = Seq((1L, Some("a b c d")), (2L, None), (3L, Some("x y z w")))
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    assertIdentical(docs)
    val ids = Streams.bandedDocs(docs).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), s"banded ids: $ids")
  }

  test("bit-identical under non-default band geometry") {
    val docs = docsDf(Seq("a b c d e f g", "x y", "one two three four"))
    assertIdentical(docs, nBands = 2, rowsPerBand = 4)
    assertIdentical(docs, nBands = 8, rowsPerBand = 1)
    assertIdentical(docs, nBands = 3, rowsPerBand = 2, shingleLen = 5)
  }

  test("null tokens are skipped with their delimiter, like array_join") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: String*): GenericArrayData =
      new GenericArrayData(ws.map(w =>
        if (w == null) null else UTF8String.fromString(w)).toArray[Any])
    val withNull = MinhashBandKeys.keys(
      new GenericArrayData(Array[Any](UTF8String.fromString("a"), null,
        UTF8String.fromString("b"))), 3, 4, 2)
    val without = MinhashBandKeys.keys(arr("a", "b"), 3, 4, 2)
    assert(withNull.toLongArray().toSeq == without.toLongArray().toSeq)
  }

  test("fused expression participates in codegen (no interpreted fallback)") {
    MinhashBandKeys.register(spark)
    // a parquet scan, not a local relation — Catalyst folds the latter
    // into a LocalTableScan and no codegen stage exists to inspect
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs
      .select(expr("minhash_band_keys(split(text, ' '), 3, 4, 2)").as("k"))
      .queryExecution.executedPlan
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    assert(plan.toString.linesIterator.exists(l =>
        l.contains("Project") && l.trim.startsWith("*(")),
      s"expected codegen'd projection, got:\n$plan")
  }
}
