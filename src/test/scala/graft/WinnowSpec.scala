package graft

import org.apache.spark.sql.functions._
import graft.functions.Winnow
import graft.queries.TextQueries

/** The WinnowStats codegen expression must be bit-identical to the
  * original higher-order-function formulation it replaced for speed. */
class WinnowSpec extends SparkSpec {

  test("winnow expression matches the HOF ground truth on the corpus") {
    val fast = TextQueries.queries("q_doc_winnow")(spark, sf).collect()
    val slow = ReferenceForms.docWinnowHof(spark, sf).collect()
    assert(fast.length == slow.length)
    fast.zip(slow).foreach { case (f, h) =>
      assert(f.getLong(0) == h.getLong(0))
      assert(f.getInt(1) == h.getInt(1), s"n_fingerprints doc ${f.getLong(0)}")
      assert(f.getLong(2) == h.getLong(2), s"fp_xor doc ${f.getLong(0)}")
    }
  }

  test("edge cases: short, boundary-length, and multibyte texts") {
    val s = spark
    import s.implicits._
    // <8 chars (whole-text hash), 8-10 chars (<4 grams), ≥11 chars,
    // multibyte chars (char-counted grams, not byte-counted), repeats
    val texts = Seq("", "a", "abcdefg", "abcdefgh", "abcdefghij",
      "abcdefghijk", "aaaaaaaaaaaaaaaa", "héllo wörld — ünïcode tëxt",
      "日本語のテキストです、八文字以上あります")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaExpr = df.withColumn("ws", Winnow.winnowStats(col("text")))
      .select(col("doc_id"), col("ws.n_fingerprints"), col("ws.fp_xor"))
      .orderBy("doc_id").collect()
    val viaHof = df
      .withColumn("grams", expr(
        """CASE WHEN length(text) >= 8
             THEN transform(sequence(1, length(text) - 7),
                            i -> xxhash64(substring(text, i, 8)))
             ELSE array(xxhash64(text)) END"""))
      .withColumn("fingerprints", expr(
        """array_distinct(CASE WHEN size(grams) >= 4
             THEN transform(sequence(0, size(grams) - 4),
                            j -> least(grams[j], grams[j+1], grams[j+2], grams[j+3]))
             ELSE array(array_min(grams)) END)"""))
      .select(col("doc_id"), size(col("fingerprints")),
        expr("aggregate(fingerprints, 0L, (a, f) -> a ^ f)"))
      .orderBy("doc_id").collect()
    viaExpr.zip(viaHof).foreach { case (f, h) =>
      assert(f.getInt(1) == h.getInt(1), s"n_fingerprints doc ${f.getLong(0)}")
      assert(f.getLong(2) == h.getLong(2), s"fp_xor doc ${f.getLong(0)}")
    }
  }

  test("empty string still yields one whole-text fingerprint") {
    val s = spark
    import s.implicits._
    val r = Seq((0L, "")).toDF("doc_id", "text")
      .select(Winnow.winnowStats(col("text")).as("ws"))
      .select(col("ws.n_fingerprints"), col("ws.fp_xor")).head()
    assert(r.getInt(0) == 1)
  }

  test("winnow_stats is callable from SQL after registration") {
    Winnow.register(spark)
    val r = spark.sql(
      "SELECT ws.n_fingerprints, ws.fp_xor FROM " +
        "(SELECT winnow_stats('the quick brown fox jumps over the lazy dog') AS ws)").head()
    val s = spark
    import s.implicits._
    val viaCol = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
      .select(Winnow.winnowStats(col("text")).as("ws"))
      .select(col("ws.n_fingerprints"), col("ws.fp_xor")).head()
    assert(r.getInt(0) == viaCol.getInt(0) && r.getLong(1) == viaCol.getLong(1))
  }

  test("winnow_stats SQL honors gram/window args and rejects bad arity") {
    Winnow.register(spark)
    val s = spark
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    // 3-arg SQL form == explicit Column form with the same params
    val viaSql = spark.sql(
      s"SELECT ws.n_fingerprints, ws.fp_xor FROM " +
        s"(SELECT winnow_stats('$text', 4, 2) AS ws)").head()
    val viaCol = Seq(text).toDF("text")
      .select(Winnow.winnowStats(col("text"), gram = 4, window = 2).as("ws"))
      .select(col("ws.n_fingerprints"), col("ws.fp_xor")).head()
    assert(viaSql.getInt(0) == viaCol.getInt(0) &&
      viaSql.getLong(1) == viaCol.getLong(1))
    // and the non-default params actually change the answer
    val default = spark.sql(
      s"SELECT winnow_stats('$text').n_fingerprints").head().getInt(0)
    assert(viaSql.getInt(0) != default)
    // 2-arg and 4-arg calls fail at analysis time, not silently
    val e = intercept[Exception](
      spark.sql("SELECT winnow_stats('abc', 4)").collect())
    assert(e.getMessage.contains("winnow_stats"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT winnow_stats('abc', 4, 2, 1)").collect())
    assert(e2.getMessage.contains("winnow_stats"), e2.getMessage)
  }

  test("winnow expression participates in whole-stage codegen") {
    val plan = Tables.documents(spark, sf)
      .select(Winnow.winnowStats(col("text")))
      .queryExecution.executedPlan
    val inCodegen = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(inCodegen, s"expected a WholeStageCodegen stage, got:\n$plan")
  }
}
