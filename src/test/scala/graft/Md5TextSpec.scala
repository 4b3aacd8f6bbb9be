package graft

import org.apache.spark.sql.functions._
import graft.functions.Md5Text
import graft.queries.{SimilarityQueries, TextQueries}

/** The round-17 compiled md5-family expressions must be bit-identical
  * to the interpreted formulations they replaced for speed:
  * Md5WinnowStats vs the md5-HOF chain (q_doc_winnow_oracle),
  * SimHashText(64) vs the explode→32-sum groupBy xxhash64 form
  * (q_dedup_simhash), SimHashText(32) vs the md5 groupBy form
  * (q_dedup_simhash_oracle). */
class Md5TextSpec extends SparkSpec {

  test("md5 winnow expression matches the HOF ground truth on the corpus") {
    val fast = TextQueries.queries("q_doc_winnow_oracle")(spark, sf).collect()
    val slow = ReferenceForms.docWinnowMd5Hof(spark, sf).collect()
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (f, h) =>
      assert(f.getLong(0) == h.getLong(0))
      assert(f.getInt(1) == h.getInt(1), s"n_fingerprints doc ${f.getLong(0)}")
      assert(f.getLong(2) == h.getLong(2), s"fp_xor doc ${f.getLong(0)}")
    }
  }

  /** Adversarial tokenization/gram inputs: empties, leading/trailing/
    * doubled spaces (split's limit=-1 keeps empty tokens), sub-gram
    * texts, multibyte chars (char-counted grams). */
  private def edgeDf = {
    val s = spark
    import s.implicits._
    Seq("", " ", "a", "a b", " a", "a ", "a  b", "   ",
      "abcdefg", "abcdefgh", "abcdefghij", "abcdefghijk",
      "aaaaaaaaaaaaaaaa", "héllo wörld — ünïcode tëxt",
      "日本語のテキストです、八文字以上あります",
      "the quick brown fox jumps over the lazy dog")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("md5 winnow expression matches the HOF chain on edge cases") {
    val df = edgeDf
    val viaExpr = df.withColumn("ws", Md5Text.winnowMd5Stats(col("text")))
      .select(col("doc_id"), col("ws.n_fingerprints"), col("ws.fp_xor"))
      .orderBy("doc_id").collect()
    val viaHof = df
      .withColumn("grams", expr(
        """CASE WHEN length(text) >= 8
             THEN transform(sequence(1, length(text) - 7),
                  i -> CAST(conv(substring(md5(substring(text, i, 8)), 1, 8), 16, 10) AS LONG))
             ELSE array(CAST(conv(substring(md5(text), 1, 8), 16, 10) AS LONG)) END"""))
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

  test("simhash64 expression matches the grouped xxhash64 formulation") {
    val fast = SimilarityQueries.simhashSignatures(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = ReferenceForms.simhashSignaturesGrouped(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.nonEmpty)
    assert(fast == slow, s"signature drift on docs ${(fast.keySet ++ slow.keySet)
      .filter(k => fast.get(k) != slow.get(k)).take(5)}")
  }

  test("simhash-md5 expression matches the grouped md5 formulation") {
    val fast = Tables.documents(spark, sf)
      .select(col("doc_id"), Md5Text.simhashMd5_32(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = ReferenceForms.simhashMd5SignaturesGrouped(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.nonEmpty)
    assert(fast == slow, s"signature drift on docs ${(fast.keySet ++ slow.keySet)
      .filter(k => fast.get(k) != slow.get(k)).take(5)}")
  }

  test("simhash expressions match the grouped forms on edge-case tokens") {
    val df = edgeDf
    def viaExpr(bits: Int) = {
      val c = if (bits == 64) Md5Text.simhash64(col("text"))
        else Md5Text.simhashMd5_32(col("text"))
      df.select(col("doc_id"), c.as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def viaGrouped(bits: Int) = {
      val wh = if (bits == 64) xxhash64(col("word"))
        else conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long")
      val words = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .select(col("doc_id"), wh.as("wh"))
      val voteCols = (0 until bits).map(b =>
        sum(when(col("wh").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L))
          .as(s"s$b"))
      words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
        .select(col("doc_id"),
          (0 until bits).map(b =>
            when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    Seq(32, 64).foreach { bits =>
      val f = viaExpr(bits)
      val g = viaGrouped(bits)
      assert(f == g, s"bits=$bits drift on docs ${(f.keySet ++ g.keySet)
        .filter(k => f.get(k) != g.get(k)).take(5)}")
    }
  }
}
