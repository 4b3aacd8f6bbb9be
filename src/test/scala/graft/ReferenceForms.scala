package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** The original, interpreted formulations of five per-row computations
  * that now run as compiled expressions. Only the parity specs call
  * them: WinnowSpec, Md5TextSpec and TokenWindowsSpec pin each compiled
  * form against its original here, row for row. */
object ReferenceForms {

  /** q_dedup_substr's window relation as md5-string hashes from the
    * interpreted slice/concat chain, fed to the same extent merge. */
  def dedupSubstrHof(w: Int): (SparkSession, String) => DataFrame = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
    val wins = docs
      .select(col("doc_id"), size(col("ws")).cast("long").as("nw"),
        col("ws"),
        expr(s"explode(sequence(1, size(ws) - ${w - 1}))").as("p"))
      .select(col("doc_id"), col("nw"), col("p"),
        md5(concat_ws(" ", slice(col("ws"), col("p"), lit(w)))).as("h"))
    TextQueries.substrExtents(wins, w)
  }

  /** q_doc_winnow_oracle's md5 8-gram winnowing as a HOF chain. */
  def docWinnowMd5Hof(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(4)) === 0)
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
      .select(
        col("doc_id"),
        size(col("fingerprints")).as("n_fingerprints"),
        expr("aggregate(fingerprints, 0L, (a, f) -> a ^ f)").as("fp_xor"))
      .orderBy("doc_id")

  /** q_doc_winnow's xxhash64 8-gram winnowing as a HOF chain. */
  def docWinnowHof(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
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
      .select(
        col("doc_id"),
        size(col("fingerprints")).as("n_fingerprints"),
        expr("aggregate(fingerprints, 0L, (a, f) -> a ^ f)").as("fp_xor"))
      .orderBy("doc_id")

  /** q_dedup_simhash's 64-bit signatures (doc_id, simhash) from one
    * groupBy over exploded xxhash64 word hashes. The vote counts are
    * packed two per aggregate: `p_b` sums ((wh>>b)&1) | ((wh>>(b+32))&1)<<32,
    * so its low 32 bits count bit b and its high 32 bits bit b+32. */
  def simhashSignaturesGrouped(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), xxhash64(col("word")).as("wh"))
    val packedCols = (0 until 32).map(b =>
      sum(shiftright(col("wh"), b).bitwiseAND(lit(1L)) +
        shiftleft(shiftright(col("wh"), b + 32).bitwiseAND(lit(1L)), 32))
        .as(s"p$b"))
    val sums = words.groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), packedCols: _*)
    // bit set iff 2·ones > n (ties → 0, SimHashAgg's rule); the sum of
    // disjoint powers of two is the bit pattern, bit 63 included
    def ones(b: Int): org.apache.spark.sql.Column =
      if (b < 32) col(s"p$b").bitwiseAND(lit(0xFFFFFFFFL))
      else shiftrightunsigned(col(s"p${b - 32}"), 32)
    sums.select(col("doc_id"),
      (0 until 64).map(b =>
        when(ones(b) * 2 > col("nw"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** q_dedup_simhash_oracle's 32-bit md5 signatures from one groupBy
    * of ±1 votes over exploded word hashes. */
  def simhashMd5SignaturesGrouped(s: SparkSession, d: String): DataFrame = {
    val nBits = 32
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"),
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long").as("wh"))
    val voteCols = (0 until nBits).map(b =>
      sum(when(col("wh").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L))
        .as(s"s$b"))
    val sums = words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    sums.select(col("doc_id"),
      (0 until nBits).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }
}
