package graft

import org.apache.spark.sql.functions._
import graft.functions.TokenWindows
import graft.queries.TextQueries

/** The round-18 compiled TokenWindowHashes expression must yield the
  * SAME q_dedup_substr result as the interpreted md5 slice/concat
  * chain it replaced — the hash lane is internal (equality-only), so
  * the merged overlap extents are the contract. Plus direct pins of
  * the window relation against the literal split/slice/concat
  * formulation on adversarial tokenizations. */
class TokenWindowsSpec extends SparkSpec {

  test("q_dedup_substr matches the interpreted md5 formulation on the corpus") {
    val fast = TextQueries.queries("q_dedup_substr")(spark, sf).collect()
    val slow = ReferenceForms.dedupSubstrHof(16)(spark, sf).collect()
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (f, h) =>
      assert(f == h, s"extent row mismatch: $f vs $h")
    }
  }

  /** Window relation parity on edge tokenizations: the byte-span hash
    * must induce the same (nw, p, equality classes) as
    * md5(concat_ws(" ", slice(split(text, ' '), p, w))) — including
    * empty tokens from doubled/leading/trailing spaces, which make the
    * joined slice reproduce the raw byte span exactly. */
  test("token window hashes match the slice/concat equality classes") {
    val s = spark
    import s.implicits._
    val w = 3
    val df = Seq("", " ", "a", "a b c", " a b c", "a b c ",
      "a  b  c", "x y z x y z x y z", "héllo wörld ünïcode tëxt ünïcode",
      "a b c d e f", "same same same same")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fast = df
      .select(col("doc_id"),
        TokenWindows.tokenWindowHashes(col("text"), w).as("t"))
      .select(col("doc_id"), col("t.nw").as("nw"),
        posexplode(col("t.hs")).as(Seq("i", "h")))
      .select(col("doc_id"), col("nw"), (col("i") + 1).as("p"), col("h"))
      .orderBy("doc_id", "p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val slow = df
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), size(col("ws")).cast("long").as("nw"),
        col("ws"),
        expr(s"explode(sequence(1, size(ws) - ${w - 1}))").as("p"))
      .select(col("doc_id"), col("nw"), col("p"),
        md5(concat_ws(" ", slice(col("ws"), col("p"), lit(w)))).as("h"))
      .orderBy("doc_id", "p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    assert(fast.length == slow.length,
      s"row counts differ: ${fast.length} vs ${slow.length}")
    // same (doc, nw, p) sequence
    fast.zip(slow).foreach { case (f, sl) =>
      assert((f._1, f._2, f._3) == (sl._1, sl._2, sl._3),
        s"window identity mismatch: $f vs $sl")
    }
    // equality classes must coincide: two windows share an xx64 hash
    // iff they share the md5-string hash
    val byFast = fast.groupBy(_._4).values.map(_.map(t => (t._1, t._3)).toSet).toSet
    val bySlow = slow.groupBy(_._4).values.map(_.map(t => (t._1, t._3)).toSet).toSet
    assert(byFast == bySlow, "hash equality classes diverge")
  }

  test("short and null texts emit no windows") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("a b")), (2L, None), (3L, Option("")))
      .toDF("doc_id", "text")
    val out = df
      .select(col("doc_id"),
        TokenWindows.tokenWindowHashes(col("text"), 16).as("t"))
      .select(col("doc_id"), posexplode(col("t.hs")))
      .collect()
    assert(out.isEmpty)
  }
}
