package graft

import graft.queries.TextQueries

/** The driver corpus is PII-free, so the oracle for q_pii_redact proves
  * cross-engine agreement on clean text; these tests drive synthetic
  * PII through the same column builders to prove the scrub itself. */
class PiiRedactSpec extends SparkSpec {

  private def redact(texts: String*) = {
    val s = spark
    import s.implicits._
    TextQueries.piiColumns(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
  }

  test("emails, SSNs, phones and IPs are counted and redacted") {
    val rows = redact(
      "contact bob.smith+spam@example.co.uk or alice@test.org today",
      "ssn 123-45-6789 phone 555-123-4567 alt 555.987.6543",
      "server at 192.168.0.1 and 10.0.0.255 responded",
      "no pii here at all")
    val byId = rows.map(r => r.getLong(0) -> r).toMap

    assert(byId(0L).getInt(1) == 2) // n_email
    assert(byId(0L).getString(5) ==
      "contact <EMAIL> or <EMAIL> today")

    assert(byId(1L).getInt(2) == 1) // n_ssn
    assert(byId(1L).getInt(3) == 2) // n_phone
    assert(byId(1L).getString(5) == "ssn <SSN> phone <PHONE> alt <PHONE>")

    assert(byId(2L).getInt(4) == 2) // n_ip
    assert(byId(2L).getString(5) == "server at <IP> and <IP> responded")

    assert(byId(3L).getString(5) == "no pii here at all")
    assert((1 to 4).forall(c => byId(3L).getInt(c) == 0))
  }

  test("pattern order: SSN shape is not half-eaten by the phone pattern") {
    val rows = redact("id 123-45-6789 tel 123-456-7890")
    assert(rows(0).getString(5) == "id <SSN> tel <PHONE>")
  }

  test("dotted 3-3-4 digits read as a phone, not a truncated IP") {
    val rows = redact("call 123.456.7890 now")
    assert(rows(0).getString(5) == "call <PHONE> now")
    assert(rows(0).getInt(4) == 0) // n_ip
  }

  test("overlap: counts see the raw text, tags reflect sequential redaction") {
    // the documented semantics (piiColumns scaladoc): an IP embedded in
    // an email local part is COUNTED (raw-text census) but the earlier
    // <EMAIL> replacement consumes it, so no <IP> tag is emitted
    val rows = redact("ping 1.2.3.4@example.com now")
    assert(rows(0).getInt(1) == 1, "n_email")
    assert(rows(0).getInt(4) == 1, "n_ip counted on the raw text")
    assert(rows(0).getString(5) == "ping <EMAIL> now")
  }

  test("q_pii_redact leaves the PII-free driver corpus unchanged") {
    val out = TextQueries.queries("q_pii_redact")(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(out.count() == docs.count())
    import org.apache.spark.sql.functions._
    val changed = out.join(docs, "doc_id")
      .filter(col("clean_text") =!= col("text")).count()
    assert(changed == 0L)
  }

  test("decontamination flags exactly the train docs overlapping the eval slice") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    // ids 4 and 9 land in the eval slice (doc_id % 5 == 4); train doc 0
    // copies eval doc 4's text, train doc 6 shares a 3-word window with
    // eval doc 9, train doc 1 is clean
    Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five"),
      (6L, "prefix six seven eight suffix"),
      (4L, "alpha beta gamma delta epsilon"),
      (9L, "six seven eight nine ten"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.queries("q_decontaminate")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0: all 3 shingles of the copied 5-word text; doc 6: the one
    // "six seven eight" window; doc 1 absent (no eval overlap)
    assert(got == Map(0L -> 3L, 6L -> 1L), s"got $got")
  }

  test("bloom-pruned decontamination equals the exact-join query") {
    val a = TextQueries.queries("q_decontaminate")(spark, sf)
      .collect().map(_.toSeq).toSet
    val b = TextQueries.queries("q_decontaminate_bloom")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b,
      s"bloom two-phase must be output-identical: only-exact ${a -- b}, only-bloom ${b -- a}")
  }

  test("bloom filter: no false negatives, prunes most non-members") {
    import org.apache.spark.sql.functions._
    val members = spark.range(0, 1000).select(xxhash64(col("id")).as("h"))
    val bf = members.agg(
      graft.functions.BloomFilters.bloomAgg(col("h"), 1000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probes = spark.range(0, 20000).select(xxhash64(col("id")).as("h"))
    val kept = probes.filter(
      graft.functions.BloomFilters.mightContain(lit(bf), col("h"))).count()
    // all 1000 members MUST pass; the 19000 non-members pass only at
    // the fpp rate (default 3% → expect ~570, assert a loose ceiling)
    assert(kept >= 1000, s"false negative: only $kept of 1000 members passed")
    assert(kept <= 1000 + 1900, s"pruning ineffective: $kept of 20000 passed")
  }

  test("q_doc_truncate clips to the token budget and flags truncation") {
    import org.apache.spark.sql.functions._
    val out = TextQueries.queries("q_doc_truncate")(spark, sf)
    assert(out.count() == Tables.documents(spark, sf).count())
    assert(out.agg(max("n_tokens_kept")).head().getInt(0) <= 64)
    // clipped text token count equals n_tokens_kept, and untruncated
    // docs keep their text verbatim
    val bad = out.join(Tables.documents(spark, sf), "doc_id")
      .filter(
        size(split(col("clipped"), " ")) =!= col("n_tokens_kept") ||
          (!col("truncated") && col("clipped") =!= col("text")))
      .count()
    assert(bad == 0L)
  }

  test("q_lang_balance equalizes every language to the smallest count") {
    val out = TextQueries.queries("q_lang_balance")(spark, sf)
    val perLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minCount = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(_.getLong(1)).min
    assert(perLang.nonEmpty && perLang.values.forall(_ == minCount),
      s"expected all langs at $minCount, got $perLang")
    // deterministic survivor set
    assert(out.collect().toSeq ==
      TextQueries.queries("q_lang_balance")(spark, sf).collect().toSeq)
  }

  test("q_cluster_cap caps every IVF cell and reuses the persisted quantizer") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.SimilarityQueries.queries("q_cluster_cap")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // per-cell counts never exceed the cap; survivors are real vec_ids
    val perCell = rows.groupBy(_.getInt(1)).view.mapValues(_.length)
    assert(perCell.values.forall(_ <= 10), s"cell overflow: ${perCell.toMap}")
    val ids = Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => ids(r.getLong(0))))
    // deterministic survivor set across reruns
    val again = graft.queries.SimilarityQueries.queries("q_cluster_cap")(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q_source_cap keeps at most the cap per source, deterministically") {
    import org.apache.spark.sql.functions._
    val out = TextQueries.queries("q_source_cap")(spark, sf)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 10))
    assert(out.agg(max("rn")).head().getInt(0) <= 10)
    // pure function of the data: a rerun selects the identical survivor set
    val again = TextQueries.queries("q_source_cap")(spark, sf)
    assert(out.collect().toSeq == again.collect().toSeq)
    // capped sources keep exactly `cap` rows
    val counts = Tables.documents(spark, sf).groupBy("source").count()
      .withColumnRenamed("count", "n_docs")
    val joined = perSource.map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.collect().foreach { r =>
      val expected = math.min(10L, r.getLong(1))
      assert(joined(r.getString(0)) == expected,
        s"source ${r.getString(0)}: kept ${joined(r.getString(0))}, expected $expected")
    }
  }
}
