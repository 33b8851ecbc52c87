package graft

import org.apache.spark.sql.functions._

/** Interchange round trips on adversarial content: JSONL must preserve
  * everything (JSON escapes control chars and quotes); CSV preserves
  * everything except embedded newlines / empty strings — the documented
  * boundary of a splittable (multiLine=false) CSV read at scale. */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private val nasty = Seq(
    (1L, "plain words"),
    (2L, "comma, \"quoted\" text, trailing"),
    (3L, "tab\there and\nembedded newline"),
    (4L, "unicode é ü 中文"),
    (5L, ""),
    (6L, "   leading and trailing   "))
    .toDF("doc_id", "text")

  private def roundTrip(fmt: String, multiLine: Boolean = false) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-rt-$fmt").toString
    val w = nasty.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")  // writer defaults trim —
      .option("ignoreTrailingWhiteSpace", "false") // same fix as the gate
    (if (fmt == "json") w.json(dir) else w.csv(dir))
    val r = spark.read.schema(nasty.schema).option("header", "true")
      .option("multiLine", multiLine)
    val back = if (fmt == "json") r.json(dir) else r.csv(dir)
    // Row-based collect: the CSV boundary cases produce NULL doc_id
    // fragments (split rows), which a non-nullable Long encoder rejects.
    back.collect().map(r =>
      (if (r.isNullAt(0)) null else Long.box(r.getLong(0))) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
  }

  test("JSONL round trip preserves ALL adversarial content") {
    val back = roundTrip("json")
    val orig = nasty.as[(Long, String)].collect().toMap
    assert(back == orig)
  }

  test("ORC round trip preserves ALL adversarial content") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rt-orc").toString
    nasty.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(nasty.schema).orc(dir)
      .as[(Long, String)].collect().toMap
    val orig = nasty.as[(Long, String)].collect().toMap
    // Columnar binary: no text-format boundaries — embedded newlines,
    // empty strings, and surrounding whitespace must all survive.
    assert(back == orig)
  }

  test("CSV round trip: full fidelity on newline-free non-empty text") {
    val back = roundTrip("csv")
    val orig = nasty.as[(Long, String)].collect().toMap
    // The splittable CSV read (multiLine=false) cannot reassemble rows
    // whose text embeds a newline, and reads the empty string back as
    // null — both documented boundaries of the format, not bugs in the
    // plumbing. Everything else must round-trip exactly.
    for (id <- Seq(1L, 2L, 4L, 6L)) assert(back(id) == orig(id), s"doc $id")
    assert(back(5L) == null, "CSV empty-string asymmetry changed")
  }

  test("partitioned layout: lang filter prunes partitions, not rows") {
    val df = graft.ext.Formats.partitionedScan(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("(lang"),
      "lang equality must be a partition filter:\n" + p)
    // the data-filter slot must NOT re-test lang row-by-row (the scan
    // prints on one line — slice out the PushedFilters segment)
    val pushed = p.substring(p.indexOf("PushedFilters"),
      p.indexOf("ReadSchema", p.indexOf("PushedFilters")))
    assert(!pushed.contains("lang"), pushed)
  }

  test("gated corpus round trips agree with the direct fingerprints") {
    val direct = graft.ext.Formats // corpus text is newline-free ASCII
    val a = direct.jsonlRoundTrip(spark, sf).collect().map(_.toString).sorted
    val b = direct.csvRoundTrip(spark, sf).collect().map(_.toString).sorted
    assert(a.sameElements(b), "jsonl and csv gates disagree")
    assert(a.length == Tables.documents(spark, sf).count())
  }

  test("zorder: mass conserved per strategy; z buckets bound BOTH dims") {
    val rows = graft.ext.Formats.zorderReport(spark, sf).collect()
    val n = Tables.lineitem(spark, sf).count()
    val byStrat = rows.groupBy(_.getAs[String]("strategy"))
    assert(byStrat.keySet == Set("zorder", "lex"))
    for ((_, rs) <- byStrat)
      assert(rs.map(_.getAs[Long]("n_rows")).sum == n, "rows lost/dup'd")
    // The reason z-order exists: every z bucket strictly subdivides
    // BOTH key ranges (so a filter on either column prunes buckets),
    // while lex buckets leave the second dimension full-width — a
    // b-only filter prunes nothing under single-column range layout.
    val aAll = rows.map(_.getAs[Long]("a_max")).max -
      rows.map(_.getAs[Long]("a_min")).min + 1
    val bAll = rows.map(_.getAs[Long]("b_max")).max -
      rows.map(_.getAs[Long]("b_min")).min + 1
    for (r <- byStrat("zorder")) {
      val aSpan = r.getAs[Long]("a_max") - r.getAs[Long]("a_min") + 1
      val bSpan = r.getAs[Long]("b_max") - r.getAs[Long]("b_min") + 1
      assert(aSpan * 2 <= aAll + 1, s"z bucket a-span $aSpan of $aAll")
      assert(bSpan * 2 <= bAll + 1, s"z bucket b-span $bSpan of $bAll")
    }
    assert(byStrat("lex").forall { r =>
      r.getAs[Long]("b_max") - r.getAs[Long]("b_min") + 1 == bAll
    }, "lex buckets should leave b full-width on independent keys")
  }

  test("bucketed join runs on an input directory whose name is not an identifier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sf-0.001-copy-")
    for (t <- Seq("orders", "lineitem"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
    val got = ext.Formats.bucketedJoin(spark, dir.toString)
      .as[(String, Long, Long)].collect().sorted
    val want = ext.Formats.bucketedJoin(spark, sf)
      .as[(String, Long, Long)].collect().sorted
    assert(got.nonEmpty)
    assert(got.sameElements(want))
  }
}
