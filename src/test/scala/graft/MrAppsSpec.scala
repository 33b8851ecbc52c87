package graft

import org.apache.spark.sql.functions._

import graft.apps.MrApps

/** Differential golden tests (SURVEY.md §5.3.1): each app vs a trivially
  * correct sequential Scala implementation over the documents table —
  * mirroring the reference's sequential-oracle-vs-distributed compare
  * (`/root/reference/src/main/test-mr.sh:78-144`). */
class MrAppsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val local: Seq[(Long, String, String, String)] =
    docs.select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().toSeq

  private def tokens(s: String): Seq[String] =
    s.split("[^a-zA-Z]+").filter(_.nonEmpty).toSeq

  test("wordCount matches sequential oracle") {
    val got = MrApps.wordCount(docs).as[(String, Long)].collect().toMap
    val want = local.flatMap(r => tokens(r._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(got.values.sum > 0)
  }

  test("invertedIndex matches sequential oracle") {
    val got = MrApps.invertedIndex(docs)
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val want = local
      .flatMap(r => tokens(r._2).distinct.map(w => (w, r._1.toString)))
      .groupBy(_._1).view
      .mapValues(ps => (ps.size.toLong, ps.map(_._2).sorted.mkString(","))).toMap
    assert(got == want)
  }

  test("sortedConcat is order-insensitive canonical (A4 semantics)") {
    val got = MrApps.sortedConcat(docs).as[(String, String)].collect().toMap
    val want = local.groupBy(_._3).view
      .mapValues(_.map(_._1.toString).sorted.mkString(" ")).toMap
    assert(got == want)
  }

  test("fileCount counts per source") {
    val got = MrApps.fileCount(docs).as[(String, Long)].collect().toMap
    val want = local.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    assert(got == want)
  }

  test("fanout emits 10 keys, each |docs| rows") {
    val got = MrApps.fanout(docs).as[(String, Long)].collect().toMap
    assert(got.keySet == ('a' to 'j').map(_.toString).toSet)
    assert(got.values.toSet == Set(local.size.toLong))
  }

  test("goldenLines formats 'key value' like the reference sink") {
    val lines = MrApps.goldenLines(docs).as[String].collect()
    val wc = MrApps.wordCount(docs).as[(String, Long)].collect().toMap
    assert(lines.length == wc.size)
    assert(lines.forall { l =>
      val Array(w, c) = l.split(" ")
      wc(w) == c.toLong
    })
  }

  /** Every expression in the executed plan, AQE stages included. */
  private def planExpressions(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    df.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect { case e => e }))
  }

  test("word count and inverted index plans tokenize on the kernel: no split, no filter lambda") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, StringSplit}
    for ((name, df) <- Seq("mr_wordcount" -> MrApps.wordCount(docs),
        "mr_inverted_index" -> MrApps.invertedIndex(docs))) {
      val exprs = planExpressions(df)
      assert(exprs.exists(_.prettyName == "graft_letter_run_tf_pairs"), name)
      assert(!exprs.exists(_.isInstanceOf[StringSplit]), name)
      assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), name)
      assert(!df.queryExecution.executedPlan.toString.contains("split("), name)
    }
  }

  test("invertedIndex: duplicate and null documents keep the distinct-count semantics") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "apple pear"), (1L, "apple"), (2L, "pear pear"),
      (null, "apple"), (null, "apple kiwi"))
      .toDF("doc_id", "text")
    val got = MrApps.invertedIndex(rows).as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "apple" -> ((2L, "1")), "pear" -> ((2L, "1,2")), "kiwi" -> ((1L, ""))))
  }
}
