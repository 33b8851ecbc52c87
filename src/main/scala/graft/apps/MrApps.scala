package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tokenizer
import graft.functions.GraftFunctions

/** The reference's eight MapReduce applications re-expressed as declarative
  * DataFrame pipelines (SURVEY.md §2.2/§2.4). Input stand-in corpus is the
  * driver's `documents` table (doc_id, text, lang, source, n_chars) —
  * FIXTURES.md §2.
  *
  * Every pipeline is Catalyst built-ins plus, for tokenizing, the
  * codegen'd letter-run kernel in [[graft.functions.HashKernels]] (no
  * regex, no UDF): the shuffle is a hash aggregation with map-side
  * partial agg (a strict upgrade over the reference, which ships raw map
  * output — `src/mr/worker.go:176-190`), and `collect_list`/`collect_set`
  * aggregates use `ObjectHashAggregate` with spill, fixing the
  * reference's unbounded in-memory grouping (`src/mr/worker.go:103`).
  */
object MrApps {

  /** Word count (reference flagship; map `src/mrapps/wc.go:22-35`, reduce
    * `wc.go:40-43`). The map side is one codegen'd letter-run kernel
    * ([[GraftFunctions.letterRunTfPairs]], the default
    * [[graft.engine.Tokenizer]] rule) that emits per-document
    * (word, tf) pairs — a per-document combine, so the explode fans out
    * one row per (document, distinct word), not one per token. The
    * reduce sums tf per word (`cnt` stays a bigint). At scale, partial
    * aggregation makes the shuffle carry one row per (partition, word).
    */
  def wordCount(docs: DataFrame): DataFrame =
    docs
      .select(explode(GraftFunctions.letterRunTfPairs(col("text"))).as("p"))
      .groupBy(col("p.word").as("word"))
      .agg(sum(col("p.tf")).as("cnt"))

  /** Inverted index (map `src/mrapps/indexer.go:20-31`, reduce
    * `indexer.go:36-39`): per word, a document count and the sorted
    * comma-joined document list. The letter-run kernel's tf pairs are
    * already the per-document distinct words (the reference's map-side
    * dedup), so one word-keyed aggregation finishes the job:
    * `collect_set` drops the same document appearing in several rows.
    * It also skips a null `doc`, as the document list does, so
    * `null_doc` adds it back: `n_docs` counts a null document as one
    * document.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id").cast("string").as("doc"),
        explode(GraftFunctions.letterRunTfPairs(col("text"))).as("p"))
      .groupBy(col("p.word").as("word"))
      .agg(
        collect_set(col("doc")).as("ds"),
        max(col("doc").isNull.cast("long")).as("null_doc"))
      .select(col("word"),
        (size(col("ds")).cast("long") + col("null_doc")).as("n_docs"),
        concat_ws(",", sort_array(col("ds"))).as("docs"))

  /** Order-insensitive canonical concat per key (reduce of
    * `src/mrapps/crash.go:45-55` / `nocrash.go:37-47`): sort group values,
    * join with a space. Key = lang, values = doc ids (as strings, matching
    * the reference's all-string dataflow).
    * NOTE: non-monoid reduce — must materialize the group then sort
    * (SURVEY.md §2.9), hence collect_list + sort_array, never reduceGroups.
    */
  def sortedConcat(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang").as("key"))
      .agg(concat_ws(" ", sort_array(collect_list(col("doc_id").cast("string"))))
        .as("vals"))

  /** Count per input-file key (map `src/mrapps/early_exit.go:19-23`, reduce
    * `early_exit.go:28-36`): one row per document keyed by its source. */
  def fileCount(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(count(lit(1)).as("cnt"))

  /** Fan-out constant keys (map `src/mrapps/rtiming.go:62-76`): emit keys
    * a..j per input row, count per key — exercises a generator that
    * multiplies rows before the shuffle. */
  def fanout(docs: DataFrame): DataFrame =
    docs
      .select(explode(array(('a' to 'j').map(c => lit(c.toString)): _*)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"))

  /** Constant-tuple probe map (M3, `src/mrapps/crash.go:34-43` /
    * `nocrash.go:26-35`): per document emit ("a", source), ("b",
    * len(source)), ("c", len(text)), ("d", "xyzzy"), then the A4
    * order-insensitive sorted-concat reduce per key. */
  def constantTuples(docs: DataFrame): DataFrame =
    docs
      .select(explode(array(
        struct(lit("a").as("k"), col("source").as("v")),
        struct(lit("b").as("k"), length(col("source")).cast("string").as("v")),
        struct(lit("c").as("k"), length(col("text")).cast("string").as("v")),
        struct(lit("d").as("k"), lit("xyzzy").as("v")))).as("kv"))
      .select(col("kv.k").as("key"), col("kv.v").as("v"))
      .groupBy("key")
      .agg(concat_ws(" ", sort_array(collect_list(col("v")))).as("vals"))

  /** The reference's output format (S5, `src/mr/worker.go:131-138`):
    * `"<key> <value>"` text lines from the word count. The driver compare
    * is order-normalized (as is the reference's own test,
    * `src/main/test-mr.sh:103`), so no global sort is forced here; the
    * text sink path does `orderBy` at write time (see GoldenSink). */
  def goldenLines(docs: DataFrame): DataFrame =
    wordCount(docs).select(concat_ws(" ", col("word"), col("cnt")).as("line"))

  import org.apache.spark.sql.SparkSession
  private def onDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(graft.Tables.documents(s, dir))

  /** The GENERIC-reduce twins (round 15): the same three reference
    * reduces, but run through the [[graft.engine.GenericReduce]]
    * Aggregator — the reference's whole `Reduce(key, values) string`
    * application API (`src/main/mrworker.go:32-49`) — resolved via SQL
    * (`expr("mr_reduce_*(…)")`), so the driver's DuckDB gate pins the
    * collect-then-finish façade itself, not only the declarative
    * pipelines above. Group buffers materialize the group's values BY
    * CONTRACT (non-monoid reduces; SURVEY §2.9): per-group memory is the
    * key's value multiplicity, so the token-fan-out twins run on a
    * deterministic 1-in-20 doc subset (`doc_id % 20`, the same
    * workload-predicate idiom as the knn keys) to bound the hottest
    * word's buffer at any SF; the declarative twins above are the
    * unbounded-scale path. */
  private def withGenericReduce(spark: SparkSession): Unit =
    graft.engine.GenericReduce.register(spark)

  private def docSubset(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 20 === 0)

  def reduceWordCount(spark: SparkSession, dir: String): DataFrame = {
    withGenericReduce(spark)
    docSubset(graft.Tables.documents(spark, dir))
      .select(Tokenizer.words(col("text")).as("key"))
      .groupBy("key")
      .agg(expr("mr_reduce_count(key, '1')").as("cnt"))
  }

  def reduceSortedConcat(spark: SparkSession, dir: String): DataFrame = {
    withGenericReduce(spark)
    // Same 1-in-20 subset bound as the other generic-reduce twins
    // (round-15 advisory): grouping by lang over the FULL corpus would
    // buffer every doc_id of a language in one in-memory List — the
    // per-group multiplicity is corpus-linear, exactly the unbounded
    // state the collect-then-finish contract must be capped under. The
    // declarative mr_sorted_concat above stays full-corpus (sort_array
    // over a columnar agg buffer — spillable, no object List).
    docSubset(graft.Tables.documents(spark, dir))
      .select(col("lang").as("key"), col("doc_id").cast("string").as("v"))
      .groupBy("key")
      .agg(expr("mr_reduce_sorted_concat(key, v)").as("vals"))
  }

  def reduceIndexer(spark: SparkSession, dir: String): DataFrame = {
    withGenericReduce(spark)
    docSubset(graft.Tables.documents(spark, dir))
      .select(col("doc_id").cast("string").as("doc"),
        Tokenizer.words(col("text")).as("key"))
      .distinct()
      .groupBy("key")
      .agg(expr("mr_reduce_indexer(key, doc)").as("entry"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> onDocs(wordCount),
    "mr_inverted_index" -> onDocs(invertedIndex),
    "mr_sorted_concat" -> onDocs(sortedConcat),
    "mr_file_count" -> onDocs(fileCount),
    "mr_fanout" -> onDocs(fanout),
    "mr_constant_tuples" -> onDocs(constantTuples),
    "mr_golden_lines" -> onDocs(goldenLines),
    "mr_reduce_count" -> (reduceWordCount _),
    "mr_reduce_sorted_concat" -> (reduceSortedConcat _),
    "mr_reduce_indexer" -> (reduceIndexer _))

  private val tokenSubquery =
    """SELECT CAST(doc_id AS VARCHAR) AS doc,
      |    unnest(regexp_split_to_array(text, '[^a-zA-Z]+')) AS word
      |  FROM documents""".stripMargin

  private val tokenSubquery2 =
    """SELECT CAST(doc_id AS VARCHAR) AS doc,
      |    unnest(regexp_split_to_array(text, '[^a-zA-Z]+')) AS word
      |  FROM documents WHERE doc_id % 20 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "mr_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt FROM ($tokenSubquery)
         |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_inverted_index" ->
      s"""SELECT word, COUNT(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS docs
         |FROM (SELECT DISTINCT doc, word FROM ($tokenSubquery) WHERE word <> '')
         |GROUP BY word""".stripMargin,
    "mr_sorted_concat" ->
      """SELECT lang AS key,
        |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY CAST(doc_id AS VARCHAR)) AS vals
        |FROM documents GROUP BY lang""".stripMargin,
    "mr_file_count" ->
      "SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source",
    "mr_fanout" ->
      """SELECT k, COUNT(*) AS cnt FROM (
        |  SELECT unnest(['a','b','c','d','e','f','g','h','i','j']) AS k FROM documents)
        |GROUP BY k""".stripMargin,
    "mr_constant_tuples" ->
      """SELECT key, string_agg(v, ' ' ORDER BY v) AS vals FROM (
        |  SELECT 'a' AS key, source AS v FROM documents
        |  UNION ALL SELECT 'b', CAST(length(source) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'd', 'xyzzy' FROM documents)
        |GROUP BY key""".stripMargin,
    "mr_golden_lines" ->
      s"""SELECT word || ' ' || CAST(cnt AS VARCHAR) AS line FROM (
         |  SELECT word, COUNT(*) AS cnt FROM ($tokenSubquery)
         |  WHERE word <> '' GROUP BY word)""".stripMargin,
    // Generic-reduce twins: all-STRING outputs (the reference reduces
    // return strings) over the 1-in-20 doc subset where fan-out applies.
    "mr_reduce_count" ->
      s"""SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS cnt
         |FROM ($tokenSubquery2) WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_reduce_sorted_concat" ->
      """SELECT lang AS key,
        |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY CAST(doc_id AS VARCHAR)) AS vals
        |FROM documents WHERE doc_id % 20 = 0 GROUP BY lang""".stripMargin,
    "mr_reduce_indexer" ->
      s"""SELECT word AS key,
         |  CAST(COUNT(*) AS VARCHAR) || ' ' || string_agg(doc, ',' ORDER BY doc) AS entry
         |FROM (SELECT DISTINCT doc, word FROM ($tokenSubquery2) WHERE word <> '')
         |GROUP BY word""".stripMargin)
}
