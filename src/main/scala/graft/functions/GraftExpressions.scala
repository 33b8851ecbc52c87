package graft.functions

import org.apache.spark.sql.{Column, GraftColumn, SparkSession}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot hash/similarity kernels.
  *
  * Why expressions and not HOF columns or UDFs: the original
  * higher-order-function formulations (per-character `regexp_extract_all`
  * + interpreted `aggregate` folds) dominated the round-1 bench (199 s of
  * 217 s at sf0.1). These expressions compute the identical integer math
  * in one compiled pass per row, participate in whole-stage codegen
  * (`doGenCode` emits a static call into [[HashKernels]]), and keep the
  * DuckDB oracles unchanged. No UDF registration/serialization overhead,
  * no Row conversion.
  */
object GraftExpressions {

  private val longArray = ArrayType(LongType, containsNull = false)

  case class PolyHash(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_poly_hash"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.polyHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.polyHash($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class WordHashes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_word_hashes"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.wordHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordHashes($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_shingle_hashes"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.shingleHashes(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleHashes($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class SpanHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_span_hashes"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.spanHashes(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.spanHashes($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class CharCounts(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_char_counts"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.charCounts(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charCounts($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class PhraseRuns(child: Expression, stops: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_phrase_runs"
    // One set per expression INSTANCE (plan-compile time), shared by
    // every row in both the interpreted and codegen paths.
    @transient private lazy val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      stops.foreach(s.add)
      s
    }
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.phraseRuns(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], stopSet)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("stopSet", stopSet,
        "java.util.HashSet<String>")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.phraseRuns($c, $setRef)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class WordTfPairs(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_word_tf_pairs"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.wordTfPairs(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordTfPairs($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class WordTokens(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_word_tokens"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.wordTokens(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordTokens($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Tf-pair and token arrays of the case-preserving Unicode-letter
    * runs ([[HashKernels.letterRunTfPairs]] / [[HashKernels.letterRunTokens]]). */
  case class LetterRunTfPairs(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_letter_run_tf_pairs"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.letterRunTfPairs(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.letterRunTfPairs($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class LetterRunTokens(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_letter_run_tokens"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.letterRunTokens(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.letterRunTokens($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class CharEntropyStats(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_char_entropy_stats"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.charEntropyStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charEntropyStats($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class CharTrigramHashes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_char_trigram_hashes"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.charTrigramHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charTrigramHashes($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class WordHashes37(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_word_hashes37"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.wordHashes37(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordHashes37($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class SpanHashes64(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_span_hashes64"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.spanHashes64(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.HashKernels.spanHashes64($a, $b, $k)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class MinHashSig(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_minhash_sig"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.minhashSig(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashSig($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class MinHashBands(child: Expression, bands: Int)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_minhash_bands"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.minhashBands(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashBands($c, $bands)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class SimHash(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.simHash(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simHash($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class HyperplaneBuckets(child: Expression, nTables: Int, bits: Int)
      extends UnaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_hyperplane_buckets"
    override protected def nullSafeEval(input: Any): Any =
      HashKernels.hyperplaneBuckets(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nTables, bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.hyperplaneBuckets($c, $nTables, $bits)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class SortedIntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_sorted_intersect_size"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.sortedIntersectSize(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.HashKernels.sortedIntersectSize($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class DotLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_dot_long"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.dotLong(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotLong($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class SigMatchCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_sig_match_count"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.sigMatchCount(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.HashKernels.sigMatchCount($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** One-pass ASCII text statistic (TextKernels method named by `stat`). */
  case class TextStat(child: Expression, stat: String)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = s"graft_$stat"
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      stat match {
        case "ws_token_count" => TextKernels.wsTokenCount(s)
        case "bpe_piece_count" => TextKernels.bpePieceCount(s)
        case "punct_count" => TextKernels.punctCount(s)
        case "letter_count" => TextKernels.letterCount(s)
        case "word_count" => TextKernels.wordCount(s)
      }
    }
    private def method: String = stat.split("_").toList match {
      case h :: t => h + t.map(_.capitalize).mkString
      case Nil => stat
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.$method($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class StopwordCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_stopword_count"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextKernels.stopwordCount(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.TextKernels.stopwordCount($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class GreedyPieces(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = longArray
    override def prettyName: String = "graft_greedy_pieces"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextKernels.greedyPieces(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.TextKernels.greedyPieces($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class NormalizeWs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_normalize_ws"
    override protected def nullSafeEval(input: Any): Any =
      TextKernels.normalizeWs(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.normalizeWs($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringArrayLit(e: Expression, what: String): Seq[String] = e match {
    case org.apache.spark.sql.catalyst.expressions.CreateArray(children, _) =>
      children.map {
        case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          v.toString
        case other => throw new IllegalArgumentException(
          s"$what must be an array of string literals, got element $other")
      }
    case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
        ArrayType(StringType, _)) =>
      a.toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
        .map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"$what must be a string-array literal, got $other")
  }

  /** Function-registry builders: name -> Seq[Expression] => Expression. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_poly_hash" -> (args => PolyHash(args.head)),
    "graft_word_hashes" -> (args => WordHashes(args.head)),
    "graft_shingle_hashes" ->
      (args => ShingleHashes(args.head, intLit(args(1), "k"))),
    "graft_span_hashes" ->
      (args => SpanHashes(args.head, intLit(args(1), "k"))),
    "graft_word_hashes37" -> (args => WordHashes37(args.head)),
    "graft_char_trigram_hashes" -> (args => CharTrigramHashes(args.head)),
    "graft_char_counts" -> (args => CharCounts(args.head)),
    "graft_char_entropy_stats" -> (args => CharEntropyStats(args.head)),
    "graft_phrase_runs" ->
      (args => PhraseRuns(args.head, stringArrayLit(args(1), "stops"))),
    "graft_word_tf_pairs" -> (args => WordTfPairs(args.head)),
    "graft_word_tokens" -> (args => WordTokens(args.head)),
    "graft_letter_run_tf_pairs" -> (args => LetterRunTfPairs(args.head)),
    "graft_letter_run_tokens" -> (args => LetterRunTokens(args.head)),
    // Bounded top-k aggregate: the k SMALLEST inputs under the input
    // type's natural ordering, as a sorted-ascending array. Spark's own
    // CollectTopK (the nsmallest/nlargest engine) — a
    // TypedImperativeAggregate whose partial state is a k-bounded heap,
    // so a groupBy(key).agg(topK(...)) exchanges k rows per key where
    // Filter(row_number()<=k) over a Window exchanges EVERY row to the
    // key's reducer first. Encode descending fields by negation
    // (struct(-score, word) = score DESC, word ASC).
    "graft_top_k_smallest" -> (args =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
        args.head, intLit(args(1), "k"), true)),
    "graft_span_hashes64" ->
      (args => SpanHashes64(args.head, args(1), intLit(args(2), "k"))),
    "graft_minhash_sig" -> (args => MinHashSig(args.head)),
    "graft_minhash_bands" ->
      (args => MinHashBands(args.head, intLit(args(1), "bands"))),
    "graft_simhash" -> (args => SimHash(args.head)),
    "graft_hyperplane_buckets" -> (args =>
      HyperplaneBuckets(args.head, intLit(args(1), "nTables"), intLit(args(2), "bits"))),
    "graft_sorted_intersect_size" ->
      (args => SortedIntersectSize(args.head, args(1))),
    "graft_dot_long" -> (args => DotLong(args.head, args(1))),
    "graft_sig_match_count" -> (args => SigMatchCount(args.head, args(1))),
    "graft_ws_token_count" -> (args => TextStat(args.head, "ws_token_count")),
    "graft_bpe_piece_count" -> (args => TextStat(args.head, "bpe_piece_count")),
    "graft_punct_count" -> (args => TextStat(args.head, "punct_count")),
    "graft_letter_count" -> (args => TextStat(args.head, "letter_count")),
    "graft_word_count" -> (args => TextStat(args.head, "word_count")),
    "graft_stopword_count" -> (args => StopwordCount(args.head, args(1))),
    "graft_greedy_pieces" -> (args => GreedyPieces(args.head, args(1))),
    "graft_normalize_ws" -> (args => NormalizeWs(args.head)))
}

/** Session-scoped registration + typed Column helpers. `register` is
  * idempotent and called from [[graft.Tables]], so every query/test path
  * that touches a table can use the graft_* functions. */
object GraftFunctions {

  // Register once per session: [[graft.Tables]] calls register on every
  // table load, and re-registering emitted a SimpleFunctionRegistry
  // "function replaced" WARN per kernel per call — hundreds of lines
  // that drowned the bench summary in the driver's stdout tail window
  // (r10 ask #7). Weak keys so a stopped session doesn't pin.
  private val registered = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def register(spark: SparkSession): Unit =
    // Whole check-and-install under one lock: marking BEFORE installing
    // let a concurrent second caller proceed mid-install, and a builder
    // failure left the session permanently marked with functions missing
    // (round-11 advisory). The flag is set only after success, so a
    // failed install retries on the next call.
    registered.synchronized {
      if (!registered.contains(spark)) {
        GraftExpressions.builders.foreach { case (name, builder) =>
          spark.sessionState.functionRegistry
            .createOrReplaceTempFunction(name, builder, "built-in")
        }
        registered.add(spark)
      }
    }

  def polyHash(c: Column): Column = call_function("graft_poly_hash", c)
  def wordHashes(c: Column): Column = call_function("graft_word_hashes", c)
  def shingleHashes(whs: Column, k: Int): Column =
    call_function("graft_shingle_hashes", whs, lit(k))
  def spanHashes(whs: Column, k: Int): Column =
    call_function("graft_span_hashes", whs, lit(k))
  def wordHashes37(c: Column): Column = call_function("graft_word_hashes37", c)
  def charTrigramHashes(c: Column): Column =
    call_function("graft_char_trigram_hashes", c)
  def charCounts(c: Column): Column = call_function("graft_char_counts", c)
  def charEntropyStats(c: Column): Column =
    call_function("graft_char_entropy_stats", c)
  def phraseRuns(c: Column, stops: Seq[String]): Column =
    call_function("graft_phrase_runs", c,
      org.apache.spark.sql.functions.array(stops.map(lit): _*))
  def wordTfPairs(c: Column): Column = call_function("graft_word_tf_pairs", c)
  /** Ordered `[a-z]+` token array under the SAME byte-level ASCII rule
    * as [[wordTfPairs]] — use when frequency and positional stats must
    * share one tokenizer. */
  def wordTokens(c: Column): Column = call_function("graft_word_tokens", c)
  /** Per-document (word, tf) pairs of the case-preserving Unicode-letter
    * runs. Built from the expression itself, so it needs no prior
    * [[register]] on the session. */
  def letterRunTfPairs(c: Column): Column =
    GraftColumn(GraftExpressions.LetterRunTfPairs(expression(c)))
  /** Token form of [[letterRunTfPairs]]: the letter runs in document order. */
  def letterRunTokens(c: Column): Column =
    GraftColumn(GraftExpressions.LetterRunTokens(expression(c)))
  /** k smallest values of `c` per group, sorted ascending. */
  def topKSmallest(c: Column, k: Int): Column =
    call_function("graft_top_k_smallest", c, lit(k))
  def spanHashes64(whs1: Column, whs2: Column, k: Int): Column =
    call_function("graft_span_hashes64", whs1, whs2, lit(k))
  def minhashSig(sh: Column): Column = call_function("graft_minhash_sig", sh)
  def minhashBands(sig: Column, bands: Int): Column =
    call_function("graft_minhash_bands", sig, lit(bands))
  def simhash(whs: Column): Column = call_function("graft_simhash", whs)
  def hyperplaneBuckets(qv: Column, nTables: Int, bits: Int): Column =
    call_function("graft_hyperplane_buckets", qv,
      lit(nTables), lit(bits))
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_size", a, b)
  def dotLong(a: Column, b: Column): Column = call_function("graft_dot_long", a, b)
  /** Slot-wise equality count of two aligned signature arrays. */
  def sigMatchCount(a: Column, b: Column): Column =
    call_function("graft_sig_match_count", a, b)
  def wsTokenCount(c: Column): Column = call_function("graft_ws_token_count", c)
  def bpePieceCount(c: Column): Column = call_function("graft_bpe_piece_count", c)
  def punctCount(c: Column): Column = call_function("graft_punct_count", c)
  def letterCount(c: Column): Column = call_function("graft_letter_count", c)
  def wordCount(c: Column): Column = call_function("graft_word_count", c)
  def stopwordCount(text: Column, lang: Column): Column =
    call_function("graft_stopword_count", text, lang)
  def greedyPieces(word: Column, vocab: Column): Column =
    call_function("graft_greedy_pieces", word, vocab)
  def normalizeWs(c: Column): Column = call_function("graft_normalize_ws", c)
}
