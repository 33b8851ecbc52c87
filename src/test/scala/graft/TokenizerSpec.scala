package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.engine.Tokenizer
import graft.functions.GraftFunctions

class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  /** Reference semantics oracle: Go strings.FieldsFunc(s, !IsLetter)
    * (reference `src/mrapps/wc.go:22-35`). Iterates code points,
    * as Go ranges over runes, so a supplementary-plane letter is one
    * letter, not two non-letter surrogate halves. */
  private def goTokens(s: String, ascii: Boolean): Seq[String] = {
    val isLetter: Int => Boolean =
      if (ascii) c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      else Character.isLetter
    val out = collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    s.codePoints().forEach { c =>
      if (isLetter(c)) sb.appendCodePoint(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
    }
    if (sb.length > 0) out += sb.toString
    out.toSeq
  }

  private def sparkTokens(ss: Seq[String], pattern: String): Seq[String] =
    ss.toDF("text")
      .select(Tokenizer.words($"text", pattern).as("w"))
      .as[String].collect().toSeq

  test("matches Go FieldsFunc on hand cases (ascii)") {
    for (s <- Seq("", "  ", "a", "Hello, world!", "a1b2c3", "--x--",
        "The quick. brown_fox", "don't stop")) {
      assert(sparkTokens(Seq(s), Tokenizer.AsciiPattern) == goTokens(s, ascii = true),
        s"input: '$s'")
    }
  }

  test("matches Go FieldsFunc on hand cases (unicode)") {
    for (s <- Seq("héllo wörld", "日本語 テスト", "aéb 123 ü", "ŁódźÅåß!"))
      assert(sparkTokens(Seq(s), Tokenizer.UnicodePattern) == goTokens(s, ascii = false),
        s"input: '$s'")
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaChar, Gen.oneOf(' ', '!', '?', '0', '\n', '\t', '\'')))
      .map(_.mkString)

  test("property: concat invariance — wc(a ++ ' ' ++ b) == wc(a) + wc(b)") {
    val seed = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val a = textGen.sample.getOrElse("")
      val b = textGen.sample.getOrElse("")
      val merged = goTokens(a + " " + b, ascii = true)
        .groupBy(identity).view.mapValues(_.size).toMap
      val split = (goTokens(a, ascii = true) ++ goTokens(b, ascii = true))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(merged == split, s"a='$a' b='$b' seed=$seed")
    }
  }

  test("default pattern is the Unicode-faithful one") {
    // The default must match Go's unicode.IsLetter semantics off the
    // ASCII plane (round-10 flip), while staying identical to the ASCII
    // class on ASCII input — the property the oracle gates rely on.
    for (s <- Seq("héllo wörld", "日本語 テスト", "aéb 123 ü"))
      assert(sparkTokens(Seq(s), Tokenizer.UnicodePattern)
        == goTokens(s, ascii = false), s"input: '$s'")
    val ascii = "The quick. brown_fox don't stop"
    assert(ss2default(ascii) == goTokens(ascii, ascii = true))
    assert(ss2default("héllo wörld") == Seq("héllo", "wörld"))
  }

  private def ss2default(s: String): Seq[String] =
    Seq(s).toDF("text").select(Tokenizer.words($"text").as("w"))
      .as[String].collect().toSeq

  test("property: spark word count == sequential Go oracle (generated corpus)") {
    val ss = List.fill(50)(textGen.sample.getOrElse(""))
    val got = ss.toDF("text")
      .select(Tokenizer.words($"text").as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val want = ss.flatMap(goTokens(_, ascii = true))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
  }

  /** Byte pieces the kernel parity property concatenates at random:
    * ASCII letters and separators, 2-, 3- and 4-byte letters
    * (supplementary plane: U+1D400, U+10400), non-letters that are
    * multi-byte (combining acute U+0301, Arabic-Indic digit U+0661,
    * em dash, emoji), and ill-formed UTF-8: stray continuation bytes, an
    * overlong '/', a surrogate, a code point past U+10FFFF, truncated
    * 2-, 3- and 4-byte sequences, 0xFF. A truncated piece followed by a
    * piece that starts with continuation bytes forms a valid character,
    * so decode boundaries are exercised too. */
  private val pieces: IndexedSeq[Array[Byte]] = (
    Seq("a", "Zz", "word", " ", ", ", "\n", "7", "_", "'", "é", "Ł",
      "ß", "日本", "テ", "\uD835\uDC00", "\uD801\uDC00", "\u0301",
      "\u0661", "\u2014", "\uD83D\uDE00").map(_.getBytes(UTF_8)) ++
    Seq(Array(0x80), Array(0xbf, 0x80), Array(0xc0, 0xaf),
      Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80), Array(0xc3),
      Array(0xe4, 0xb8), Array(0xf0, 0x9f, 0x98), Array(0xff))
      .map(_.map(_.toByte))).toIndexedSeq

  private val bytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.oneOf(pieces)).map(_.toArray.flatten)

  test("property: letter-run kernel == regex split minus empties == Go oracle") {
    val docs: Seq[Option[Array[Byte]]] =
      Seq(None, Some(Array.emptyByteArray)) ++
        Seq.fill(300)(Some(bytesGen.sample.getOrElse(Array.emptyByteArray)))
    val df = docs.zipWithIndex.map { case (b, i) => (i.toLong, b.orNull) }
      .toDF("id", "bytes")
      .select($"id", $"bytes".cast("string").as("text"))
    val rows = df.select($"id",
        GraftFunctions.letterRunTokens($"text").as("kernel"),
        filter(split($"text", Tokenizer.UnicodePattern), t => length(t) > 0).as("regex"),
        GraftFunctions.letterRunTfPairs($"text").as("tf"),
        Tokenizer.tokens($"text").as("routed"),
        octet_length($"text").as("n_bytes"))
      .collect()
    assert(rows.length == docs.length)
    for (r <- rows) {
      val id = r.getLong(0).toInt
      docs(id) match {
        case None =>
          assert((1 to 4).forall(r.isNullAt), s"null text, row $r")
        case Some(b) =>
          val kernel = r.getSeq[String](1)
          val hex = b.map(x => f"${x & 0xff}%02x").mkString(" ")
          assert(r.getInt(5) == b.length, s"the cast kept the raw bytes: $hex")
          assert(kernel == r.getSeq[String](2), s"vs regex split, bytes: $hex")
          assert(kernel == goTokens(new String(b, UTF_8), ascii = false),
            s"vs Go oracle, bytes: $hex")
          assert(r.getSeq[String](4) == kernel, s"Tokenizer routing, bytes: $hex")
          val tf = r.getSeq[org.apache.spark.sql.Row](3).map(p => p.getString(0) -> p.getLong(1))
          assert(tf.map(_._1) == kernel.distinct, s"tf words in first-seen order, bytes: $hex")
          assert(tf.toMap == kernel.groupBy(identity).view.mapValues(_.size.toLong).toMap,
            s"tf counts, bytes: $hex")
      }
    }
  }

  test("the default Tokenizer rule runs on the kernel, explicit patterns keep the regex") {
    val text = Seq("a b").toDF("text")
    def plan(c: org.apache.spark.sql.Column): String =
      text.select(c).queryExecution.executedPlan.toString
    assert(plan(Tokenizer.tokens($"text")).contains("graft_letter_run_tokens"))
    assert(!plan(Tokenizer.tokens($"text")).contains("split("))
    assert(plan(Tokenizer.tokens($"text", Tokenizer.AsciiPattern)).contains("split("))
  }
}
