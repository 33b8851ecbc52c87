package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind the graft_* Catalyst expressions
  * ([[GraftExpressions]]). Each computes the exact integer fold that the
  * DuckDB oracle SQL states (graft.ext.Hashing documents the hash family),
  * so results are bit-identical across engines — these are performance
  * twins of the original higher-order-function columns, not new semantics.
  *
  * Scala objects emit static forwarders, so generated whole-stage code can
  * call `graft.functions.HashKernels.m(...)` directly.
  */
object HashKernels {

  val P = 2147483647L // 2^31 - 1

  // MinHash permutation constants — SINGLE source of truth; the oracle
  // SQL in graft.ext.Hashing re-exports these.
  val NumPerms = 16
  val permA: Array[Long] =
    Array.tabulate(NumPerms)(i => (2654435761L * (i + 1)) % (P - 1) + 1)
  val permB: Array[Long] =
    Array.tabulate(NumPerms)(i => (40503L * (i + 1) * 2654435789L) % P)

  /** 31-bit polynomial hash over code points: fold (acc*31 + cp) mod P.
    * Equals the `ascii(char)`-fold HOF for any input (Spark `ascii` and
    * DuckDB `ascii` both return the code point of a 1-char string). */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hashes of lowercased `[a-z]+` word runs, in order — the one-pass twin
    * of `split(lower(text), "[^a-z]+")` + per-word polyHash. Any byte
    * outside ASCII letters is a separator; multi-byte UTF-8 code units are
    * all ≥ 0x80, so non-ASCII text separates words on both paths (the
    * corpus is ASCII — FIXTURES.md). */
  def wordHashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var out = new Array[Long](math.max(8, bytes.length / 6))
    var m = 0
    var acc = 0L
    var inWord = false
    var i = 0
    while (i < bytes.length) {
      var c = bytes(i) & 0xff
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') {
        acc = (acc * 31 + c) % P
        inWord = true
      } else if (inWord) {
        if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
        out(m) = acc; m += 1
        acc = 0L; inWord = false
      }
      i += 1
    }
    if (inWord) {
      if (m == out.length) out = java.util.Arrays.copyOf(out, m + 1)
      out(m) = acc; m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }

  /** Distinct k-word shingle hashes, returned SORTED ascending (set
    * semantics — downstream consumers are min/intersect/size, all
    * order-insensitive; sortedness enables the two-pointer intersect). */
  def shingleHashes(whs: ArrayData, k: Int): ArrayData = {
    val n = whs.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - k + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 1000003 + whs.getLong(i + j)) % P; j += 1 }
      arr(i) = acc
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    var r = 1
    while (r < m) {
      if (arr(r) != arr(w)) { w += 1; arr(w) = arr(r) }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(arr, w + 1))
  }

  /** k-word span hashes in POSITION order with multiplicity preserved —
    * the positional twin of [[shingleHashes]] (same fold, no sort, no
    * dedup). Element i is the hash of the span starting at word i; the
    * substring-dedup layer counts occurrences, so repeats must survive. */
  def spanHashes(whs: ArrayData, k: Int): ArrayData = {
    val n = whs.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - k + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 1000003 + whs.getLong(i + j)) % P; j += 1 }
      arr(i) = acc
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  /** Per-document character histogram, COUNTS ONLY: the multiset of
    * per-distinct-code-point occurrence counts, ascending. The
    * entropy/Simpson math downstream is symmetric in the characters —
    * it never looks at WHICH code point a count belongs to — so the
    * kernel never ships the characters: one compiled pass replaces a
    * per-character `regexp_extract_all` + explode (one row per corpus
    * CHARACTER — ~700M rows at sf10) + a (doc, char) exchange with a
    * ~|alphabet|-element array per doc. Code-point segmentation
    * (String.codePointAt) matches the Java-regex `[\s\S]` per-match
    * semantics of the formulation it replaces. */
  def charCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    val m = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      m.update(cp.toLong, m.getOrElse(cp.toLong, 0L) + 1L)
      i += Character.charCount(cp)
    }
    val out = m.values.toArray
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Bound for [[charEntropyStats]]: doc length (and so every per-char
    * count) must be < this for the static log table to cover it. */
  val EntropyTabMax = 2048

  /** ⌊100·log2 k⌋ exactly, no floating point: bitLength(k^100) − 1.
    * Computed once per JVM (2047 BigInt pows, milliseconds). */
  private lazy val log2cb: Array[Long] = {
    val a = new Array[Long](EntropyTabMax)
    var k = 1
    while (k < EntropyTabMax) {
      a(k) = BigInt(k).pow(100).bitLength - 1L
      k += 1
    }
    a
  }

  /** One-pass per-doc character-quality stats:
    * [n, n_distinct, entropy_cb, simpson_pm, eff_chars] (the
    * quality_char_entropy columns), all exact integer arithmetic
    * against the static ⌊100·log2 k⌋ table — the fused form of
    * charCounts → explode → two broadcast table joins → agg, which
    * shuffled one row per (doc, distinct char) and was a top-5 sf10
    * key for what is row-local map work. Empty docs return an EMPTY
    * array (the explode form emitted no rows for them — callers filter
    * on size); docs of length ≥ [[EntropyTabMax]] throw (the round-15
    * loud-failure contract). */
  def charEntropyStats(s: UTF8String): ArrayData = {
    val str = s.toString
    val m = new scala.collection.mutable.LongMap[Long]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      m.update(cp.toLong, m.getOrElse(cp.toLong, 0L) + 1L)
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    if (n >= EntropyTabMax)
      throw new IllegalArgumentException(
        s"CharEntropy: doc length >= TabMax ($EntropyTabMax); " +
          "raise TabMax for this corpus")
    var nd = 0L
    var sumClb = 0L
    var sumC2 = 0L
    m.foreachValue { c =>
      nd += 1
      sumClb += c * log2cb(c.toInt)
      sumC2 += c * c
    }
    UnsafeArrayData.fromPrimitiveArray(Array(
      n, nd,
      (n * log2cb(n.toInt) - sumClb) / n,
      1000L - (1000L * sumC2) / (n * n),
      (n * n) / sumC2))
  }

  /** Stopword-delimited content-word runs (RAKE candidate phrases):
    * lowercase `[a-z]+` tokens (the [[wordHashes]] tokenization), split
    * into maximal runs at stopwords, each run joined with single
    * spaces. One pass per doc — the fused form of posexplode(token) +
    * per-doc window island-ids + collect_list/sort reconstruction,
    * which shuffled one row per corpus TOKEN (the sf10 cost of the
    * RAKE key). `stops` must be a lowercase set. */
  def phraseRuns(s: UTF8String, stops: java.util.HashSet[String]): ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    val run = new java.lang.StringBuilder()
    val word = new java.lang.StringBuilder()
    def endWord(): Unit = if (word.length > 0) {
      val w = word.toString
      word.setLength(0)
      if (stops.contains(w)) {
        if (run.length > 0) {
          out.add(UTF8String.fromString(run.toString)); run.setLength(0)
        }
      } else {
        if (run.length > 0) run.append(' ')
        run.append(w)
      }
    }
    var i = 0
    while (i < bytes.length) {
      var c = bytes(i) & 0xff
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') word.append(c.toChar) else endWord()
      i += 1
    }
    endWord()
    if (run.length > 0) out.add(UTF8String.fromString(run.toString))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** Per-document term frequencies: (word, tf) structs for the
    * lowercase `[a-z]+` tokens (the [[wordHashes]] tokenization),
    * sorted by word — the one-pass, shuffle-free twin of
    * explode(tokens) + groupBy(doc_id, word).count(), which exchanged
    * one row per corpus (doc, word) pair (the tf stage every tf-idf
    * consumer paid at sf10). */
  def wordTfPairs(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val counts = new java.util.TreeMap[String, java.lang.Long]()
    val word = new java.lang.StringBuilder()
    def endWord(): Unit = if (word.length > 0) {
      val w = word.toString
      word.setLength(0)
      val prev = counts.get(w)
      counts.put(w, if (prev == null) 1L else prev.longValue + 1L)
    }
    var i = 0
    while (i < bytes.length) {
      var c = bytes(i) & 0xff
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') word.append(c.toChar) else endWord()
      i += 1
    }
    endWord()
    val out = new Array[AnyRef](counts.size)
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue.longValue))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Byte ranges of the case-preserving Unicode-letter runs of `s`, as
    * packed (start, end) offset pairs in document order — the one scan
    * behind [[letterRunTfPairs]] and [[letterRunTokens]], and the
    * compiled twin of `split(text, "[^\\p{L}]+")` minus empty tokens
    * (the reference's `strings.FieldsFunc(contents, !unicode.IsLetter)`,
    * `src/mrapps/wc.go:22-35`). ASCII bytes are tested inline; a
    * multi-byte sequence is decoded and tested with `Character.isLetter`
    * (general category L, the regex's `\p{L}`). A byte that does not
    * start a well-formed UTF-8 sequence (stray continuation, overlong
    * form, surrogate, truncation, past U+10FFFF) is a separator, as the
    * U+FFFD it decodes to in `UTF8String.toString` is for the split. */
  private def letterRuns(s: UTF8String): Array[Int] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var out = new Array[Int](16)
    var m = 0
    var start = -1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xff
      var len = 1
      val letter =
        if (b < 0x80) { val lc = b | 0x20; lc >= 'a' && lc <= 'z' }
        else {
          val cl = decodeUtf8(base, off, i, n, b)
          if (cl < 0) false
          else { len = cl & 7; Character.isLetter(cl >>> 3) }
        }
      if (letter) { if (start < 0) start = i }
      else if (start >= 0) {
        if (m + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(m) = start; out(m + 1) = i; m += 2
        start = -1
      }
      i += len
    }
    if (start >= 0) {
      if (m + 2 > out.length) out = java.util.Arrays.copyOf(out, m + 2)
      out(m) = start; out(m + 1) = n; m += 2
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** Code point and byte length of the well-formed UTF-8 sequence at
    * byte `i`, whose lead byte `b` is ≥ 0x80, packed as cp << 3 | len;
    * -1 when the bytes there are not well-formed (Unicode Table 3-7). */
  private def decodeUtf8(base: AnyRef, off: Long, i: Int, n: Int, b: Int): Int = {
    def cont(k: Int, lo: Int, hi: Int): Int =
      if (i + k >= n) -1
      else {
        val c = Platform.getByte(base, off + i + k) & 0xff
        if (c < lo || c > hi) -1 else c & 0x3f
      }
    if (b >= 0xc2 && b <= 0xdf) {
      val c1 = cont(1, 0x80, 0xbf)
      if (c1 < 0) -1 else (((b & 0x1f) << 6 | c1) << 3) | 2
    } else if (b >= 0xe0 && b <= 0xef) {
      val c1 = cont(1, if (b == 0xe0) 0xa0 else 0x80, if (b == 0xed) 0x9f else 0xbf)
      val c2 = if (c1 < 0) -1 else cont(2, 0x80, 0xbf)
      if (c2 < 0) -1 else (((b & 0x0f) << 12 | c1 << 6 | c2) << 3) | 3
    } else if (b >= 0xf0 && b <= 0xf4) {
      val c1 = cont(1, if (b == 0xf0) 0x90 else 0x80, if (b == 0xf4) 0x8f else 0xbf)
      val c2 = if (c1 < 0) -1 else cont(2, 0x80, 0xbf)
      val c3 = if (c2 < 0) -1 else cont(3, 0x80, 0xbf)
      if (c3 < 0) -1 else (((b & 0x07) << 18 | c1 << 12 | c2 << 6 | c3) << 3) | 4
    } else -1
  }

  /** Per-document term frequencies of the case-preserving Unicode-letter
    * runs ([[letterRuns]]): (word, tf) structs in order of each word's
    * first occurrence. The map-side combine of the MapReduce word count
    * and the per-document distinct words of the inverted index — one
    * row per (document, distinct word) reaches the explode instead of
    * one per token. Words are copied out once, when first seen. */
  def letterRunTfPairs(s: UTF8String): ArrayData = {
    val runs = letterRuns(s)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val tf = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var r = 0
    while (r < runs.length) {
      val w = UTF8String.fromAddress(base, off + runs(r), runs(r + 1) - runs(r))
      val c = tf.get(w)
      if (c == null) tf.put(w.copy(), Array(1L)) else c(0) += 1L
      r += 2
    }
    val out = new Array[AnyRef](tf.size)
    var k = 0
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The case-preserving Unicode-letter runs of `s` in document order,
    * repeats kept — the token form of [[letterRunTfPairs]]. */
  def letterRunTokens(s: UTF8String): ArrayData = {
    val runs = letterRuns(s)
    val out = new Array[AnyRef](runs.length / 2)
    var k = 0
    while (k < out.length) {
      out(k) = s.copyUTF8String(runs(2 * k), runs(2 * k + 1) - 1)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Ordered lowercase `[a-z]+` token array — the SAME byte-level ASCII
    * tokenization as [[wordTfPairs]]/[[wordHashes]], emitting the tokens
    * themselves in document order. Exists so consumers that need both
    * frequency stats AND positional structure (adjacent n-grams) derive
    * both from ONE tokenizer: the previous mix of this kernel's rule for
    * unigrams with a `lower()` + regex split for 2-grams diverged on
    * off-ASCII case mappings (U+212A KELVIN SIGN lowercases to ASCII
    * 'k' under UTF-8 `lower()` but is a non-letter byte sequence here),
    * making one row's n_tokens and n_2grams internally inconsistent
    * (round-15 advisory). */
  def wordTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    val word = new java.lang.StringBuilder()
    def endWord(): Unit = if (word.length > 0) {
      out.add(UTF8String.fromString(word.toString))
      word.setLength(0)
    }
    var i = 0
    while (i < bytes.length) {
      var c = bytes(i) & 0xff
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') word.append(c.toChar) else endWord()
      i += 1
    }
    endWord()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** Positional character-trigram hashes over the raw byte string:
    * element i = ((b_i·31 + b_{i+1})·31 + b_{i+2}) mod P — the one-pass
    * twin of substring(s, i, 3) + polyHash, exact on the ASCII corpus.
    * Order + multiplicity preserved (the n-gram language-ID profiles
    * count occurrences). */
  def charTrigramHashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) = (((bytes(i) & 0xffL) * 31 + (bytes(i + 1) & 0xffL)) * 31 +
        (bytes(i + 2) & 0xffL)) % P
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[wordHashes]] with char multiplier 37 instead of 31 — the second,
    * independent member of the widened span-hash family. Kept a separate
    * full scan (not a param) so both stay monomorphic hot loops. */
  def wordHashes37(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var out = new Array[Long](math.max(8, bytes.length / 6))
    var m = 0
    var acc = 0L
    var inWord = false
    var i = 0
    while (i < bytes.length) {
      var c = bytes(i) & 0xff
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') {
        acc = (acc * 37 + c) % P
        inWord = true
      } else if (inWord) {
        if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
        out(m) = acc; m += 1
        acc = 0L; inWord = false
      }
      i += 1
    }
    if (inWord) {
      if (m == out.length) out = java.util.Arrays.copyOf(out, m + 1)
      out(m) = acc; m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }

  /** Widened positional span hashes: two INDEPENDENT 31-bit folds — the
    * base-31 word hashes folded with 1000003 and the base-37 word hashes
    * folded with 1000033 — packed as h1·2^31 + h2 (< 2^62, so the oracle
    * replays it in DuckDB's checked BIGINT arithmetic, where a genuine
    * 64-bit wraparound hash could not run at all). A false span now needs
    * a simultaneous collision in both independent families (~n²/2^62):
    * the production-scale widening of the 31-bit [[spanHashes]], which
    * keeps ~n²/2^31 odds. Both word-hash arrays must come from the same
    * text (same word count); mismatched lengths throw rather than
    * truncate. */
  def spanHashes64(whs1: ArrayData, whs2: ArrayData, k: Int): ArrayData = {
    val n = whs1.numElements()
    if (n != whs2.numElements())
      throw new IllegalArgumentException(
        s"spanHashes64: word-hash arrays of different lengths ($n vs ${whs2.numElements()})")
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - k + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h1 = 0L
      var h2 = 0L
      var j = 0
      while (j < k) {
        h1 = (h1 * 1000003 + whs1.getLong(i + j)) % P
        h2 = (h2 * 1000033 + whs2.getLong(i + j)) % P
        j += 1
      }
      arr(i) = h1 * 2147483648L + h2
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  /** 16-permutation MinHash signature of a shingle set: one pass, no
    * shuffle (twin of explode + groupBy + 16×min). Empty input yields
    * MaxValue sentinels — callers filter size(sh) > 0 first, matching the
    * explode path which drops empty docs. */
  def minhashSig(sh: ArrayData): ArrayData = {
    val sig = new Array[Long](NumPerms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val h = sh.getLong(i)
      var p = 0
      while (p < NumPerms) {
        val v = (permA(p) * h + permB(p)) % P
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** LSH band hashes over a 16-long signature: `bands` contiguous groups,
    * each folded (acc*31 + s) mod P — same fold as the oracle SQL. */
  def minhashBands(sig: ArrayData, bands: Int): ArrayData = {
    val rows = NumPerms / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var r = 0
      while (r < rows) { acc = (acc * 31 + sig.getLong(b * rows + r)) % P; r += 1 }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** |a ∩ b| for SORTED long arrays (two-pointer merge, no allocation). */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  /** Exact Long dot product of two equal-length long arrays. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** Slot-wise equality count of two aligned long arrays — the MinHash
    * collision estimator's inner loop (matches/NumPerms estimates
    * Jaccard). One codegen'd pass; used to RANK candidate pairs by a
    * fixed-width signature before any exact array verify, so the pair
    * shuffle never carries full shingle sets. */
  def sigMatchCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var m = 0L
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) m += 1; i += 1 }
    m
  }

  /** 31-bit SimHash of a word-hash array: bit i set iff
    * sum_w (2*bit_i(h(w)) - 1) > 0 — one pass over 31 counters. */
  def simHash(whs: ArrayData): Long = {
    val counts = new Array[Long](31)
    val n = whs.numElements()
    var i = 0
    while (i < n) {
      val h = whs.getLong(i)
      var bit = 0
      while (bit < 31) { counts(bit) += ((h >> bit) & 1L) * 2 - 1; bit += 1 }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 31) { if (counts(bit) > 0) out |= 1L << bit; bit += 1 }
    out
  }

  /** Multi-table random-hyperplane LSH buckets over a quantized vector:
    * `nTables` buckets of `bits` sign-bits each. Plane j's component d is
    * the derived integer ((j*2654435761 + d*40503) mod 2047) - 1023 —
    * stateless, reproduced verbatim in the oracle SQL. */
  def hyperplaneBuckets(qv: ArrayData, nTables: Int, bits: Int): ArrayData = {
    val dim = qv.numElements()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val j = t * bits + b
        var dot = 0L
        var d = 0
        while (d < dim) {
          dot += qv.getLong(d) * (((j * 2654435761L + d * 40503L) % 2047) - 1023)
          d += 1
        }
        if (dot > 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
