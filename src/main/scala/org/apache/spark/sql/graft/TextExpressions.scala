/*
 * Lives under org.apache.spark.sql.* because Catalyst's extension surface is
 * private[sql] in Spark 4 (same as GeoExpressions/VecExpressions).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass language-ID kernel. The declarative formulation (regexp_replace
 * for the CJK ratio + 4 langs x 10 `array_contains` scans of the token array)
 * re-walks the text ~41 times per row; this walks it twice (codepoints, then
 * tokens) and ORs stopword hits into one 40-bit presence mask.
 *
 * Semantics are EXACTLY the declarative version's (q27's DuckDB oracle
 * replays that formula):
 *  - cjk ratio  = codepoints in [U+4E00, U+9FFF] / max(numChars, 1) > 0.2 → "zh"
 *  - score(l)   = |distinct stopwords of l present| / 10.0   (presence, not count)
 *  - pred       = argmax over (score, lang-code) LEXICOGRAPHIC — ties pick the
 *                 lexicographically greatest code, matching array_max over
 *                 struct(score, lang)
 *  - all scores 0 → "und"
 */
object LangIdKernel {
  private val langs: Array[String] = Array("en", "de", "fr", "es")

  /** token → OR-mask of (langIdx*10 + wordIdx) bits (a word may serve several langs). */
  private val wordMask: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    var li = 0
    while (li < langs.length) {
      val words = graft.functions.TextFunctions.stopwords(langs(li))
      var wi = 0
      while (wi < words.size) {
        val bit = 1L << (li * 10 + wi)
        val prev = m.get(words(wi))
        m.put(words(wi), if (prev == null) bit else prev | bit)
        wi += 1
      }
      li += 1
    }
    m
  }

  private val ZH = UTF8String.fromString("zh")
  private val UND = UTF8String.fromString("und")
  private val LANG_U8: Array[UTF8String] = langs.map(UTF8String.fromString)

  def eval(text: UTF8String): UTF8String = {
    val s = text.toString
    var cjk = 0
    var total = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      total += 1
      i += Character.charCount(cp)
    }
    if (cjk.toDouble / math.max(total.toDouble, 1.0) > 0.2) return ZH

    var mask = 0L
    val toks = s.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    var t = 0
    while (t < toks.length) {
      val m = wordMask.get(toks(t))
      if (m != null) mask |= m.longValue()
      t += 1
    }
    var bestHits = 0
    var bestIdx = -1
    var li = 0
    while (li < langs.length) {
      val hits = java.lang.Long.bitCount((mask >>> (li * 10)) & 0x3ffL)
      // lexicographic (score, code) max — ties resolve to the greater code
      if (bestIdx < 0 || hits > bestHits ||
          (hits == bestHits && langs(li).compareTo(langs(bestIdx)) > 0)) {
        bestHits = hits; bestIdx = li
      }
      li += 1
    }
    if (bestHits > 0) LANG_U8(bestIdx) else UND
  }
}

/**
 * One-pass sliding n-gram shingles: lower → split(" ") → join n consecutive
 * tokens with spaces, all in a single JIT loop per row. Replaces the
 * posexplode + window-lead formulation, whose per-(doc) sort shuffled every
 * TOKEN row just to rebuild adjacency the source string already had.
 * String semantics identical to
 * `w[i] || ' ' || w[i+1] ... ` over `split(lower(text), ' ')` (single-space
 * split, empty tokens kept) — the DuckDB oracle replays exactly that.
 */
object ShingleKernel {
  /** The ONE tokenizer both shingle kernels share — the bit-identical
    * contract between shingle_make and md5_minhash_sig (and their DuckDB
    * oracles) rests on this being a single definition. */
  private[graft] def toks(text: UTF8String): Array[String] =
    text.toLowerCase.toString.split(" ", -1)

  /** Shingle i = tokens i..i+n-1 joined with single spaces (shared by both
    * kernels for the same reason as [[toks]]). */
  private[graft] def shingleAt(toks: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(toks(i))
    var j = 1
    while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
    sb.toString
  }

  def eval(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val ts = toks(text)
    val m = ts.length - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromString(shingleAt(ts, i, n))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** shingle_make(text, n) — generator-style, explode the result. */
case class ShingleMakeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def nullSafeEval(t: Any, n: Any): Any =
    ShingleKernel.eval(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"org.apache.spark.sql.graft.ShingleKernel.eval($t, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "shingle_make"
}

/**
 * One-pass md5-slice MinHash signature: per permutation p ∈ [0, perms), the
 * minimum over the row's word n-gram shingles of hex chars [p*8, p*8+8) of
 * md5(shingle). Bit-identical to the relational formulation
 * `explode(shingle_make) → md5 → substring slices → groupBy(id, band) min`
 * (the q19 DuckDB-oracle contract): the UTF8String min over 8-hex-char
 * slices equals the unsigned-int min over the digest's 4-byte slices because
 * hex encoding is order-preserving. Computing the minima inside the row loop
 * removes the shingle explode and the (id, band) hash aggregate — the
 * signature never leaves the scan stage (guide §2.4: remove shuffles
 * outright). Returns an EMPTY array when the row has no shingle (the
 * relational form emitted no row), so posexplode drops it identically.
 */
object Md5MinHashKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  def eval(text: UTF8String, n: Int, perms: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // tokenization/shingling shared with ShingleKernel — the bit-identical
    // contract with the relational shingle_make form depends on it
    val toks = ShingleKernel.toks(text)
    val m = toks.length - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val digest = mdLocal.get()
    val mins = new Array[Long](perms)
    java.util.Arrays.fill(mins, 0x100000000L) // > any unsigned 32-bit slice
    var i = 0
    while (i < m) {
      digest.reset()
      val d = digest.digest(ShingleKernel.shingleAt(toks, i, n)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var p = 0
      while (p < perms) {
        val v = ((d(4 * p) & 0xffL) << 24) | ((d(4 * p + 1) & 0xffL) << 16) |
          ((d(4 * p + 2) & 0xffL) << 8) | (d(4 * p + 3) & 0xffL)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    val out = new Array[Any](perms)
    var p = 0
    while (p < perms) {
      val v = mins(p)
      val cs = new Array[Char](8)
      var k = 0
      while (k < 8) { cs(k) = HEX(((v >>> ((7 - k) * 4)) & 0xfL).toInt); k += 1 }
      out(p) = UTF8String.fromString(new String(cs))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** md5_minhash_sig(text, n, perms) → array<string> of per-band minimum
  * 8-hex-char md5 slices (empty when the row has no n-gram). */
case class Md5MinHashSigExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType, IntegerType)
  // a 32-hex md5 digest has 4 slices: reject other band counts at analysis,
  // not with an out-of-bounds read inside the generated row loop
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!third.foldable || !Option(third.eval()).exists { p =>
        val v = p.asInstanceOf[Int]; v >= 1 && v <= 4 })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a constant perms in [1, 4] (a 32-hex md5 digest " +
          s"yields 4 8-char slices), got ${third.sql}")
    else types
  }
  override def nullSafeEval(t: Any, n: Any, p: Any): Any =
    Md5MinHashKernel.eval(t.asInstanceOf[UTF8String], n.asInstanceOf[Int], p.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, p) =>
      s"org.apache.spark.sql.graft.Md5MinHashKernel.eval($t, $n, $p)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "md5_minhash_sig"
}

/**
 * 64-bit SimHash kernel — the per-row bit-vote loop as a plain static method
 * so the operator is a codegen expression, not a typed `Dataset.map` (the
 * Encoder round-trip forced DeserializeToObject/SerializeFromObject into the
 * stage, breaking whole-stage codegen and column pruning through it).
 * Semantics identical to the declarative hex-digit formulation q20's DuckDB
 * oracle replays: per-word hash = top 64 bits of md5(word), empty tokens
 * skipped, bit set iff positive vote balance.
 */
object SimHashKernel {
  def eval(text: UTF8String): Long = evalString(text.toString)

  def evalString(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    // Locale.ROOT: the default-locale overload would make per-word hashes
    // depend on the executor JVM's locale (Turkish 'I' → dotless i), silently
    // diverging both across executors and from DuckDB lower() (q20 oracle)
    text.toLowerCase(java.util.Locale.ROOT).split(" ").foreach { w =>
      if (w.nonEmpty) {
        md.reset()
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** simhash64(text) — codegen'd static call into [[SimHashKernel]]. */
case class SimHashExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(t: Any): Any =
    SimHashKernel.eval(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"org.apache.spark.sql.graft.SimHashKernel.eval($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

/**
 * Generalized banded MinHash kernel: b bands × r rows over seeded 64-bit
 * hashes, one pass over the shingles. The md5-slice form (md5_minhash_sig)
 * is capped at 4 single-permutation bands — too coarse a recall knob for
 * real corpora (the collision probability curve 1-(1-j^r)^b needs tunable
 * (b, r)); it stays as the ANSI-SQL/DuckDB-oracle-parity mode while this is
 * the scale default. Per shingle ONE base hash is mixed with per-permutation
 * seeds (Broder's seeded-permutation approximation, standard in web-scale
 * dedup); each band key combines its r per-permutation minima. Docs with no
 * shingle (fewer than n tokens) return an EMPTY band array — no shingles
 * means no similarity evidence, and emitting the all-MaxValue key would
 * land every short doc in one mega-bucket.
 */
object MinHashKernel {
  /** splitmix64/murmur3 finalizer — full-avalanche 64-bit mix. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** FNV-1a over UTF-16 code units, then mixed — the per-shingle base hash. */
  @inline private def baseHash(sb: java.lang.StringBuilder): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val len = sb.length
    while (i < len) { h = (h ^ sb.charAt(i)) * 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Per-(band, row) minima over the doc's shingles; null when the doc has
    * no shingle (fewer than n tokens). One base hash per shingle, one
    * multiply-xor chain per (shingle, permutation) — no per-perm digest. */
  private def minima(text: UTF8String, n: Int, bands: Int, rows: Int): Array[Long] = {
    val toks = text.toLowerCase.toString.split(" ", -1)
    val m = toks.length - n + 1
    if (m <= 0) return null
    val perms = bands * rows
    val mins = new Array[Long](perms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      val base = baseHash(sb)
      var p = 0
      while (p < perms) {
        // seed p derived by the same full-avalanche mix
        val h = mix64(base ^ mix64(0x9e3779b97f4a7c15L * (p + 1)))
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    mins
  }

  def bands(text: UTF8String, n: Int, bands: Int, rows: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val mins = minima(text, n, bands, rows)
    if (mins == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 0x9e3779b97f4a7c15L
      var r = 0
      while (r < rows) { acc = mix64(acc ^ mins(b * rows + r)); r += 1 }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * Multiprobe variant: per band, the full r-row key PLUS r leave-one-out
   * keys (rows minus one, in row order) — a pair agreeing on any r−1 of a
   * band's r permutations then still collides (in the probe slot that drops
   * the disagreeing row), lifting per-band recall from j^r to
   * j^r + r·j^(r−1)(1−j) at (r+1)× bucket keys and UNCHANGED b×r hashing
   * cost (the minima are computed once; the ANN-LSH multiprobe idea applied
   * to MinHash banding). Layout: band b's keys occupy positions
   * b·(r+1) .. b·(r+1)+r, so a posexplode position is the (band, probe)
   * join key and identical layouts align across documents.
   */
  def bandsMp(text: UTF8String, n: Int, bands: Int, rows: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val mins = minima(text, n, bands, rows)
    if (mins == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](bands * (rows + 1))
    var b = 0
    while (b < bands) {
      var acc = 0x9e3779b97f4a7c15L
      var r = 0
      while (r < rows) { acc = mix64(acc ^ mins(b * rows + r)); r += 1 }
      out(b * (rows + 1)) = acc
      var d = 0
      while (d < rows) {
        var a2 = 0x2545f4914f6cdd1dL // distinct seed; slots are disjoint anyway
        var r2 = 0
        while (r2 < rows) { if (r2 != d) a2 = mix64(a2 ^ mins(b * rows + r2)); r2 += 1 }
        out(b * (rows + 1) + 1 + d) = a2
        d += 1
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** minhash_bands(text, n, bands, rows) → array<bigint> of band keys. */
case class MinHashBandsExpr(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, IntegerType, IntegerType, IntegerType)
  override def nullSafeEval(t: Any, n: Any, b: Any, r: Any): Any =
    MinHashKernel.bands(t.asInstanceOf[UTF8String], n.asInstanceOf[Int],
      b.asInstanceOf[Int], r.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, b, r) =>
      s"org.apache.spark.sql.graft.MinHashKernel.bands($t, $n, $b, $r)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "minhash_bands"
}

/** minhash_bands_mp(text, n, bands, rows) → array<bigint> of band keys with
  * leave-one-out multiprobe slots (see [[MinHashKernel.bandsMp]]). */
case class MinHashBandsMpExpr(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, IntegerType, IntegerType, IntegerType)
  override def nullSafeEval(t: Any, n: Any, b: Any, r: Any): Any =
    MinHashKernel.bandsMp(t.asInstanceOf[UTF8String], n.asInstanceOf[Int],
      b.asInstanceOf[Int], r.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, b, r) =>
      s"org.apache.spark.sql.graft.MinHashKernel.bandsMp($t, $n, $b, $r)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "minhash_bands_mp"
}

/** lang_id(text) — codegen'd static call into [[LangIdKernel]]. */
case class LangIdExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(t: Any): Any =
    LangIdKernel.eval(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"org.apache.spark.sql.graft.LangIdKernel.eval($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lang_id"
}

/**
 * One-pass C4 line-rule kernel (Raffel et al. 2020, "Colossal Clean Crawled
 * Corpus" heuristics): per line, keep iff it (a) ends in terminal punctuation
 * (`.` `!` `?` `"`), (b) has at least `minWords` non-empty space-separated
 * words, and (c) does not contain the word "javascript" (case-insensitive) —
 * plus the page-level flags C4 drops whole documents on: "lorem ipsum"
 * (case-insensitive) and a curly brace. A declarative formulation needs one
 * interpreted higher-order `filter` plus ~5 more regexp passes over the text;
 * this walks the document once inside whole-stage codegen and returns
 * everything a gate needs as one struct.
 *
 * Cross-engine contract (the q69 DuckDB oracle replays these exactly):
 * lines = split on `\n` (empties kept); words of a line = maximal runs of
 * non-space characters (== non-empty tokens of a single-space split);
 * terminal check = raw last character; lowercasing for the substring checks
 * is Locale.ROOT (the SimHash lesson — ASCII targets, so engine-identical).
 */
object C4Kernel {
  def eval(text: UTF8String, minWords: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val lines = s.split("\n", -1)
    val kept = new java.lang.StringBuilder
    var nKept = 0
    var nTerminal = 0
    var nShort = 0
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      val last = if (line.isEmpty) '\u0000' else line.charAt(line.length - 1)
      val terminal = last == '.' || last == '!' || last == '?' || last == '"'
      var words = 0
      var inWord = false
      var ci = 0
      while (ci < line.length) {
        if (line.charAt(ci) == ' ') inWord = false
        else if (!inWord) { words += 1; inWord = true }
        ci += 1
      }
      if (terminal) nTerminal += 1
      if (words < minWords) nShort += 1
      if (terminal && words >= minWords &&
          !line.toLowerCase(java.util.Locale.ROOT).contains("javascript")) {
        if (nKept > 0) kept.append('\n')
        kept.append(line)
        nKept += 1
      }
      li += 1
    }
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(kept.toString), lines.length, nKept, nTerminal, nShort,
      lower.contains("lorem ipsum"), s.indexOf('{') >= 0))
  }
}

/** c4_clean(text, minWords) — struct<clean_text, n_lines, n_kept, n_terminal,
  * n_short, has_lorem, has_brace>, codegen'd static call into [[C4Kernel]]. */
case class C4CleanExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = new StructType()
    .add("clean_text", StringType).add("n_lines", IntegerType)
    .add("n_kept", IntegerType).add("n_terminal", IntegerType)
    .add("n_short", IntegerType)
    .add("has_lorem", BooleanType).add("has_brace", BooleanType)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def nullSafeEval(t: Any, n: Any): Any =
    C4Kernel.eval(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"org.apache.spark.sql.graft.C4Kernel.eval($t, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "c4_clean"
}

/**
 * One-pass text normalization (the CCNet-style pre-LM cleanup): NFD
 * decomposition → drop combining marks (é→e, ü→u, ñ→n — DuckDB
 * `strip_accents` semantics) → per-codepoint SIMPLE lowercase
 * (`Character.toLowerCase(int)`, the utf8proc-style context-free mapping —
 * deliberately NOT `String.toLowerCase`, whose locale/context rules expand
 * İ and final-sigma differently from utf8proc) → controls and whitespace
 * runs collapse to one space → trim. Cross-engine contract proven by the
 * q76 oracle (`trim(regexp_replace(lower(strip_accents(t)), ...))`) on
 * injected Latin accents; non-Latin case edges (Greek casing context) are
 * out of contract.
 */
object NormTextKernel {
  def eval(text: UTF8String): UTF8String = {
    val s = java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFD)
    val out = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (Character.getType(cp) != Character.NON_SPACING_MARK) {
        // exactly the oracle's [\s\x00-\x1f\x7f] class: all C0 controls,
        // space, and DEL
        val isSpace = cp <= 0x20 || cp == 0x7f
        if (isSpace) { if (started) pendingSpace = true }
        else {
          if (pendingSpace) { out.append(' '); pendingSpace = false }
          out.appendCodePoint(Character.toLowerCase(cp))
          started = true
        }
      }
    }
    UTF8String.fromString(out.toString)
  }
}

/** norm_text(text) — codegen'd static call into [[NormTextKernel]]. */
case class NormTextExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(t: Any): Any =
    NormTextKernel.eval(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"org.apache.spark.sql.graft.NormTextKernel.eval($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "norm_text"
}

/**
 * bpe_encode(text) — scan-local BPE subword stream. The trained merge table
 * ([[graft.functions.BpeTokenizer.BpeModel]]) rides the plan as a reference
 * object (`ctx.addReferenceObj`): the generated code calls
 * `model.encodeUtf8(text)` directly — no join, no broadcast variable
 * plumbing, no shuffle; at 10^12 docs the encode prices as part of the scan.
 */
case class BpeEncodeExpr(child: Expression, model: graft.functions.BpeTokenizer.BpeModel)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(t: Any): Any =
    model.encodeUtf8(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model,
      classOf[graft.functions.BpeTokenizer.BpeModel].getName)
    defineCodeGen(ctx, ev, t => s"$ref.encodeUtf8($t)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "bpe_encode"
}

/**
 * grid_rank(score, grid) — rank estimate in [0, 1] from a SORTED broadcast
 * quantile grid (the KLL quantile table): fraction of grid entries <= score,
 * found by binary search. The scan-local half of sketch-scale quantile
 * normalization: the exact per-group percent_rank needs a full per-group
 * sort; the sketch path reduces each group to a bounded grid and turns the
 * per-row rank into O(log grid) comparisons inside codegen.
 */
object GridRankKernel {
  def eval(score: Double, grid: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = grid.numElements()
    if (n == 0) return Double.NaN
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (grid.getDouble(mid) <= score) lo = mid + 1 else hi = mid
    }
    lo.toDouble / n.toDouble
  }
}

/** grid_rank(score, grid) — codegen'd static call into [[GridRankKernel]]. */
case class GridRankExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, ArrayType(DoubleType))
  override def nullSafeEval(s: Any, g: Any): Any =
    GridRankKernel.eval(s.asInstanceOf[Double],
      g.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, g) => s"org.apache.spark.sql.graft.GridRankKernel.eval($s, $g)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "grid_rank"
}

object TextFunctionsImpl {
  import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
  def lang_id(text: Column): Column = column(LangIdExpr(expression(text)))
  def shingle_make(text: Column, n: Column): Column =
    column(ShingleMakeExpr(expression(text), expression(n)))
  def md5_minhash_sig(text: Column, n: Column, perms: Column): Column =
    column(Md5MinHashSigExpr(expression(text), expression(n), expression(perms)))
  /** Bounded-memory heavy hitters (Misra-Gries) — see FreqSketchAgg. */
  def freq_topk(item: Column, capacity: Int, k: Int): Column =
    column(FreqSketchAgg(expression(item), capacity, k).toAggregateExpression())
  def simhash64(text: Column): Column = column(SimHashExpr(expression(text)))
  /** Mergeable bounded-memory quantiles (KLL-style) — see QuantileSketchAgg. */
  def kll_quantiles(x: Column, k: Int, probs: Seq[Double]): Column =
    column(QuantileSketchAgg(expression(x), k, probs).toAggregateExpression())
  /** Mergeable HyperLogLog distinct count — see HllSketchAgg. */
  def hll_count(x: Column, p: Int): Column =
    column(HllSketchAgg(expression(x), p).toAggregateExpression())
  /** Bloom filter build aggregate — see BloomFilter.scala. */
  def bloom_build(x: Column, n: Long, fpp: Double): Column =
    column(BloomBuildAgg(expression(x), n, fpp).toAggregateExpression())
  /** Scan-side Bloom membership predicate — see BloomFilter.scala. */
  def bloom_contains(bloom: Column, x: Column): Column =
    column(BloomContainsExpr(expression(bloom), expression(x)))
  def minhash_bands(text: Column, n: Column, bands: Column, rows: Column): Column =
    column(MinHashBandsExpr(expression(text), expression(n),
      expression(bands), expression(rows)))
  def minhash_bands_mp(text: Column, n: Column, bands: Column, rows: Column): Column =
    column(MinHashBandsMpExpr(expression(text), expression(n),
      expression(bands), expression(rows)))
  def c4_clean(text: Column, minWords: Column): Column =
    column(C4CleanExpr(expression(text), expression(minWords)))
  def norm_text(text: Column): Column = column(NormTextExpr(expression(text)))
  def bpe_encode(text: Column, model: graft.functions.BpeTokenizer.BpeModel): Column =
    column(BpeEncodeExpr(expression(text), model))
  def grid_rank(score: Column, grid: Column): Column =
    column(GridRankExpr(expression(score), expression(grid)))
  def kll_quantiles_probs(x: Column, k: Int, probs: Seq[Double]): Column =
    column(QuantileSketchAgg(expression(x), k, probs).toAggregateExpression())
}
