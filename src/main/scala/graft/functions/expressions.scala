package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for text semantics Spark's built-ins can't
  * express, and for per-document kernels whose declarative form would be
  * interpreted lambdas or an explode → shuffle → aggregate plan. All have
  * `doGenCode` so they stay inside whole-stage codegen (the generated
  * code calls the static evaluators below — same pattern Spark uses for
  * its own string expressions):
  *
  *  - text: [[TokenizeWs]], [[StripAccents]], [[StemDutch]],
  *    [[DamerauLevenshtein]], [[NearestWord]] (typo correction's
  *    nearest vocabulary word);
  *  - vectors: [[ArrayDot]];
  *  - sketches: [[WordNGrams]] (word n-grams and shingles), [[Hash60]]
  *    (the engines' shared 60-bit md5 hash), [[MinHashSig]] (the
  *    16-hash MinHash signature) and [[SimHash]] (the 60-bit SimHash
  *    fingerprint).
  */
object GraftExpressions {
  def stripAccents(c: Column): Column =
    GraftBridge.column(StripAccents(GraftBridge.expression(c)))
  def stemDutch(c: Column): Column =
    GraftBridge.column(StemDutch(GraftBridge.expression(c)))
  def damerauLevenshtein(a: Column, b: Column): Column =
    GraftBridge.column(
      DamerauLevenshtein(GraftBridge.expression(a), GraftBridge.expression(b)))
  def arrayDot(a: Column, b: Column): Column =
    GraftBridge.column(ArrayDot(GraftBridge.expression(a), GraftBridge.expression(b)))
  def tokenizeWs(c: Column): Column =
    GraftBridge.column(TokenizeWs(GraftBridge.expression(c)))
  def wordNGrams(toks: Column, lo: Int, hi: Int, distinct: Boolean): Column =
    GraftBridge.column(WordNGrams(GraftBridge.expression(toks), lo, hi, distinct))
  def hash60(c: Column): Column =
    GraftBridge.column(Hash60(GraftBridge.expression(c)))
  def minhashSig(shingles: Column): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(shingles)))
  def simHash(toks: Column): Column =
    GraftBridge.column(SimHash(GraftBridge.expression(toks)))
  def nearestWord(word: Column, vocab: Column): Column =
    GraftBridge.column(
      NearestWord(GraftBridge.expression(word), GraftBridge.expression(vocab)))
}

/** Whitespace tokenization fused into one codegen'd expression — the
  * single hottest text kernel (it runs in nearly every plan). Replaces
  * `filter(split(text, "\\s+", -1), t => t =!= "")`, whose outer filter
  * is a HigherOrderFunction and therefore an interpreted lambda island:
  * this expression produces the identical token array (same
  * java.util.regex split, same empty-token drop) in a single compiled
  * pass with no per-element lambda dispatch and no intermediate array.
  */
case class TokenizeWs(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TokenizeWs.split(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenizeWs.split($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeWs =
    copy(child = newChild)
}

object TokenizeWs {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Exactly `split(s, "\\s+", -1)` then drop empty tokens — the same
    * java.util.regex engine and limit semantics as Spark's StringSplit,
    * so results are bit-identical to the declarative form it replaces.
    */
  def split(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val parts = Ws.split(s.toString, -1)
    val out = new java.util.ArrayList[AnyRef](parts.length)
    var i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) out.add(UTF8String.fromString(parts(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }
}

/** Unicode-NFD accent strip + non-ASCII drop, the semantics of the
  * reference's removeAccent (reference: src/NLP_functions.py:125-139:
  * NFD normalize then ascii-encode with errors ignored).
  */
case class StripAccents(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(StripAccents.strip(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.StripAccents.strip($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
}

object StripAccents {
  def strip(s: String): String = {
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < nfd.length) {
      val ch = nfd.charAt(i)
      if (ch < 128) sb.append(ch)
      i += 1
    }
    sb.toString
  }
}

/** Snowball Dutch stemmer (the published snowballstem.org algorithm the
  * reference applies via NLTK, reference: Notebook_Diagnosis_Extraction
  * .ipynb cell 16-17 / src/NLP_functions.py:89). Applied per whitespace
  * token, like the reference's stemmingText.
  */
case class StemDutch(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(DutchStemmer.stemText(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.DutchStemmer.stemText($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): StemDutch =
    copy(child = newChild)
}

/** Optimal-string-alignment Damerau-Levenshtein distance — the variant the
  * reference's pyxdameraulevenshtein computes for typo correction
  * (reference: src/NLP_functions.py:39-87).
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DamerauLevenshtein.osa(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DamerauLevenshtein.osa($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {
  /** Optimal string alignment distance (restricted Damerau-Levenshtein). */
  def osa(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    // three rolling rows of the OSA DP matrix
    var prev2 = new Array[Int](m + 1)
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var d = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 &&
            a.charAt(i - 1) == b.charAt(j - 2) && a.charAt(i - 2) == b.charAt(j - 1)) {
          d = math.min(d, prev2(j - 2) + 1)
        }
        cur(j) = d
        j += 1
      }
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}

/** Dot product of two double arrays with a tight codegen loop — the hot
  * kernel of the similarity operators. Accumulates strictly left-to-right,
  * the same order as `aggregate(zip_with(...))` and the oracle's
  * `list_reduce`, so results are bit-identical to the declarative form it
  * replaces (which pays per-element lambda dispatch).
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var acc = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Word n-grams of a token array: for n = lo..hi in turn, every window of
  * n consecutive tokens joined by single spaces, in token order — the
  * values of `filter(transform(toks, (_, i) => when(i + n <= size(toks),
  * array_join(slice(toks, i + 1, n), " "))), _.isNotNull)` per n,
  * concatenated, with `array_distinct` applied when `distinct` (the first
  * occurrence is kept). Null tokens are skipped inside a window as
  * `array_join` skips them. One compiled pass with no per-element lambda
  * dispatch: the shingle builder of the dedup family (3..3, distinct) and
  * the 1-3-gram featurizer of the classifiers and text queries.
  */
case class WordNGrams(child: Expression, lo: Int, hi: Int, distinct: Boolean)
    extends UnaryExpression {
  require(1 <= lo && lo <= hi, s"n-gram range $lo..$hi")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordNGrams.grams(input.asInstanceOf[ArrayData], lo, hi, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNGrams.grams($c, $lo, $hi, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {
  def grams(toks: ArrayData, lo: Int, hi: Int, distinct: Boolean): ArrayData = {
    val n = toks.numElements()
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) words(i) = toks.getUTF8String(i)
      i += 1
    }
    val out = new java.util.ArrayList[AnyRef]()
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var k = lo
    while (k <= hi) {
      i = 0
      while (i + k <= n) {
        val g = join(words, i, k)
        if (seen == null || seen.add(g)) out.add(g)
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `array_join(words[from, from + k), " ")`: nulls skipped. */
  private def join(words: Array[UTF8String], from: Int, k: Int): UTF8String = {
    var len = -1
    var j = from
    while (j < from + k) {
      if (words(j) != null) len += words(j).numBytes + 1
      j += 1
    }
    val bytes = new Array[Byte](math.max(len, 0))
    var pos = 0
    var first = true
    j = from
    while (j < from + k) {
      val w = words(j)
      if (w != null) {
        if (first) first = false
        else { bytes(pos) = ' '; pos += 1 }
        w.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += w.numBytes
      }
      j += 1
    }
    UTF8String.fromBytes(bytes)
  }
}

/** The 60-bit hash both engines compute: the first 15 hex digits of
  * md5 over the string's UTF-8 bytes, read as an unsigned integer — the
  * value of `conv(substring(md5(s), 1, 15), 16, 10)` cast to bigint, and
  * of the oracle's `('0x' || substr(md5(s), 1, 15))::BIGINT`, without
  * the hex string and the base conversion in between.
  */
case class Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hash60.of(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.of($c)")
  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60 {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def of(s: UTF8String): Long = {
    val d = md5.get().digest(s.getBytes)
    var hi = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); i += 1 }
    hi >>> 4
  }
}

/** The 16-hash MinHash signature of a shingle array: for each hash
  * h_i(x) = (a_i·x + b_i) mod P over x = hash60(shingle) mod P, the
  * minimum over the array's shingles — per document, the values the
  * grouped form `min((a_i·x + b_i) % P) GROUP BY doc_id, i` over exploded
  * shingle rows computes. Null for an array without shingles (the
  * grouped form has no row for such a document). The hash parameters
  * live here so the batch, incremental and streaming signatures and the
  * oracle SQL (`Dedup.hashParams`) read one definition.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSig.sig($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** The 2³¹−1 prime field of the hash family. */
  val P: Long = 2147483647L
  val NumHashes = 16
  val A: Array[Long] = Array.tabulate(NumHashes)(i => ((i + 1) * 2654435761L) % P)
  val B: Array[Long] = Array.tabulate(NumHashes)(i => ((i + 1) * 2654921567L) % P)

  def sig(shingles: ArrayData): ArrayData = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        any = true
        val x = Hash60.of(shingles.getUTF8String(i)) % P
        var h = 0
        while (h < NumHashes) {
          // a, x < 2³¹ and b < 2³¹: the product and sum stay below 2⁶³
          val v = (A(h) * x + B(h)) % P
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

/** The tf-weighted 60-bit SimHash fingerprint of a token array: bit j is
  * set when Σ_tokens (2·bit_j(hash60(token)) − 1) > 0, summed over every
  * occurrence (so a token weighs its term frequency) — the value of the
  * grouped form that counts (doc, token) rows, sums tf·(±1) per bit and
  * ORs the positive bits. Null for an array without tokens (the grouped
  * form has no row for such a document); null tokens are skipped.
  */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    if (SimHash.hasTokens(toks)) SimHash.fingerprint(toks) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.isNull} = !graft.functions.SimHash.hasTokens($c);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.SimHash.fingerprint($c);""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  val Bits = 60

  def hasTokens(toks: ArrayData): Boolean = {
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) return true
      i += 1
    }
    false
  }

  def fingerprint(toks: ArrayData): Long = {
    val w = new Array[Long](Bits)
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val x = Hash60.of(toks.getUTF8String(i))
        var j = 0
        while (j < Bits) {
          w(j) += ((x >>> j) & 1L) * 2 - 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < Bits) {
      if (w(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }
}

/** The nearest vocabulary word to `word`: the struct (v, dist) of the
  * entry of `vocab` with the smallest normalized edit distance
  * dist = levenshtein(word, v) / max(length(word), length(v)) — Spark's
  * `levenshtein` and `length`, both over code points, divided as a
  * double — with ties going to the lowest `v`. That is row 1 of
  * `row_number() OVER (PARTITION BY word ORDER BY dist, v)` over the
  * cross join of the word with the vocabulary, computed per row without
  * the join's pair rows, its shuffle or its window sort. Null for an
  * empty vocabulary (the join has no row then); null entries are
  * skipped.
  *
  * Exact, with pruning: the length gap |la − lb| / max(la, lb) bounds
  * an entry's distance from below, so an entry whose bound is already
  * above the best distance so far is skipped without aligning it.
  */
case class NearestWord(word: Expression, vocab: Expression) extends BinaryExpression {
  override def left: Expression = word
  override def right: Expression = vocab
  override def dataType: DataType = NearestWord.Type
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (word.dataType, vocab.dataType) match {
    case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (w, v) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string and array<string> arguments, got " +
        s"${w.catalogString}, ${v.catalogString}")
  }

  override protected def nullSafeEval(w: Any, v: Any): Any =
    NearestWord.nearest(w.asInstanceOf[UTF8String], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, v) =>
      s"""${ev.value} = graft.functions.NearestWord.nearest($w, $v);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestWord =
    copy(word = newLeft, vocab = newRight)
}

object NearestWord {
  val Type: StructType = StructType(Seq(
    StructField("v", StringType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  def nearest(word: UTF8String, vocab: ArrayData): InternalRow = {
    val la = word.numChars()
    var bestV: UTF8String = null
    var bestDist = Double.PositiveInfinity
    var i = 0
    while (i < vocab.numElements()) {
      if (!vocab.isNullAt(i)) {
        val v = vocab.getUTF8String(i)
        val lb = v.numChars()
        val longer = math.max(la, lb)
        // d >= |la - lb|, so this bounds the entry's distance from below;
        // at an equal bound only a lower v can still win the tie
        val bound = if (longer == 0) 0.0 else math.abs(la - lb).toDouble / longer
        if (bound < bestDist || (bound == bestDist && v.binaryCompare(bestV) < 0)) {
          val dist = if (longer == 0) 0.0 else word.levenshteinDistance(v).toDouble / longer
          if (dist < bestDist || (dist == bestDist && v.binaryCompare(bestV) < 0)) {
            bestV = v
            bestDist = dist
          }
        }
      }
      i += 1
    }
    if (bestV == null) null
    else new GenericInternalRow(Array[Any](bestV.copy(), bestDist))
  }
}
