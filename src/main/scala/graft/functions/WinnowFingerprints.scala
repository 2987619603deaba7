package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003) in
  * ONE JVM pass: tokenize, build word `k`-grams, hash each gram, slide a
  * `w`-window over the hash sequence and select each window's minimum
  * (rightmost on ties), returning the distinct selected
  * (pos, hash, gram) triples in window order.
  *
  * Why native rather than the HOF formulation (kept in test scope as
  * `graft.llm.ParityTwins.winnowFingerprintsHof` for the equivalence
  * test): Catalyst's CollapseProject inlines the gram-array expression
  * into every `transform` lambda that references it, so the layered HOF
  * plan re-evaluates the FULL gram array once per gram index and once
  * per window — O(n³) per document (measured: 76 s for the sf0.01
  * 500-doc dump vs 0.4 s native; the sf0.1 bench run never finished).
  * One imperative pass is O(n·w) with w a small constant.
  *
  * Cross-engine contract: the gram hash is the first 8 md5 hex digits of
  * the gram string (unsigned 32-bit), and the election compares the SAME
  * encoded int64 key `hash·2^21 − pos` an ANSI oracle computes — min key
  * realizes (min hash, rightmost pos) — so the selected set is
  * bit-identical to the SQL formulation. Documents are capped at 2^21−1
  * grams (the encoding's position budget): beyond it the expression
  * THROWS rather than silently diverging from the oracle — a 2M-token
  * document is not a document; chunk first. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, s"winnow_fingerprints: k,w must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("gram_hash", LongType, nullable = false),
    StructField("gram", StringType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_fingerprints"

  private val space = UTF8String.fromString(" ")
  private val ws = UTF8String.fromString("\\s+")

  // MessageDigest is stateful; expression instances can be shared across
  // task threads, so the digest is per-thread
  @transient private lazy val md5 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase
    val toks = text.split(ws, -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val n = toks.length - k + 1
    require(n < 2097152,
      s"winnow_fingerprints: $n grams exceeds the 2^21-1 position budget " +
        "of the cross-engine election encoding — chunk the document first")
    val grams = new Array[UTF8String](n)
    val keys = new Array[Long](n)
    val digest = md5.get()
    var i = 0
    while (i < n) {
      val parts = new Array[UTF8String](k)
      System.arraycopy(toks, i, parts, 0, k)
      val g = UTF8String.concatWs(space, parts.toIndexedSeq: _*)
      grams(i) = g
      digest.reset()
      val d = digest.digest(g.getBytes)
      // first 8 hex digits = first 4 digest bytes, unsigned
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      keys(i) = h * 2097152L - i
      i += 1
    }
    // per window start s: min encoded key over keys[s, min(s+w, n));
    // distinct selections preserved in window order
    val selected = new java.util.LinkedHashSet[Long]()
    val lastStart = math.max(n - w, 0)
    var s = 0
    while (s <= lastStart) {
      var best = keys(s)
      var j = s + 1
      val end = math.min(s + w, n)
      while (j < end) {
        if (keys(j) < best) best = keys(j)
        j += 1
      }
      selected.add(best)
      s += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) {
      val key = it.next()
      // decode is exact: pos ∈ [0, 2^21) by the cap above
      val h = (key + 2097151L) / 2097152L
      val pos = h * 2097152L - key
      out(o) = InternalRow(pos, h, grams(pos.toInt))
      o += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
