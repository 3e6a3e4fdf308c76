package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass tokenize+hash kernels shared by the interpreted `eval` and
  * the generated code of the text expressions in [[GraftExpressions]]
  * (`TokenHashes64` through `WordpieceCounts`; top-level object => static
  * forwarders, so generated Java calls `ShingleUtil.tokenHashes(...)`
  * directly). [[VectorKernels]] does the same for the vector kernels.
  *
  * Token hashing is bit-identical to Spark's `xxhash64(token)` (XXH64 over
  * the token's UTF-8 bytes, seed 42), and the splitter mirrors
  * `split(text, " ")` with the default -1 limit: consecutive separators
  * yield empty tokens and the trailing empty token is kept, so these
  * kernels are drop-in replacements for the interpreted
  * `transform(split(text, " "), t => xxhash64(t))` pipeline.
  */
object ShingleUtil {

  private val Seed = 42L

  /** xxhash64 of every token, in order (multiset — duplicates kept).
    * Equals `transform(split(s, " "), t => xxhash64(t))`. Split on the
    * single 0x20 byte — safe in UTF-8 (multi-byte sequences never
    * contain 0x20). */
  def tokenHashes(s: UTF8String): ArrayData = {
    import org.apache.spark.unsafe.Platform
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    var count = 1
    var i = 0
    while (i < nb) { if (Platform.getByte(base, off + i) == ' '.toByte) count += 1; i += 1 }
    val out = new Array[Long](count)
    var t = 0
    var start = 0
    i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == ' '.toByte) {
        out(t) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        t += 1; start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-token 64-bit hash = first 8 bytes of md5(token), big-endian —
    * exactly `('0x' || substr(md5(t), 1, 16))::UBIGINT` in DuckDB, which is
    * what makes SimHash oracle-checkable across engines (xxhash64 exists
    * only on the Spark side). Multiset, document order. */
  def md5TokenHashes(s: UTF8String): ArrayData = {
    import org.apache.spark.unsafe.Platform
    val md = md5Local.get()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    var count = 1
    var i = 0
    while (i < nb) { if (Platform.getByte(base, off + i) == ' '.toByte) count += 1; i += 1 }
    val out = new Array[Long](count)
    var t = 0
    var start = 0
    i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == ' '.toByte) {
        md.reset()
        val tok = new Array[Byte](i - start)
        Platform.copyMemory(base, off + start, tok, Platform.BYTE_ARRAY_OFFSET, i - start)
        val d = md.digest(tok)
        out(t) = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        t += 1; start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-gram shingles as STRINGS, multiset in document order (for
    * frequency counting — duplicates matter). One pass over the bytes:
    * token bounds first, then each shingle is a single byte-copy of the
    * source range [start(i), end(i+n-1)] — tokens are space-separated in
    * the source, so the shingle text is exactly that substring. */
  def shingleStrings(s: UTF8String, n: Int): ArrayData = {
    import org.apache.spark.unsafe.Platform
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    var count = 1
    var i = 0
    while (i < nb) { if (Platform.getByte(base, off + i) == ' '.toByte) count += 1; i += 1 }
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = 0
    var start = 0
    i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == ' '.toByte) {
        starts(t) = start; ends(t) = i
        t += 1; start = i + 1
      }
      i += 1
    }
    val nSh = count - n + 1
    if (nSh <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](nSh)
    i = 0
    while (i < nSh) {
      val from = starts(i)
      val until = ends(i + n - 1)
      val bytes = new Array[Byte](until - from)
      Platform.copyMemory(base, off + from, bytes, Platform.BYTE_ARRAY_OFFSET, until - from)
      out(i) = UTF8String.fromBytes(bytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-set token-occurrence counts in ONE pass over the bytes: for each
    * whitespace token, each marker set that contains it gets +1. Equals
    * `size(filter(split(s," "), t => t.isin(set)))` per set, but scores
    * all k sets per tokenization instead of re-splitting k times through
    * interpreted higher-order functions (the language-ID kernel). */
  def markerCounts(s: UTF8String, sets: Array[Array[UTF8String]]): ArrayData = {
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.array.ByteArrayMethods
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    val k = sets.length
    val cnt = new Array[Long](k)
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == ' '.toByte) {
        val len = i - start
        var si = 0
        while (si < k) {
          val ws = sets(si)
          var wi = 0
          var found = false
          while (wi < ws.length && !found) {
            val w = ws(wi)
            if (w.numBytes == len &&
                ByteArrayMethods.arrayEquals(base, off + start,
                  w.getBaseObject, w.getBaseOffset, len)) {
              cnt(si) += 1
              found = true
            }
            wi += 1
          }
          si += 1
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(cnt)
  }

  /** Distinct 64-bit hashes of the word n-gram shingles of `s`: each
    * shingle hash combines the n consecutive token hashes with an
    * odd-multiplier fold (64-bit avalanched inputs => collision odds
    * ~2^-64 per pair, which downstream set ops treat as exact). Texts
    * shorter than n shingle to an empty array. Output is sorted —
    * callers treat it as a set. */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenHashes(s).asInstanceOf[GenericArrayData]
    val nTok = toks.numElements()
    val nSh = nTok - n + 1
    if (nSh <= 0) return new GenericArrayData(Array.emptyLongArray)
    val raw = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = -7046029254386353131L // avalanche constant seed
      var k = 0
      while (k < n) {
        h = (h ^ toks.getLong(i + k)) * -4417276706812531889L
        h = java.lang.Long.rotateLeft(h, 31)
        k += 1
      }
      raw(i) = h
      i += 1
    }
    java.util.Arrays.sort(raw)
    var uniq = 1
    i = 1
    while (i < nSh) { if (raw(i) != raw(i - 1)) uniq += 1; i += 1 }
    if (uniq == nSh) return new GenericArrayData(raw)
    val out = new Array[Long](uniq)
    out(0) = raw(0)
    var j = 1
    i = 1
    while (i < nSh) {
      if (raw(i) != raw(i - 1)) { out(j) = raw(i); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** WordPiece-style greedy longest-match segmentation over whitespace
    * words: per word, repeatedly consume the longest prefix present in
    * `vocab` (bounded by `maxLen`); a position with no match (not even
    * its single character) consumes one char as an UNK unit. Returns
    * [n_units, n_unk]. Shared by interpreted eval and generated code of
    * [[GraftExpressions.WordpieceCounts]]. */
  def wordpieceCounts(s: UTF8String, vocab: java.util.HashSet[String],
      maxLen: Int): ArrayData = {
    var units = 0L
    var unk = 0L
    val text = s.toString
    var ws = 0
    val n = text.length
    while (ws <= n) {
      var we = text.indexOf(' ', ws)
      if (we < 0) we = n
      var i = ws
      while (i < we) {
        var j = math.min(we, i + maxLen)
        var matched = -1
        while (j > i && matched < 0) {
          if (vocab.contains(text.substring(i, j))) matched = j else j -= 1
        }
        if (matched < 0) { unk += 1; units += 1; i += 1 }
        else { units += 1; i = matched }
      }
      ws = we + 1
    }
    new GenericArrayData(Array(units, unk))
  }
}
