package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-3-gram shingle hashing — the shared hot path of every
  * text-dedup operator (d2/d3/d4/d8 and the c1/c2 curation near-dup
  * stage).
  *
  * The declarative formulation (`array_distinct(transform(sequence(...),
  * concat_ws(element_at×3)))` → `transform(..., conv(substring(md5(...)))`
  * → eight `array_min(transform(..., xor))` folds) is value-correct but
  * runs every per-ELEMENT lambda through Catalyst's interpreted
  * higher-order-function plumbing — lambda variable binding, per-element
  * boxing, and a fresh intermediate array per transform. Measured at
  * sf0.1 under full-result accounting that is ~10 s for d3 alone, ~60 ms
  * of single-thread CPU per ~300-char document — a constant factor of
  * ~1000 over the actual hashing work, paid again by d4, d8 and twice by
  * the c1/c2 near-dup stage. These expressions run the identical
  * computation as one tight JVM loop per row.
  *
  * Value parity is EXACT, pinned by ShingleSpec against the HOF
  * formulation and by the unchanged DuckDB oracles:
  *  - tokens = `split(text, " ", -1)` semantics (empties kept, incl.
  *    consecutive/trailing separators);
  *  - shingle k = `tok(k) + " " + tok(k+1) + " " + tok(k+2)`, none for
  *    docs under 3 tokens;
  *  - dedupe is BY SHINGLE STRING in first-occurrence order (exactly
  *    `array_distinct`) — two distinct shingles that collide at 60 bits
  *    stay duplicated in the hash array, as the declarative form has it
  *    ([[partnerOverlaps]] skips the self-partner that leaves in d2);
  *  - hash = first 15 hex chars of md5 as a 60-bit long (the portable
  *    `conv(substring(md5(s),1,15),16,10)` = big-endian first 8 digest
  *    bytes `>>> 4`).
  *
  * CodegenFallback is deliberate: the per-row call into this loop is one
  * virtual dispatch; per-element codegen buys nothing over the native
  * loop and a custom doGenCode would just duplicate it as a string.
  */
object TextShingles {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of md5(bytes) as an unsigned 60-bit long. */
  def hash60(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Distinct-by-string word-3-gram shingle hashes in first-occurrence
    * order; empty array for docs under 3 tokens.
    */
  def shingleHashes(text: UTF8String): Array[Long] = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return Array.emptyLongArray
    val seen = new java.util.HashSet[String]()
    val out = new Array[Long](toks.length - 2)
    var n = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + 2 < toks.length) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ')
        .append(toks(i + 2))
      val s = sb.toString
      if (seen.add(s)) {
        out(n) = hash60(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        n += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  def shingleHashCol(c: Column): Column =
    GraftColumns.column(ShingleHashes(GraftColumns.expression(c)))

  def minHashSigCol(c: Column, seeds: Seq[Long]): Column =
    GraftColumns.column(MinHashSigs(GraftColumns.expression(c), seeds))

  /** 60-bit SimHash over whitespace tokens WITH multiplicity (d5): bit i
    * is set when strictly more than half the tokens have bit i of their
    * 60-bit hash set (`2·count_i − n > 0`). Token semantics =
    * `split(text, " ", -1)` (empties kept, incl. the single "" token of an
    * empty document), exactly the declarative `explode(split(...))` rows;
    * hash = [[hash60]] ≡ `conv(substring(md5(tok),1,15),16,10)`.
    */
  def simHashSig(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val counts = new Array[Int](60)
    var t = 0
    while (t < toks.length) {
      val h = hash60(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < 60) {
        counts(i) += ((h >>> i) & 1L).toInt
        i += 1
      }
      t += 1
    }
    val n = toks.length
    var sig = 0L
    var i = 0
    while (i < 60) {
      if (2L * counts(i) - n > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  def simHashSigCol(c: Column): Column =
    GraftColumns.column(SimHashSig(GraftColumns.expression(c)))

  /** The partner tails of a posting list sorted by doc id: entry i (doc
    * ids(i) with ns(i) distinct shingles) gets (ids(i), ns(i), tail) where
    * the tail packs entries i+1..k-1, each as varint(id − previous id)
    * then varint(n), the first delta taken from ids(i). The last entry,
    * whose tail is empty, is left out. Every tail is a suffix of one
    * packed buffer, so a list is encoded once. Packed, a partner costs
    * ~3 bytes where a bigint id and an int size cost 12.
    */
  def postingTails(ids: Array[Long], ns: Array[Int]): Array[(Long, Int, Array[Byte])] = {
    require(ids.length == ns.length,
      s"${ids.length} posting ids but ${ns.length} sizes")
    val k = ids.length
    if (k < 2) return Array.empty
    val buf = new Array[Byte](20 * (k - 1))
    val off = new Array[Int](k)
    var p = 0
    var j = 1
    while (j < k) {
      off(j) = p
      p = putVarLong(buf, p, ids(j) - ids(j - 1))
      p = putVarLong(buf, p, ns(j).toLong)
      j += 1
    }
    Array.tabulate(k - 1)(i =>
      (ids(i), ns(i), java.util.Arrays.copyOfRange(buf, off(i + 1), p)))
  }

  /** Unsigned LEB128 of `v` at `buf(p)`; returns the next free position. */
  private def putVarLong(buf: Array[Byte], p0: Int, v0: Long): Int = {
    var p = p0
    var v = v0
    while ((v & ~0x7fL) != 0) {
      buf(p) = ((v & 0x7f) | 0x80).toByte
      v >>>= 7
      p += 1
    }
    buf(p) = v.toByte
    p + 1
  }

  /** Overlap counts of probe doc `a` (with `na` distinct shingles) against
    * its partners, read from the [[postingTails]] tails of `a` — one tail
    * per posting list `a` is in, so a partner appears once per shared
    * shingle hash. Counts them in one hash map keyed by partner id,
    * skipping partners equal to `a` (a within-doc hash collision puts `a`
    * twice in one posting list). Returns (doc_b, inter, jaccard) with
    * `jaccard = inter / (na + nb − inter) >= minJaccard`, ascending in
    * doc_b.
    */
  def partnerOverlaps(a: Long, na: Int, tails: Array[Array[Byte]],
      minJaccard: Double): Array[(Long, Long, Double)] = {
    // a packed partner takes at least 2 bytes: cap >= 2 × partners
    var bytes = 0L
    tails.foreach(bytes += _.length)
    var cap = 4
    while (cap < bytes) cap <<= 1
    val mask = cap - 1
    // open addressing on the partner id; cnt == 0 marks a free slot
    val keys = new Array[Long](cap)
    val cnt = new Array[Long](cap)
    val nbs = new Array[Int](cap)
    var t = 0
    while (t < tails.length) {
      val r = new VarLongReader(tails(t))
      var b = a
      while (r.hasNext) {
        b += r.next()
        val nb = r.next().toInt
        if (b != a) {
          var s = ((b * 0x9e3779b97f4a7c15L) >>> 32).toInt & mask
          while (cnt(s) != 0 && keys(s) != b) s = (s + 1) & mask
          if (cnt(s) == 0) { keys(s) = b; nbs(s) = nb }
          cnt(s) += 1
        }
      }
      t += 1
    }
    val out = Array.newBuilder[(Long, Long, Double)]
    var s = 0
    while (s < cap) {
      val inter = cnt(s)
      if (inter != 0) {
        val j = inter.toDouble / (na.toLong + nbs(s) - inter)
        if (j >= minJaccard) out += ((keys(s), inter, j))
      }
      s += 1
    }
    out.result().sortBy(_._1)
  }

  /** The [[postingTails]] of every posting list in a stream of (h, doc_id,
    * n) entries sorted by (h, doc_id), where one run of equal h is one
    * list. Lists of one entry give no tails, and neither do hot lists of
    * more than `maxDf` entries: a run is buffered up to `maxDf + 1`
    * entries and the rest of it is read past, so memory stays df-capped
    * however long a list grows.
    */
  def postingRunTails(entries: Iterator[(Long, Long, Int)], maxDf: Int)
      : Iterator[(Long, Int, Array[Byte])] = {
    val in = entries.buffered
    val ids = new Array[Long](maxDf + 1)
    val ns = new Array[Int](maxDf + 1)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val h = in.head._1
      var k = 0
      while (in.hasNext && in.head._1 == h) {
        val (_, id, n) = in.next()
        if (k < ids.length) { ids(k) = id; ns(k) = n; k += 1 }
      }
      if (k > maxDf) Iterator.empty
      else postingTails(java.util.Arrays.copyOf(ids, k),
        java.util.Arrays.copyOf(ns, k)).iterator
    }
  }

  /** Every (ids(i), ids(j)), i < j, of each run of equal key in a stream
    * of (key, id) entries sorted by (key, id): a bucket's pairs in id
    * order, outer index first. An id entered twice pairs with itself, and
    * a run of one entry gives no pairs. A run is buffered whole; its pairs
    * are streamed.
    */
  def runPairs[K](entries: Iterator[(K, Long)]): Iterator[(Long, Long)] = {
    val in = entries.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head._1
      val run = Array.newBuilder[Long]
      while (in.hasNext && in.head._1 == key) run += in.next()._2
      val ids = run.result()
      Iterator.range(0, ids.length).flatMap(i =>
        Iterator.range(i + 1, ids.length).map(j => (ids(i), ids(j))))
    }
  }

  /** The [[partnerOverlaps]] of every probe doc in a stream of (doc_a, na,
    * tail) sorted by doc_a, where one run of equal doc_a holds all of that
    * doc's tails, as (doc_a, doc_b, inter, jaccard) rows ascending in
    * doc_b within each doc.
    */
  def partnerRunOverlaps(tails: Iterator[(Long, Int, Array[Byte])],
      minJaccard: Double): Iterator[(Long, Long, Long, Double)] = {
    val in = tails.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val (a, na, _) = in.head
      val run = Array.newBuilder[Array[Byte]]
      while (in.hasNext && in.head._1 == a) run += in.next()._3
      partnerOverlaps(a, na, run.result(), minJaccard).iterator
        .map { case (b, inter, j) => (a, b, inter, j) }
    }
  }

  private final class VarLongReader(buf: Array[Byte]) {
    private var p = 0
    def hasNext: Boolean = p < buf.length
    def next(): Long = {
      var v = 0L
      var shift = 0
      var b = buf(p)
      p += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = buf(p)
        p += 1
      }
      v | ((b & 0x7fL) << shift)
    }
  }
}

/** array<long> of the document's distinct word-3-gram 60-bit hashes
  * (see [[TextShingles]]); `[]` under 3 tokens, NULL on NULL input.
  */
case class ShingleHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  def inputTypes: Seq[DataType] = Seq(StringType)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs string input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextShingles.shingleHashes(input.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** array<long> of `seeds.length` MinHash signature values —
  * `min over distinct shingles of (hash60(shingle) XOR seed_k)` — or NULL
  * when the document has no shingles (under 3 tokens), mirroring the
  * declarative pipeline's `filter(size(shingles) > 0)` row drop.
  */
case class MinHashSigs(child: Expression, seeds: Seq[Long])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs needs string input, got ${child.dataType.catalogString}")

  private val seedArr = seeds.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val hs = TextShingles.shingleHashes(input.asInstanceOf[UTF8String])
    if (hs.isEmpty) return null
    val mins = Array.fill(seedArr.length)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var k = 0
      while (k < seedArr.length) {
        val v = hs(i) ^ seedArr(k)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** The document's 60-bit SimHash signature as one per-row fold
  * ([[TextShingles.simHashSig]]); NULL on NULL input. Replaces d5's
  * token explode + 61-sum hash aggregate — the explode shuffled one row
  * PER TOKEN (an ~85× fan-out of the corpus) keyed on doc_id just to
  * re-group rows that were already adjacent in the document; the fold
  * computes the identical bit-majority in one pass with ZERO shuffle
  * (the d3 MinHashSigs lesson applied to d5 in round 6).
  */
case class SimHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  def inputTypes: Seq[DataType] = Seq(StringType)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_sig needs string input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TextShingles.simHashSig(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}
