package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for text dedup primitives.
  *
  * MinHashSignature computes the whole k-permutation signature per row in
  * one pass over the shingle array — replacing the
  * explode → 8×md5 → groupBy(doc).min formulation, which shuffles one row
  * per (doc, shingle). At 100 TB that explode shuffle dominates; here the
  * signature never leaves the row.
  *
  * Semantics are identical per permutation i to
  * min over shingles of (md5_number_upper(s) + i·md5_number_lower(s))
  * mod 2^31-1 (operands pre-reduced), so DuckDB oracles expressed with
  * list_min(list_transform(...)) over the same integer arithmetic
  * hash-match exactly.
  *
  * CodegenFallback is deliberate: the md5 inner loop is the entire cost;
  * one virtual eval call per row is noise, and the expression stays a
  * single scan-local projection either way.
  */
object TextExpressions {

  /** tokens array → k-minhash signature over n-token shingles, fused:
    * shingles are built and hashed on the fly, never materialized.
    * min over all shingles == min over distinct shingles, so the result
    * matches the distinct-shingle oracle formulation exactly. Returns
    * null when the doc has fewer than `shingleSize` tokens.
    *
    * The k permutations use the Kirsch-Mitzenmacher construction over a
    * single md5 per shingle:  hash_i(s) = (u + i·l) mod M  with
    * u = uint64-LE(digest[0:8]), l = uint64-LE(digest[8:16]) (each
    * pre-reduced mod M), M = 2^31-1. One digest instead of k makes the
    * signature ~k× cheaper; u/l match DuckDB's `md5_number_upper/lower`
    * exactly, so the oracle is pure integer arithmetic. */
  case class ShingleMinHash(child: Expression, shingleSize: Int, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.LongType
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    // null is also produced for too-short docs, not only null input
    override def nullable: Boolean = true

    private val M = 2147483647L  // 2^31 - 1

    override def nullSafeEval(input: Any): Any = {
      val tokens = input.asInstanceOf[ArrayData]
      val n = tokens.numElements()
      if (n < shingleSize) return null
      val toks = new Array[String](n)
      var t = 0
      while (t < n) { toks(t) = tokens.getUTF8String(t).toString; t += 1 }
      val md = MessageDigest.getInstance("MD5")
      val mins = Array.fill(numHashes)(Long.MaxValue)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= n - shingleSize) {
        sb.setLength(0)
        var j = 0
        while (j < shingleSize) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        md.reset()
        val d = md.digest(sb.toString.getBytes("UTF-8"))
        // little-endian uint64 of bytes [0,8) and [8,16), ≡ DuckDB
        // md5_number_upper / md5_number_lower
        var u = 0L; var l = 0L
        var b = 7
        while (b >= 0) {
          u = (u << 8) | (d(b) & 0xffL)
          l = (l << 8) | (d(b + 8) & 0xffL)
          b -= 1
        }
        u = java.lang.Long.remainderUnsigned(u, M)
        l = java.lang.Long.remainderUnsigned(l, M)
        var h = 0
        var v = u
        while (h < numHashes) {
          if (v < mins(h)) mins(h) = v
          v += l                    // (u + (h+1)·l); both < M so no overflow
          if (v >= M) v -= M
          h += 1
        }
        i += 1
      }
      new GenericArrayData(mins.map(Long.box).toArray[Any])
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** k minhash values (longs in [0, 2^31-1)) over word n-shingles of a
    * token-array column; null when the doc is shorter than the shingle. */
  def shingle_minhash(tokens: Column, shingleSize: Int, numHashes: Int): Column =
    ColumnBridge.column(ShingleMinHash(
      ColumnBridge.expression(tokens), shingleSize, numHashes))

  /** Distinct word n-shingles of a token array, first-occurrence order;
    * empty for docs shorter than the shingle. Single source of the
    * shingle construction shared by every shingle expression — the
    * expressions must agree exactly for oracle parity. */
  private def distinctShingles(tokens: ArrayData,
                               shingleSize: Int): java.util.LinkedHashSet[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    val n = tokens.numElements()
    if (n < shingleSize) return seen
    val toks = new Array[String](n)
    var t = 0
    while (t < n) { toks(t) = tokens.getUTF8String(t).toString; t += 1 }
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= n - shingleSize) {
      sb.setLength(0)
      var j = 0
      while (j < shingleSize) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** little-endian uint64 of md5-digest bytes [8,16) — bit-identical to
    * DuckDB's `md5_number_lower`; the one hash every cross-engine-
    * reproducible decision (sampling, shingle sets) derives from. */
  private def lower64(d: Array[Byte]): Long = {
    var l = 0L
    var b = 15
    while (b >= 8) { l = (l << 8) | (d(b) & 0xffL); b -= 1 }
    l
  }

  /** Distinct 64-bit hashes of the distinct shingles. Dedupe happens in
    * HASH space (mirroring the oracle's outer list_distinct), so even a
    * within-doc collision stays engine-identical. */
  private def distinctShingleHashes(tokens: ArrayData, shingleSize: Int)
      : java.util.LinkedHashSet[java.lang.Long] = {
    val md = MessageDigest.getInstance("MD5")
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val it = distinctShingles(tokens, shingleSize).iterator()
    while (it.hasNext) {
      md.reset()
      out.add(lower64(md.digest(it.next().getBytes("UTF-8"))))
    }
    out
  }

  /** tokens array → distinct word n-shingles (first-occurrence order) —
    * the native twin of transform(sequence…)+slice+concat_ws+
    * array_distinct, which is four nested CodegenFallback HOFs. */
  case class WordShingles(child: Expression, shingleSize: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val seen = distinctShingles(input.asInstanceOf[ArrayData], shingleSize)
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def word_shingles(tokens: Column, shingleSize: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), shingleSize))

  /** tokens array → distinct 64-bit hashes of the distinct word
    * n-shingles, hash = little-endian uint64 of md5-digest bytes [8,16)
    * — exactly DuckDB's `md5_number_lower`, so an oracle can mirror the
    * set with list_distinct(list_transform(shingles, md5_number_lower)).
    *
    * Purpose: Jaccard verification over candidate pairs. A corpus-scale
    * pair join drags each side's shingle set through a shuffle or
    * broadcast; 8-byte longs instead of ~20-char strings cut that
    * payload ~5× and make the per-pair intersection allocation-free
    * (primitive probes, no String materialization per element). */
  case class ShingleHashes(child: Expression, shingleSize: Int)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.LongType
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val out = distinctShingleHashes(input.asInstanceOf[ArrayData], shingleSize)
      new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]].toArray[Any])
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def shingle_hashes(tokens: Column, shingleSize: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(tokens), shingleSize))

  /** Number of distinct shingle HASHES — |[[ShingleHashes]]| without
    * materializing the array. Counts in hash space, not string space,
    * so it is collision-consistent with every hash-set consumer (an
    * oracle counting len(list_distinct(list_transform(...))) must see
    * the same denominator even if two shingles collide). */
  case class ShingleCount(child: Expression, shingleSize: Int)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.LongType
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      distinctShingleHashes(input.asInstanceOf[ArrayData], shingleSize).size.toLong

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def shingle_count(tokens: Column, shingleSize: Int): Column =
    ColumnBridge.column(ShingleCount(ColumnBridge.expression(tokens), shingleSize))

  /** Scalar 64-bit md5 hash of a string: little-endian uint64 of digest
    * bytes [8,16) — bit-identical to DuckDB's `md5_number_lower`, which
    * is what keeps hash-derived sampling and bucketing decisions
    * reproducible across engines (murmur3/xxhash64 are Spark-private). */
  case class Md5Lower64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.LongType
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val md = MessageDigest.getInstance("MD5")
      lower64(md.digest(input.asInstanceOf[UTF8String].getBytes))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def md5_lower64(text: Column): Column =
    ColumnBridge.column(Md5Lower64(ColumnBridge.expression(text)))

  /** tokens array → one `(pos, tok, h)` struct per token position, `h`
    * the 16 md5 bytes of the `k` tokens starting at `pos` joined with
    * `' '` (null past the last full gram). The gram identity is the
    * hex digest `md5(concat_ws(' ', slice(ts, pos + 1, k)))` in raw
    * bytes — concat_ws's null skipping included — and DuckDB's
    * `md5(array_to_string(ts[g+1:g+k], ' '))`. One digest per position
    * straight off the token bytes: no per-position slice, joined
    * string or hex string. */
  case class SpanGrams(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("tok", StringType,
        nullable = child.dataType.asInstanceOf[ArrayType].containsNull),
      StructField("h", BinaryType, nullable = true))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val tokens = input.asInstanceOf[ArrayData]
      val n = tokens.numElements()
      // own byte copies: the output rows outlive the input buffer
      val bytes = new Array[Array[Byte]](n)
      var t = 0
      while (t < n) {
        if (!tokens.isNullAt(t)) bytes(t) = tokens.getUTF8String(t).getBytes
        t += 1
      }
      val md = MessageDigest.getInstance("MD5")
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        var h: Array[Byte] = null
        if (i + k <= n) {
          var first = true
          var j = i
          while (j < i + k) {
            if (bytes(j) != null) {
              if (!first) md.update(' '.toByte)
              md.update(bytes(j))
              first = false
            }
            j += 1
          }
          h = md.digest()
        }
        val tok = if (bytes(i) == null) null else UTF8String.fromBytes(bytes(i))
        out(i) = new GenericInternalRow(Array[Any](i, tok, h))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def span_grams(tokens: Column, k: Int): Column =
    ColumnBridge.column(SpanGrams(ColumnBridge.expression(tokens), k))

  /** A stream's `collect_list(struct(pos, tok, flag))` → `(clean_text,
    * kept_tokens, removed_tokens)`: entries are sorted by `pos` (ties
    * by `tok`, nulls first, as array_sort orders the structs), entry j
    * is removed iff a flagged entry (flag true; null is unflagged)
    * starts among the `k` entries ending at j — the ROWS window
    * `max(flag) OVER (ORDER BY pos ROWS BETWEEN k-1 PRECEDING AND
    * CURRENT ROW)`, which over dense positions is "a flagged gram
    * starts in [j−k+1, j]". `clean_text` joins the kept tokens in `pos`
    * order with `sep`, skipping null tokens as concat_ws does ("" when
    * nothing is kept); a null token still counts as kept. One sort and
    * one pass, no window and no HOF. */
  case class SpanCover(child: Expression, k: Int, sep: String)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}
    override def dataType: DataType = StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("kept_tokens", LongType, nullable = false),
      StructField("removed_tokens", LongType, nullable = false)))
    override def nullIntolerant: Boolean = true

    // fields are read by ordinal, so the entry layout is checked here
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StructType(Array(
          StructField(_, IntegerType, _, _), StructField(_, StringType, _, _),
          StructField(_, BooleanType, _, _))), _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "span_cover requires array<struct<pos:int, tok:string, flag:boolean>>, " +
          s"got ${other.simpleString}")
    }

    @transient private lazy val sepUtf8 = UTF8String.fromString(sep)

    override def nullSafeEval(input: Any): Any = {
      val es = input.asInstanceOf[ArrayData]
      val n = es.numElements()
      // (pos, index) packed into one long: a primitive sort by pos
      val order = new Array[Long](n)
      var m = 0
      var i = 0
      while (i < n) {
        if (!es.isNullAt(i)) {
          order(m) = (es.getStruct(i, 3).getInt(0).toLong << 32) | i
          m += 1
        }
        i += 1
      }
      java.util.Arrays.sort(order, 0, m)
      // equal positions (a grouped null key collects several docs) take
      // array_sort's struct order: by token
      def tok(o: Long) = es.getStruct((o & 0xffffffffL).toInt, 3).getUTF8String(1)
      var s = 0
      while (s < m) {
        var e = s + 1
        while (e < m && (order(e) >> 32) == (order(s) >> 32)) e += 1
        if (e - s > 1) {
          val run = order.slice(s, e).sortWith { (a, b) =>
            val (ta, tb) = (tok(a), tok(b))
            tb != null && (ta == null || ta.compareTo(tb) < 0)
          }
          System.arraycopy(run, 0, order, s, e - s)
        }
        s = e
      }
      val kept = new Array[UTF8String](m)
      var nk = 0
      var keptN = 0L
      var lastFlag = -k // rank of the latest flagged entry
      var r = 0
      while (r < m) {
        val e = es.getStruct((order(r) & 0xffffffffL).toInt, 3)
        if (!e.isNullAt(2) && e.getBoolean(2)) lastFlag = r
        if (r - lastFlag >= k) {
          keptN += 1
          if (!e.isNullAt(1)) { kept(nk) = e.getUTF8String(1); nk += 1 }
        }
        r += 1
      }
      InternalRow(UTF8String.concatWs(sepUtf8, kept.take(nk): _*),
        keptN, m - keptN)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def span_cover(entries: Column, k: Int, sep: String): Column =
    ColumnBridge.column(SpanCover(ColumnBridge.expression(entries), k, sep))

  /** One pass over the token array producing every token-derived stat the
    * text-quality pipeline needs: counts, stopword hits, total length,
    * and per-language marker hits. Replaces five separate interpreted
    * `filter`/`aggregate` HOF evaluations over the same array. */
  case class TokenStats(child: Expression, stopwords: Seq[String],
                        markers: Seq[(String, Seq[String])])
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: DataType = StructType(
      StructField("n_tokens", LongType, nullable = false) +:
      StructField("n_stops", LongType, nullable = false) +:
      StructField("sum_token_len", LongType, nullable = false) +:
      markers.map { case (lang, _) =>
        StructField(s"s_$lang", LongType, nullable = false) })
    override def nullIntolerant: Boolean = true

    @transient private lazy val stopSet = stopwords.toSet
    @transient private lazy val markerSets = markers.map(_._2.toSet)

    override def nullSafeEval(input: Any): Any = {
      val tokens = input.asInstanceOf[ArrayData]
      val n = tokens.numElements()
      var stops = 0L; var sumLen = 0L
      val langHits = new Array[Long](markers.size)
      var i = 0
      while (i < n) {
        val t = tokens.getUTF8String(i)
        sumLen += t.numChars()
        val s = t.toString
        if (stopSet.contains(s)) stops += 1
        var m = 0
        while (m < markerSets.length) {
          if (markerSets(m).contains(s)) langHits(m) += 1
          m += 1
        }
        i += 1
      }
      InternalRow.fromSeq(n.toLong +: stops +: sumLen +: langHits.toSeq)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def token_stats(tokens: Column, stopwords: Seq[String],
                  markers: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(tokens), stopwords, markers))

  /** |A ∩ B| / |A ∪ B| over two distinct-element arrays in one hash-set
    * pass (array_intersect + three size() calls walk the arrays several
    * times and allocate the intersection array). Returns null if both
    * sides are empty (0/0). Element type string or long; the long path
    * (shingle hashes) probes an open-addressed primitive table — zero
    * allocation per pair, which matters when a dense duplicate cluster
    * turns LSH candidates into millions of verify rows. */
  case class ArrayJaccard(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with CodegenFallback {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    @transient private lazy val longElems =
      left.dataType.asInstanceOf[ArrayType].elementType == LongType

    // the eval path picks string- vs long-intersection from the LEFT
    // element type alone, so mixed inputs must be rejected at analysis
    // time — not die with a ClassCastException (or miscount) at runtime
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      import org.apache.spark.sql.types.StringType
      (left.dataType, right.dataType) match {
        case (ArrayType(l, _), ArrayType(r, _))
            if l == r && (l == StringType || l == LongType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ =>
          TypeCheckResult.TypeCheckFailure(
            "array_jaccard requires two arrays with the same element type " +
              s"(string or bigint), got ${left.dataType.simpleString} and " +
              s"${right.dataType.simpleString}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      if (nx == 0 && ny == 0) return null
      val inter = if (longElems) interLong(x, y, nx, ny) else interStr(x, y, nx, ny)
      inter.toDouble / (nx + ny - inter)
    }

    private def interStr(x: ArrayData, y: ArrayData, nx: Int, ny: Int): Int = {
      val set = new java.util.HashSet[String](nx * 2)
      var i = 0
      while (i < nx) { set.add(x.getUTF8String(i).toString); i += 1 }
      var inter = 0
      i = 0
      while (i < ny) {
        if (set.contains(y.getUTF8String(i).toString)) inter += 1
        i += 1
      }
      inter
    }

    // open addressing with linear probing; 0 is the empty slot, an
    // actual 0 element is tracked by a flag (md5-derived values are
    // never 0 in practice, but correctness shouldn't rely on that)
    private def interLong(x: ArrayData, y: ArrayData, nx: Int, ny: Int): Int = {
      var cap = 4
      while (cap < nx * 2) cap <<= 1
      val mask = cap - 1
      val table = new Array[Long](cap)
      var hasZero = false
      var i = 0
      while (i < nx) {
        val v = x.getLong(i)
        if (v == 0L) hasZero = true
        else {
          var s = (java.lang.Long.hashCode(v * -7046029254386353131L)) & mask
          while (table(s) != 0L && table(s) != v) s = (s + 1) & mask
          table(s) = v
        }
        i += 1
      }
      var inter = 0
      i = 0
      while (i < ny) {
        val v = y.getLong(i)
        if (v == 0L) { if (hasZero) inter += 1 }
        else {
          var s = (java.lang.Long.hashCode(v * -7046029254386353131L)) & mask
          while (table(s) != 0L && table(s) != v) s = (s + 1) & mask
          if (table(s) == v) inter += 1
        }
        i += 1
      }
      inter
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def array_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayJaccard(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Rabin-Karp rolling-hash document fingerprint: the polynomial hash
    *   h(i) = Σ_j code(c[i+j]) · B^(w-1-j)  mod M
    * of every length-`window` character window, reduced to its minimum
    * (winnowing-style robust fingerprint: shared substrings → shared
    * window hashes regardless of position). O(n) via the rolling update;
    * exact integer arithmetic (B=31, M=2^31-1) so any engine reproduces
    * it. Null for docs shorter than the window. */
  case class RollingHashMin(child: Expression, window: Int)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.types.LongType
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    private val B = 31L
    private val M = 2147483647L  // 2^31 - 1

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      // Unicode code points, not UTF-16 code units — matches ord()/
      // character-length semantics in SQL engines for non-BMP text
      val cps = s.codePoints().toArray
      val n = cps.length
      if (n < window) return null
      // B^(w-1) mod M for the roll-out term
      var bPow = 1L
      var p = 0
      while (p < window - 1) { bPow = (bPow * B) % M; p += 1 }
      var h = 0L
      var i = 0
      while (i < window) { h = (h * B + cps(i).toLong) % M; i += 1 }
      var min = h
      i = window
      while (i < n) {
        val out = (cps(i - window).toLong * bPow) % M
        h = ((h - out + M) % M * B + cps(i).toLong) % M
        if (h < min) min = h
        i += 1
      }
      min
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def rolling_hash_min(text: Column, window: Int): Column =
    ColumnBridge.column(RollingHashMin(ColumnBridge.expression(text), window))
}
