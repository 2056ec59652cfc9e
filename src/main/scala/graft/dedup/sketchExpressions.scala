package graft.dedup

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Single-pass sketch kernels for near-duplicate detection.
 *
 * Why custom expressions: composing these from `transform`/`filter`/
 * `array_min` higher-order functions costs one interpreted expression
 * evaluation per (element × hash function) — 128 string hashes per shingle
 * for MinHash — which measured ~800 s for 5k docs. These expressions hash
 * each element ONCE and derive the k values with multiply-mix arithmetic in
 * a tight JVM loop: O(elements) string hashes + O(elements × k) long ops.
 * `CodegenFallback` is fine — the per-row eval is a plain Scala loop, so
 * there is no per-element interpretation overhead to eliminate.
 */
object SketchHashing {
  /** splitmix64 — used to derive fixed per-function multipliers/addends. */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Base 64-bit hash of a UTF8 string element (xxHash64, Spark's seed). */
  def baseHash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
}

/**
 * `char_shingles(string, n)` → array<string>: the DISTINCT character
 * n-grams of the input, lowercased. Texts shorter than n yield the whole
 * (lowercased) text as the single shingle. Single pass over the string with
 * a hash-set dedup — the higher-order-function equivalent
 * (`array_distinct(transform(sequence(...), substring(...)))`) costs one
 * interpreted expression eval per character.
 */
case class CharShingles(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n > 0, "shingle width must be positive")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val text = input.asInstanceOf[UTF8String].toLowerCase
    val bytes = text.getBytes
    // One pass to find every character's byte offset. UTF8String.substring
    // rescans from byte 0 per call (O(len) each, O(len^2) per document);
    // slicing through this offset table keeps shingling linear.
    var nChars = 0
    var off = 0
    val offsets = new Array[Int](bytes.length + 1)
    while (off < bytes.length) {
      offsets(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    offsets(nChars) = bytes.length
    val count = math.max(nChars - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 0
    while (i < count) {
      val start = offsets(i)
      val end = offsets(math.min(i + n, nChars))
      seen.add(UTF8String.fromBytes(bytes, start, end - start))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override def prettyName: String = "char_shingles"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `word_shingles(array<string>, n)` → array<string>: the DISTINCT
 * n-token shingles of a token array, each joined with a single space.
 * Fewer than n tokens yield an empty array (a document shorter than the
 * shingle width cannot contain one — unlike [[CharShingles]], which falls
 * back to whole-text, word shingles feed overlap tests where a partial
 * gram would be a false positive). A null token BREAKS the gram sequence —
 * no shingle spans it: silently bridging two non-adjacent tokens would
 * fabricate a gram the document never contained, the same false-positive
 * class.
 */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n > 0, "shingle width must be positive")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String](math.max(total - n + 1, 0) * 2)
    val space = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i + n <= total) {
      // A window is a gram only if all n tokens are non-null (contiguous).
      var k = 0
      var ok = true
      while (ok && k < n) {
        if (arr.isNullAt(i + k)) { ok = false; i = i + k } // skip past the null
        else { parts(k) = arr.getUTF8String(i + k); k += 1 }
      }
      if (ok) seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override def prettyName: String = "word_shingles"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `minhash_signature(array<string>, k)` → array<bigint> of length k:
 * element-wise minimum of k pairwise-independent hash functions
 * `h_i(x) = a_i·base(x) + b_i` (mod 2^64; a_i odd so the map is a
 * bijection). Null elements are skipped; an all-null/empty array yields the
 * identity signature (Long.MaxValue everywhere), which never collides with
 * real content in band hashing.
 *
 * `base` is xxHash64 by default; with `auditable = true` it is the first
 * 8 bytes of MD5 (same convention as [[SimHash64]]), and the per-function
 * coefficients are exposed via [[MinHashSignature.coefficients]] — together
 * those make the whole signature re-derivable in any engine with `md5()`
 * and 128-bit integers (the mod-2^64 linear map needs a split multiply;
 * see the q92 oracle). Minima compare in SIGNED long order, matching what
 * an engine recovers via the xor-2^63 order re-bias.
 */
case class MinHashSignature(child: Expression, k: Int, auditable: Boolean = false)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(k > 0, "minhash signature length must be positive")

  private val mulA: Array[Long] = MinHashSignature.coefficients(k)._1
  private val addB: Array[Long] = MinHashSignature.coefficients(k)._2

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val base = if (auditable) SimHash64.md5Hash64(s) else SketchHashing.baseHash(s)
        var i = 0
        while (i < k) {
          val h = mulA(i) * base + addB(i)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override def prettyName: String = "minhash_signature"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** The (multiplier, addend) coefficient arrays for a k-element signature —
   * splitmix64 of the function index, multipliers forced odd. Public so an
   * off-Spark oracle can embed the SAME constants and re-derive auditable
   * signatures value-for-value (q92). */
  def coefficients(k: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(k)(i => SketchHashing.mix64(2L * i) | 1L),
    Array.tabulate(k)(i => SketchHashing.mix64(2L * i + 1)))
}

/**
 * `simhash64(array<string>)` → bigint: each token's 64-bit hash votes its
 * bits up/down; bit b of the result is set iff strictly more than half the
 * tokens have bit b set. Empty input → 0.
 *
 * With `auditable = false` (default) tokens hash with xxHash64 — the fast
 * path. With `auditable = true` they hash with the first 8 bytes of
 * MD5(UTF-8 bytes), big-endian: unlike xxHash64, that value is computable
 * in one expression by DuckDB/Postgres/Trino (`md5()` is everywhere), so
 * the entire near-dup result can be re-derived and audited off-Spark. For
 * SimHash the hash IS the semantics — two engines only agree on the pairs
 * if they agree on the token hash.
 */
case class SimHash64(child: Expression, auditable: Boolean = false)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var count = 0
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val h = if (auditable) SimHash64.md5Hash64(s) else SketchHashing.baseHash(s)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1
          b += 1
        }
        count += 1
      }
      j += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) * 2 > count) sim |= (1L << b)
      b += 1
    }
    sim
  }

  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Mutable buffer for [[CollectListCapped]]: the exact group size plus at
 * most `cap` retained values. */
final class CappedListBuffer(
    var total: Long,
    val values: scala.collection.mutable.ArrayBuffer[Any])

/**
 * `collect_list_capped(expr, cap)` → struct<total: bigint, ids: array>:
 * like `collect_list`, but NEVER retains more than `cap` elements per group —
 * `total` always carries the true group size so callers can tell a complete
 * list (`total <= cap`) from a truncated one (`total > cap`).
 *
 * This is the memory-safety primitive for LSH candidate generation: a
 * degenerate bucket (every document sharing one hot shingle) makes plain
 * `collect_list` build an unbounded in-memory array in ONE aggregation state
 * and the downstream pair expansion square it. With the cap, per-group state
 * is O(cap) no matter how skewed the corpus, and oversized buckets are
 * detectable (and countable) instead of fatal.
 */
case class CollectListCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedListBuffer] with UnaryLike[Expression] {

  require(cap > 0, "cap must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("ids", ArrayType(child.dataType, containsNull = false), nullable = false)))
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CappedListBuffer =
    new CappedListBuffer(0L, scala.collection.mutable.ArrayBuffer.empty)

  override def update(buffer: CappedListBuffer, input: InternalRow): CappedListBuffer = {
    val v = child.eval(input)
    if (v != null) {
      buffer.total += 1
      if (buffer.values.size < cap) buffer.values += InternalRow.copyValue(v)
    }
    buffer
  }

  override def merge(a: CappedListBuffer, b: CappedListBuffer): CappedListBuffer = {
    a.total += b.total
    val room = cap - a.values.size
    if (room > 0) a.values ++= b.values.take(room)
    a
  }

  override def eval(buffer: CappedListBuffer): Any = {
    if (buffer.total > cap) {
      // Executor-side accounting that survives every optimizer rewrite:
      // whatever AQE does to the plan downstream, an overflowing group
      // logs here. Exact drop counts are a separate query
      // (Dedup.lshBucketStats / simhashBucketStats).
      CollectListCapped.log.warn(
        s"collect_list_capped: group of ${buffer.total} values exceeded cap $cap; " +
          s"retained the first $cap")
    }
    new GenericInternalRow(Array[Any](
      buffer.total, new GenericArrayData(buffer.values.toArray)))
  }

  @transient private lazy val projector =
    UnsafeProjection.create(Array[DataType](
      LongType, ArrayType(child.dataType, containsNull = false)))

  override def serialize(buffer: CappedListBuffer): Array[Byte] =
    projector(new GenericInternalRow(Array[Any](
      buffer.total, new GenericArrayData(buffer.values.toArray)))).getBytes

  override def deserialize(bytes: Array[Byte]): CappedListBuffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(1)
    val et = child.dataType
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < arr.numElements()) {
      // copy out of the backing byte array so the buffer owns its values
      values += InternalRow.copyValue(arr.get(i, et))
      i += 1
    }
    new CappedListBuffer(row.getLong(0), values)
  }

  override def prettyName: String = "collect_list_capped"
  override def withNewMutableAggBufferOffset(newOffset: Int): CollectListCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectListCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CollectListCapped {
  private[dedup] val log = org.slf4j.LoggerFactory.getLogger(classOf[CollectListCapped])
}

object SimHash64 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of MD5(UTF-8 bytes), big-endian — the bit pattern of
   * `('0x' || substr(md5(t), 1, 16))::UBIGINT` in DuckDB. */
  def md5Hash64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val bytes = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) {
      h = (h << 8) | (bytes(i) & 0xFFL)
      i += 1
    }
    h
  }
}

/**
 * `sorted_long_intersect_count(a, b)` → int: |a ∩ b| for two `array<long>`
 * columns whose elements are SORTED ASCENDING and DISTINCT (the caller's
 * contract — [[graft.dedup.Dedup.ngramJaccardPairs]] sorts each gram set
 * once at build time). A two-pointer merge walk: O(|a|+|b|) primitive
 * long compares, zero allocation, no boxing — where
 * `size(array_intersect(a, b))` builds a hash set AND materializes the
 * intersection array per row just to count it. The verify join evaluates
 * this once per candidate pair, so per-pair constant factors are exactly
 * what a 100 TB run pays; full codegen keeps the kernel inside the join
 * stage's generated loop.
 *
 * Unsorted input silently undercounts — this is a private kernel for
 * call sites that own the sort, not a general SQL surface.
 */
case class SortedLongIntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Fresh names: with non-nullable inputs the snippet inlines into the
      // surrounding scope without braces (same caveat as the vector kernels).
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |${ev.value} = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * `sorted_string_intersect_count(a, b)` → int: |a ∩ b| for two
 * `array<string>` columns sorted ascending in UTF8 binary order with
 * DISTINCT elements — the string twin of [[SortedLongIntersectCount]],
 * for the MinHash verify join ([[Dedup.jaccardNearDupPairs]]) whose
 * shingle sets stay as strings so the DuckDB oracle can re-derive the
 * exact intersection without any hashing step. Same two-pointer merge
 * walk; comparisons are UTF8String byte compares (Spark's sort_array
 * order for strings), no hash set, no materialized intersection array.
 *
 * Unsorted input silently undercounts — private kernel, caller owns
 * the sort.
 */
case class SortedStringIntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |${ev.value} = 0;
         |while ($i < $na && $j < $nb) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { ${ev.value}++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * `sorted_long_contains(arr, v)` → boolean: binary search for `v` in an
 * `array<long>` sorted ascending (signed) — the membership twin of
 * [[SortedLongIntersectCount]], for per-element probes against one shared
 * sorted set (e.g. [[graft.text.Cleanup.removeBoilerplateLines]] testing
 * every line of every document against the broadcast boilerplate set).
 * O(log n) primitive compares per probe where `array_contains` scans
 * linearly; full codegen keeps the probe inside the projection's
 * generated loop, including when it runs per array element inside a
 * higher-order `filter` lambda.
 *
 * Unsorted input silently misses — private kernel, caller owns the sort.
 */
case class SortedLongContains(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = BooleanType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val v = r.asInstanceOf[Long]
    var lo = 0
    var hi = a.numElements() - 1
    var found = false
    while (lo <= hi && !found) {
      val mid = (lo + hi) >>> 1
      val x = a.getLong(mid)
      if (x == v) found = true
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    found
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, v) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val x = ctx.freshName("x")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements() - 1;
         |${ev.value} = false;
         |while ($lo <= $hi && !${ev.value}) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  long $x = $a.getLong($mid);
         |  if ($x == $v) { ${ev.value} = true; }
         |  else if ($x < $v) { $lo = $mid + 1; } else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * `pair_collisions_explode(array<struct>)` — a Catalyst GENERATOR
 * emitting the m·(m−1)/2 unordered element pairs of a collision group as
 * `p: struct(a, b)`, normalized so `a` is the member with the smaller
 * FIRST field (ties keep the (later, earlier) orientation, matching the
 * Column formulation's `otherwise` branch; first fields are distinct in
 * the PPJoin group anyway — one prefix row per (gram, id)).
 *
 * Replaces the prefix-group expansion
 * `explode(flatten(transform(ms, (a,i) -> transform(slice(ms, i+2, …), …))))`
 * in [[graft.dedup.Dedup]]'s PPJoin: that tree materializes the full
 * pair ARRAY per group before exploding (a hot gram's group holds
 * m²-ish structs live), evaluates nested interpreted lambdas per
 * element, and — repeated across the ranking/verify branches — was a
 * measurable slice of q59/q75/q76's ~0.5 s driver planning time. The
 * generator streams pairs through GenerateExec with one upfront copy of
 * each member row.
 */
case class PairCollisionsExplode(child: Expression)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with CodegenFallback {

  private lazy val elemType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val idType: DataType = elemType.fields(0).dataType
  private lazy val idOrdering =
    org.apache.spark.sql.graft.GraftSqlBridge.orderingFor(idType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.fields.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct> input, got ${child.dataType.catalogString}")
    }

  override def elementSchema: StructType =
    StructType(Seq(StructField("p", StructType(Seq(
      StructField("a", elemType, nullable = false),
      StructField("b", elemType, nullable = false))), nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < 2) return Nil
    val rows = new Array[InternalRow](m)
    val ids = new Array[Any](m)
    var i = 0
    while (i < m) {
      val r = arr.getStruct(i, elemType.length).copy()
      rows(i) = r
      ids(i) = r.get(0, idType)
      i += 1
    }
    new Iterator[InternalRow] {
      private var x = 0
      private var y = 1
      override def hasNext: Boolean = x < m - 1
      override def next(): InternalRow = {
        val (a, b) =
          if (idOrdering.lt(ids(x), ids(y))) (rows(x), rows(y)) else (rows(y), rows(x))
        y += 1
        if (y >= m) { x += 1; y = x + 1 }
        InternalRow(new GenericInternalRow(Array[Any](a, b)))
      }
    }
  }

  override def prettyName: String = "pair_collisions_explode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
