package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen'd vector kernels for the similarity/dedup hot paths.
  *
  * Higher-order functions (`aggregate`/`zip_with`/`transform`) evaluate a
  * Catalyst lambda per array element — correct, but interpreted. These
  * expressions compile to a single static JVM call over the unsafe array
  * data (primitive `while` loop, no per-element dispatch), which is what
  * the hot path of an O(candidates · dim) similarity join needs at scale.
  * Both stay inside whole-stage codegen.
  */
object VectorOps {

  /** Cosine similarity of two double arrays; NaN when either norm is 0
    * (mapped to SQL NULL by the expression wrapper). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  /** Sign-random-projection LSH bucket: `bits` sign bits of dot products
    * against deterministic pseudo-random hyperplanes. Must stay
    * bit-identical to Vectors.hyperplane/lshBucket (the Column-HOF
    * reference implementation, pinned by VectorExprsSpec).
    */
  def lshBucket(vec: ArrayData, table: Long, bits: Int): Long = {
    val dim = vec.numElements()
    var bucket = 0L
    var i = 0
    while (i < bits) {
      val plane = table * bits + i
      // per-plane SLOPE (not the old shared 40503): with one global
      // slope every plane was the same mod-p ramp at a different phase,
      // so planes were near-duplicates of each other — measured on a
      // 20k-vector corpus, only ~725 of 4096 12-bit sign patterns
      // occurred and candidate pairs stayed quadratic no matter how
      // many bits/tables were added. A plane-specific large slope makes
      // each plane an independent Weyl-style sequence; all products
      // stay < 2^63 so the same algebra replays in DuckDB BIGINTs.
      val slope = (plane * 2654435761L) % 1000003L
      var dot = 0.0
      var d = 0
      while (d < dim) {
        val h = (slope * d + plane * 40503L) % 1000003L
        // pmod: operands are non-negative here, % suffices
        dot += vec.getDouble(d) * (h.toDouble / 1000003.0 - 0.5)
        d += 1
      }
      if (dot > 0) bucket += 1L << i
      i += 1
    }
    bucket
  }

  /** |A ∩ B| for two SORTED distinct long arrays by merge scan —
    * O(m+n), zero allocation. The MinHash verify needs only the SIZE of
    * the intersection (|A∪B| follows as |A|+|B|−|A∩B|);
    * `array_intersect`+`array_union` built two per-row hash sets and
    * materialized both result arrays per band meeting, which dominated
    * the 100× wall-clock (58.5M meetings measured by MinhashProbe). */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val m = a.numElements()
    val n = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < m && j < n) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** ∃i: a[i] == b[i] over two equal-length long arrays — the MinHash
    * first-agreeing-band gate's primitive. A previous implementation as
    * `exists(zip_with(a, b, _ === _), identity)` was catastrophically
    * slower NOT because of the per-element work but because interpreted
    * higher-order lambdas exclude the whole join stage from whole-stage
    * codegen — the minhash band join ran 8× slower end-to-end. This is
    * a primitive while loop inside the codegen'd stage. */
  def positionalAnyEqual(a: ArrayData, b: ArrayData): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return true
      i += 1
    }
    false
  }

  /** Per-thread decoded-codebook memo for [[nearestCentroid]]. The
    * codebook column is the SAME broadcast UnsafeArrayData bytes for
    * every row of the scan it joins into, so decoding it once per
    * thread turns the per-row work into pure primitive-array loops — no
    * per-centroid getStruct/getArray wrapper allocation on the N·k hot
    * path. A key miss (interpreted eval over GenericArrayData, or a
    * re-broadcast) just re-decodes; correctness never depends on a hit.
    *
    * Key = buffer identity (baseObject, baseOffset) PLUS byte length
    * and a STRIDED content fingerprint: nearest_centroid is a general
    * session SQL function, and Spark REUSES backing buffers
    * (UnsafeRowSerializer's deserialize buffer, UnsafeProjection's
    * BufferHolder) — a per-row codebook argument written into a reused
    * buffer would alias a prior identity-only key and silently return
    * assignments from a stale decoded codebook. The fingerprint is a
    * rotate-xor mix of 9 words sampled at even strides across the whole
    * region (first and last included) — a head/tail-only read was too
    * weak (the head word is UnsafeArrayData's numElements, already
    * implied by keyLen, so a same-shape rewrite differing only in
    * interior centroid values could hit stale; ADVICE r13). Interior
    * strides cover the value region; equal-content rewrites hitting is
    * correct by definition, and the 9-load check is noise next to the
    * k·d cosine loop it guards. */
  private final class Codebook {
    var keyObj: AnyRef = null
    var keyOff: Long = -1L
    var keyLen: Int = -1
    var keySize: Int = -1
    var keyFp: Long = 0L
    var cells: Array[Long] = null
    var vecs: Array[Array[Double]] = null
  }
  private val cbMemo = new ThreadLocal[Codebook] {
    override def initialValue(): Codebook = new Codebook
  }

  /** Cell id of the nearest centroid by cosine similarity — argmax over
    * a codebook array<struct<cell:bigint, cv:array<double>>>, ties
    * broken toward the LOWEST cell id, iteration order-independent (so
    * a collect_list-built codebook needs no sort). Cosine accumulation
    * is bit-identical to [[cosine]] (same loop order), so the argmax
    * replays DuckDB's row_number ORDER BY list_cosine_similarity DESC,
    * cell ASC at full double precision. NaN cosines (zero-norm sides)
    * never win (NaN > best is false); an empty/all-NaN codebook returns
    * Long.MinValue, which the expression wrapper maps to SQL NULL.
    * DEGENERATE-VECTOR CONTRACT (differs from a raw ORDER BY DESC,
    * which in DuckDB sorts NaN greatest): a zero-norm vector or
    * centroid can never win assignment, and a vector whose every
    * cosine is NaN gets NULL (its rows drop out of any cell join).
    * Oracles must carry a matching `NOT isnan(...)` exclusion — the
    * dedup_semantic_cells SQL does. */
  def nearestCentroid(vec: ArrayData, cb: ArrayData): Long = {
    val k = cb.numElements()
    val m = cbMemo.get()
    // FNV-style fold over EVERY 8-byte word of the buffer (ADVICE r14:
    // a strided sample can alias two codebooks differing only at
    // unsampled interior words; ADVICE r15: a pure rotate(7)-xor fold is
    // position-INSENSITIVE at stride 64 words — 7·64 ≡ 0 (mod 64) — so
    // buffers differing by a 512-byte-apart word swap collide. The
    // multiply makes each position's contribution depend on how many
    // words follow it, so no permutation of distinct words collides).
    // O(sz/8) loads — same order as the k·d cosine loop this memo
    // guards, so a miss still dominates. The last word is anchored at
    // sz-8 (overlapping when sz % 8 != 0) so every byte is covered.
    def stridedFp(u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData)
        : Long = {
      val sz = u.getSizeInBytes
      if (sz < 8) return sz.toLong
      var acc = -3750763034362895579L // FNV-1a 64-bit offset basis
      val lim = (sz - 8).toLong
      var off = 0L
      while (off < lim) {
        val w = org.apache.spark.unsafe.Platform.getLong(
          u.getBaseObject, u.getBaseOffset + off)
        acc = (acc ^ w) * 1099511628211L // FNV 64-bit prime
        off += 8
      }
      val tail = org.apache.spark.unsafe.Platform.getLong(
        u.getBaseObject, u.getBaseOffset + lim)
      (acc ^ tail) * 1099511628211L
    }
    val hit = cb match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
        (m.keyObj eq u.getBaseObject) && m.keyOff == u.getBaseOffset &&
          m.keyLen == k && m.keySize == u.getSizeInBytes &&
          m.keyFp == stridedFp(u)
      case _ => false
    }
    if (!hit) {
      val cells = new Array[Long](k)
      val vecs = new Array[Array[Double]](k)
      var i = 0
      while (i < k) {
        val st = cb.getStruct(i, 2)
        cells(i) = st.getLong(0)
        vecs(i) = st.getArray(1).toDoubleArray()
        i += 1
      }
      m.cells = cells
      m.vecs = vecs
      cb match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
          m.keyObj = u.getBaseObject; m.keyOff = u.getBaseOffset
          m.keyLen = k; m.keySize = u.getSizeInBytes
          m.keyFp = stridedFp(u)
        case _ =>
          m.keyObj = null; m.keyOff = -1L; m.keyLen = -1; m.keySize = -1
      }
    }
    val v = vec.toDoubleArray()
    var bestCell = Long.MinValue
    var bestCos = Double.NegativeInfinity
    var any = false
    var i = 0
    while (i < k) {
      val cv = m.vecs(i)
      val n = math.min(v.length, cv.length)
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var j = 0
      while (j < n) {
        val x = v(j)
        val y = cv(j)
        dot += x * y
        na += x * x
        nb += y * y
        j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cos = if (denom == 0.0) Double.NaN else dot / denom
      val cell = m.cells(i)
      // NaN comparisons are false on both arms → NaN never wins
      if (!any && !cos.isNaN) { any = true; bestCos = cos; bestCell = cell }
      else if (cos > bestCos || (cos == bestCos && cell < bestCell)) {
        bestCos = cos; bestCell = cell
      }
      i += 1
    }
    if (any) bestCell else Long.MinValue
  }

  final val MinHashP = 998244353L

  /** MinHash signature over shingle hashes (linear permutations mod P). */
  def minhashSig(hs: ArrayData, perms: Int): Array[Long] = {
    val n = hs.numElements()
    val sig = new Array[Long](perms)
    var i = 0
    while (i < perms) {
      val a = i * 2L + 1L
      val b = i * 7L + 13L
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = (hs.getLong(j) * a + b) % MinHashP
        val p = if (v < 0) v + MinHashP else v
        if (p < best) best = p
        j += 1
      }
      sig(i) = best
      i += 1
    }
    sig
  }
}

/** `sorted_intersect_size(array<bigint>, array<bigint>) -> int`: merge-
  * scan |A ∩ B| over two sorted distinct long arrays (VectorOps
  * .sortedIntersectSize). The caller owns the sortedness invariant —
  * Dedup.minhashBandFrame sorts `hs` at construction.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // containsNull = false REQUIRED: the merge scan getLong()s every
      // slot, and a null slot would silently read as garbage instead of
      // failing. Every in-repo producer (sort_array over a non-null
      // collect) yields containsNull=false; a general SQL caller with a
      // nullable-element array must fail at analysis, not corrupt counts.
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size requires (array<bigint not null>, " +
          s"array<bigint not null>) — sorted, null-free elements — " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(aAny: Any, bAny: Any): Any =
    VectorOps.sortedIntersectSize(
      aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorOps.sortedIntersectSize($a, $b);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** `positional_any_equal(array<bigint>, array<bigint>) -> boolean`:
  * true iff some position holds the same value in both arrays
  * (VectorOps.positionalAnyEqual). Null-free element types required for
  * the same getLong reason as sorted_intersect_size. */
case class PositionalAnyEqual(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"positional_any_equal requires (array<bigint not null>, " +
          s"array<bigint not null>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "positional_any_equal"

  override def nullSafeEval(aAny: Any, bAny: Any): Any =
    VectorOps.positionalAnyEqual(
      aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorOps.positionalAnyEqual($a, $b);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionalAnyEqual =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<bigint>, perms bigint) -> array<bigint>`: for each
  * permutation i, min over shingle hashes h of (h·(2i+1) + 7i + 13) mod P.
  * Same linear-permutation family as the Column-HOF construction in
  * operators.Dedup (P = 998244353). One JVM loop instead of
  * perms × |shingles| interpreted lambda dispatches.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType | org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires (array<bigint>, int), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(hsAny: Any, permsAny: Any): Any = {
    val hs = hsAny.asInstanceOf[ArrayData]
    val perms = permsAny match {
      case i: Int => i
      case l: Long => l.toInt
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      VectorOps.minhashSig(hs, perms))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, perms) => s"""
      ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        graft.functions.VectorOps.minhashSig($hs, (int) $perms));
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim(array<double>, array<double>) -> double` (null if a norm
  * is 0, mirroring the nullif convention of Vectors.cosine). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      double graft_cos = graft.functions.VectorOps.cosine($a, $b);
      if (Double.isNaN(graft_cos)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft_cos; }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `nearest_centroid(array<double>, array<struct<cell:bigint,
  * cv:array<double>>>) -> bigint`: the codebook-argmax kernel of the
  * coarse-quantizer assignment (VectorOps.nearestCentroid) — highest
  * cosine wins, ties to the lowest cell id, full double precision.
  *
  * WHY an expression and not max_by over a k-way cross join: max_by is
  * a DeclarativeAggregate whose buffer carries the ordering value — a
  * STRUCT here — and struct is not an UnsafeRow-mutable type, so
  * HashAggregateExec refuses it and (not being TypedImperative, so no
  * ObjectHashAggregate either) the planner silently falls back to
  * SortAggregate, which SORTS the full N·k exploded stream before
  * aggregating. Measured on the 100× corpus (288k vecs × 1920 cells =
  * 553M rows × ~60 B): 33 GB of sort spill to produce N assignment
  * rows. This kernel consumes the broadcast codebook per input row
  * inside the scan's codegen stage — no exploded stream exists at all.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
          ArrayType(org.apache.spark.sql.types.StructType(fields), _))
          if fields.length == 2 && fields(0).dataType == LongType &&
            (fields(1).dataType match {
              case ArrayType(DoubleType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid requires (array<double>, array<struct<bigint," +
          s" array<double>>>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any, cb: Any): Any = {
    val r = VectorOps.nearestCentroid(
      v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => s"""
      long graft_nc = graft.functions.VectorOps.nearestCentroid($v, $cb);
      if (graft_nc == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
      else { ${ev.value} = graft_nc; }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** `lsh_bucket(array<double>, table bigint, bits bigint) -> bigint`. */
case class LshBucket(left: Expression, right: Expression, bitsExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(left, right, bitsExpr)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "lsh_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType, bitsExpr.dataType) match {
      case (ArrayType(DoubleType, _), LongType | org.apache.spark.sql.types.IntegerType,
          LongType | org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, b) => TypeCheckResult.TypeCheckFailure(
        s"lsh_bucket requires (array<double>, int, int), got (${l.sql}, ${r.sql}, ${b.sql})")
    }

  private def asLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    val t = right.eval(input)
    val b = bitsExpr.eval(input)
    if (v == null || t == null || b == null) null
    else VectorOps.lshBucket(v.asInstanceOf[ArrayData], asLong(t), asLong(b).toInt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vGen = left.genCode(ctx)
    val tGen = right.genCode(ctx)
    val bGen = bitsExpr.genCode(ctx)
    ev.copy(code = code"""
      ${vGen.code}
      ${tGen.code}
      ${bGen.code}
      boolean ${ev.isNull} = ${vGen.isNull} || ${tGen.isNull} || ${bGen.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.VectorOps.lshBucket(
          ${vGen.value}, (long) ${tGen.value}, (int) ${bGen.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LshBucket =
    copy(left = newChildren(0), right = newChildren(1), bitsExpr = newChildren(2))
}

object VectorExprs {
  def minhashSig(hashes: Column, perms: Int): Column =
    call_function("minhash_sig", hashes, lit(perms))

  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)

  def positionalAnyEqual(a: Column, b: Column): Column =
    call_function("positional_any_equal", a, b)

  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  def nearestCentroid(vec: Column, codebook: Column): Column =
    call_function("nearest_centroid", vec, codebook)

  def lshBucket(vec: Column, table: Column, bits: Int): Column =
    call_function("lsh_bucket", vec, table, lit(bits))
}
