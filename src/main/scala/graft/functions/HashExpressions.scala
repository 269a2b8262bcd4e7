package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels shared by eval and generated code. Public because
  * whole-stage-codegen emits calls to them by fully-qualified name. */
object HashKernels {

  /** FNV-1a 64-bit — cheap, dependency-free, stable. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def fnv1a64(s: UTF8String): Long = fnv1a64(s.getBytes)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5 as a non-negative long — the value DuckDB's
    * `('0x' || substr(md5(s),1,15))::BIGINT` produces (hex chars are the
    * digest big-endian, 15 chars = top 60 bits), which is what keeps
    * simhash oracle-checkable cross-engine. */
  def md5Top60(bytes: Array[Byte]): Long = {
    val d = md5Local.get().digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Minimum md5-top-60 over all k-char windows of `text` (min-of-windows
    * fingerprint, DuckDB-expressible — see q38's oracle). Loops windows
    * inside the kernel: the equivalent explode-5M-rows formulation pays
    * per-row overhead on every window; this is one function call per
    * document. Char-based windows (substringSQL) so multi-byte text
    * windows match SQL substring on both engines. */
  def minWindowMd5(text: UTF8String, k: Int): Long = {
    val n = text.numChars()
    val last = math.max(n - k + 1, 1)
    var min = java.lang.Long.MAX_VALUE
    var i = 1
    while (i <= last) {
      val h = md5Top60(text.substringSQL(i, k).getBytes)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** 60-bit SimHash of a token array: per-bit majority vote of token
    * hashes (md5 top-60, see [[md5Top60]]). Near-identical docs differ
    * in few bits (compare via bit_count(a ^ b) ≤ t); 60 bits vs 64 costs
    * nothing detectable in separation quality and buys a DuckDB-
    * recomputable oracle. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5Top60(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD '03): minimum
    * Karp-Rabin rolling hash over all k-char windows — a single stable
    * 64-bit document fingerprint robust to small edits at the ends. */
  def minRollingHash(text: UTF8String, k: Int): Long = {
    val bytes = text.getBytes
    if (bytes.length < k) return fnv1a64(text)
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = mix(h)
    i = k
    while (i < bytes.length) {
      h = (h - (bytes(i - k) & 0xffL) * pow) * B + (bytes(i) & 0xffL)
      val m = mix(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  /** The k bloom-filter bit positions of a value's canonical string
    * form: double hashing over the fnv1a64 base,
    * `position_i = mix(h ^ i·GOLDEN) mod m` (Kirsch–Mitzenmacher).
    * One kernel serves both sides of the store's bloom sidecars: the
    * codegen'd [[BloomBits]] expression on executors at build time and
    * the driver-side probe at read time — identical bits by
    * construction, no cross-API hashing drift possible. */
  def bloomPositions(h: Long, m: Int, k: Int): Array[Int] = {
    val out = new Array[Int](k)
    var i = 0
    while (i < k) {
      out(i) = java.lang.Long.remainderUnsigned(
        mix(h ^ (i.toLong * 0x9e3779b97f4a7c15L)), m.toLong).toInt
      i += 1
    }
    out
  }

  def bloomBits(s: UTF8String, m: Int, k: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bloomPositions(fnv1a64(s), m, k))

  /** Probe side of [[bloomPositions]]: true iff every one of the value's
    * k positions is set in the m-bit bitset. Same double-hash schedule as
    * the build side by construction — used by the store's driver-side
    * bucket admission and by the codegen'd [[BloomMightContain]]
    * expression (executor-side row prefiltering). */
  def bloomMightContain(h: Long, bits: Array[Long], m: Int, k: Int): Boolean = {
    var i = 0
    while (i < k) {
      val p = java.lang.Long.remainderUnsigned(
        mix(h ^ (i.toLong * 0x9e3779b97f4a7c15L)), m.toLong).toInt
      if ((bits(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def bloomMightContain(s: UTF8String, bits: Array[Long], m: Int, k: Int): Boolean =
    bloomMightContain(fnv1a64(s), bits, m, k)

  /** Little-endian word assembly matching [[BloomPackAgg]]'s byte layout:
    * the unpacked long[] answers `bits(p >>> 6) & (1L << (p & 63))` for
    * exactly the positions the packed bytes had set. */
  def packedBytesToLongs(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long]((bytes.length + 7) >>> 3)
    var i = 0
    while (i < bytes.length) {
      out(i >>> 3) |= (bytes(i) & 0xffL) << ((i & 7) << 3)
      i += 1
    }
    out
  }

  /** Finalizer so raw polynomial hashes compare uniformly. */
  def mix(x: Long): Long = {
    var h = x
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33)
    h
  }

  /** Exact dot product of two long arrays (quantized embeddings). A native
    * kernel because Spark's `aggregate`/`zip_with` HOFs are CodegenFallback
    * — interpreted per element, ~100× slower than this loop. */
  def longDot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** Dense ±1 sign projection of a quantized (long) vector: out[j] =
    * Σ_d q[d]·signs[j·d0 + d] with the caller-supplied flattened r×d0
    * sign matrix. The loop kernel replaces what would otherwise be an
    * r×d0-term inline expression tree — at r=32, d0=64 that tree blows
    * the JVM's 64 KB method bytecode limit and drops the whole stage
    * out of codegen (q202's prefilter pass). Exact integer sums, so the
    * projection is bit-identical to the oracle's per-cell SQL. */
  def signProject(q: ArrayData, signs: Array[Long], r: Int): ArrayData = {
    val d0 = signs.length / r
    val out = new Array[Long](r)
    var j = 0
    while (j < r) {
      var acc = 0L
      var d = 0
      val base = j * d0
      while (d < d0) { acc += q.getLong(d) * signs(base + d); d += 1 }
      out(j) = acc
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Per-frame energy of a binary payload: frame f's energy is
    * Σ (byte & 0xFF)² over its `frame` bytes; only FULL frames are
    * emitted (a partial tail frame would mean a different denominator
    * per row — the oracle mirrors the truncation). The loop kernel
    * keeps the whole segmentation inside one codegen'd projection —
    * the array-HOF formulation would drop the stage to interpreted
    * per-element lambdas. */
  def frameEnergies(bytes: Array[Byte], frame: Int): ArrayData = {
    val n = bytes.length / frame
    val out = new Array[Long](n)
    var f = 0
    while (f < n) {
      var acc = 0L
      var i = f * frame
      val end = i + frame
      while (i < end) { val v = (bytes(i) & 0xff).toLong; acc += v * v; i += 1 }
      out(f) = acc
      f += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Sign-random-projection signature over a float embedding: bit p =
    * sign(Σ_d w(p,d)·x_d) with w(p,d) = ±1 from a mixed hash of (p,d).
    * Deterministic, model-free, one pass over the vector per plane. */
  def srpBits(v: ArrayData, planes: Int): UTF8String = {
    val n = v.numElements()
    val out = new Array[Byte](planes)
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val sign = if ((mix((p.toLong << 32) | d) & 1L) == 0L) 1.0 else -1.0
        acc += sign * v.getFloat(d)
        d += 1
      }
      out(p) = if (acc >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** `simhash(array<string>) -> long` as a native Catalyst expression with
  * whole-stage codegen (SURVEY.md engine layer: custom scalar where Spark
  * has no built-in; an Expression with doGenCode stays inside the codegen
  * span, unlike a Scala UDF which breaks it).
  */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash needs array<string>, got $other")
    }
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

/** `min_rolling_hash(string, k) -> long` — winnowing-style document
  * fingerprint as a codegen'd expression. `k` is a compile-time window. */
case class MinRollingHash(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"min_rolling_hash needs string, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.minRollingHash(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minRollingHash($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinRollingHash =
    copy(child = newChild)
}

/** `long_dot(array<long>, array<long>) -> long` — exact quantized dot
  * product, codegen'd. */
case class LongDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  // strict typing: ArrayData.getLong on a non-long array reads garbage
  // silently, so reject anything but array<long> at analysis time
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"long_dot needs (array<long>, array<long>), got $other")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.longDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.longDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDot =
    copy(left = l, right = r)
}

/** `sign_project(array<long>) -> array<long>` — dense ±1 matrix
  * projection with a compile-time sign matrix (flattened row-major,
  * r rows × d0 cols), codegen'd as a loop kernel. Replaces the inline
  * sum-of-products tree for JL-style projections whose generated code
  * would exceed the 64 KB method limit (see [[HashKernels.signProject]]).
  * The matrix rides the plan as a reference object (r·d0 longs). */
case class SignProject(child: Expression, signs: Array[Long], r: Int)
    extends UnaryExpression {
  require(signs.length % r == 0, s"sign matrix ${signs.length} not divisible by r=$r")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_project needs array<long>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.signProject(input.asInstanceOf[ArrayData], signs, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signMatrix", signs, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.signProject($c, $ref, $r)")
  }
  override protected def withNewChildInternal(newChild: Expression): SignProject =
    copy(child = newChild)
}

/** A per-call constant (`value` in Catalyst's internal form) that rides
  * the plan as a reference object, like [[SignProject]]'s matrix. A
  * `Literal` is inlined into the generated Java, so a plan rebuilt with a
  * new value (a sync's watermark or timestamp) is new source and compiles
  * again; this leaf's code reads the value from the references array, so
  * such plans share one compiled class. Not foldable, so the optimizer
  * never turns it back into a literal. */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a bound value is never null")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"final $javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}

/** `frame_energies(binary) -> array<long>` — per-frame Σ byte² over
  * fixed-size frames (full frames only), codegen'd as a loop kernel.
  * The segmentation primitive behind VAD-style activity screens on
  * stubbed PCM payloads (see [[HashKernels.frameEnergies]]). */
case class FrameEnergies(child: Expression, frame: Int) extends UnaryExpression {
  require(frame > 0, "frame length must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case org.apache.spark.sql.types.BinaryType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"frame_energies needs binary, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.frameEnergies(input.asInstanceOf[Array[Byte]], frame)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.frameEnergies($c, $frame)")
  override protected def withNewChildInternal(newChild: Expression): FrameEnergies =
    copy(child = newChild)
}

/** `srp_bits(array<float>, planes) -> string` — LSH bucket signature,
  * codegen'd. */
case class SrpSig(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  // getFloat on an array<double> would read wrong 4-byte halves — reject
  // anything but array<float> at analysis time
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"srp_bits needs array<float>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.srpBits(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.srpBits($c, $planes)")
  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)
}

/** Column-API entry points + SQL registration. Spark 4 routes Column↔
  * Expression through a private bridge; see graftshim.ColumnBridge. */
/** `min_window_md5(string, k) -> long` — min-of-windows md5 fingerprint
  * as a codegen'd expression (the oracle-checkable sibling of
  * [[MinRollingHash]]; see HashKernels.minWindowMd5). */
case class MinWindowMd5(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"min_window_md5 needs string, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.minWindowMd5(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minWindowMd5($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinWindowMd5 =
    copy(child = newChild)
}

/** `bloom_bits(string, m, k) -> array<int>` — the k bloom bit positions
  * of a value under an m-bit filter, codegen'd. `m`/`k` are compile-time
  * filter geometry (fixed per table column at writeAll, like the bucket
  * count). Build side of [[graft.sync.BucketedTableStore]]'s per-bucket
  * bloom sidecars; the probe side calls [[HashKernels.bloomPositions]]
  * on the driver with the same geometry. */
case class BloomBits(child: Expression, m: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_bits needs string, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.bloomBits(input.asInstanceOf[UTF8String], m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bloomBits($c, $m, $k)")
  override protected def withNewChildInternal(newChild: Expression): BloomBits =
    copy(child = newChild)
}

/** Executor-side bloom membership probe against a driver-built bitset —
  * the codegen replacement for a `udf(k => bloom.mightContain(k))`
  * closure: the bitset rides the plan as a reference object (16 KiB at
  * the default geometry), the per-row work is k hash-mixes inside
  * whole-stage codegen, and the hash schedule is byte-identical to the
  * store's sidecar build ([[HashKernels.bloomPositions]]), so one kernel
  * serves bucket admission AND row prefiltering. */
case class BloomMightContain(child: Expression, bits: Array[Long], m: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs string, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HashKernels.bloomMightContain(input.asInstanceOf[UTF8String], bits, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBitset", bits, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.bloomMightContain($c, $ref, $m, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object GraftFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** The q197/q202 JL sign matrix (16×64, md5 parity of "d:j") — the
    * default geometry for the SQL-registered `sign_project`. */
  private[functions] lazy val DefaultJlSigns: Array[Long] =
    Array.tabulate(16 * 64) { i =>
      val (j, d) = (i / 64, i % 64)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d:$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1L else -1L
    }

  def simhash(c: Column): Column =
    ColumnBridge.column(SimHash(ColumnBridge.expression(c)))
  def bloom_bits(c: Column, m: Int, k: Int): Column =
    ColumnBridge.column(BloomBits(ColumnBridge.expression(c), m, k))
  def bloom_might_contain(c: Column, bits: Array[Long], m: Int, k: Int): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(c), bits, m, k))
  def min_rolling_hash(c: Column, k: Int): Column =
    ColumnBridge.column(MinRollingHash(ColumnBridge.expression(c), k))
  def min_window_md5(c: Column, k: Int): Column =
    ColumnBridge.column(MinWindowMd5(ColumnBridge.expression(c), k))
  def long_dot(a: Column, b: Column): Column =
    ColumnBridge.column(LongDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def sign_project(c: Column, signs: Array[Long], r: Int): Column =
    ColumnBridge.column(SignProject(ColumnBridge.expression(c), signs, r))
  def frame_energies(c: Column, frame: Int): Column =
    ColumnBridge.column(FrameEnergies(ColumnBridge.expression(c), frame))
  def srp_bits(c: Column, planes: Int): Column =
    ColumnBridge.column(SrpSig(ColumnBridge.expression(c), planes))
  /** `lit(v)`'s value and type, as a [[BoundValue]]. */
  def bound(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(BoundValue(l.value, l.dataType))
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash", exprs => SimHash(exprs.head), "scala_udf")
    // k=16 everywhere (GraftExtensions, q38): the fingerprint definition
    // must be identical regardless of how the function was installed
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_rolling_hash",
      exprs => MinRollingHash(exprs.head, 16), "scala_udf")
    // SQL surface for the JL kernel at its q197/q202 geometry (64→16,
    // md5-parity signs) so `SELECT sign_project(q)` works in spark.sql;
    // other geometries go through GraftFunctions.sign_project.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_project",
      exprs => SignProject(exprs.head, DefaultJlSigns, 16), "scala_udf")
  }
}
