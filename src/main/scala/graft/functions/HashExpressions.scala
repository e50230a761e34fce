package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expressions for the hash-heavy dedup/ANN kernels.
  *
  * The same logic is expressible with built-in higher-order functions
  * (transform/aggregate lambdas), but those evaluate interpreted — per-token
  * lambda dispatch and boxed accumulators. These expressions run the loops
  * as tight JVM code and participate in whole-stage codegen via a static
  * call (`defineCodeGen`), which measured 3-10× faster on the sf0.1 corpus.
  * Token hashing uses Spark's own XXH64 (`XxHash64Function`, seed 42) so
  * values are identical to the built-in `xxhash64(token)` expression.
  */
object HashKernels {

  /** 64-bit SimHash over an array of token strings. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** splitmix64 finalizer — cheap deterministic per-index hash family. */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature: sig(i) = min over shingles of mix(xxh64(s) ^ seed_i). */
  def minhashSignature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = XxHash64Function.hash(shingles.getUTF8String(i), StringType, 42L)
        var k = 0
        while (k < numHashes) {
          val v = mix(h ^ (k.toLong * 0xC2B2AE3D27D4EB4FL))
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** n-token shingle hashes WITHOUT materializing shingle strings: hash each
    * token once, fold each n-window of token hashes with the splitmix
    * chain, dedupe. Equivalent information to distinct string shingles at a
    * fraction of the allocation cost — strings never exist.
    */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val count = tokens.numElements()
    val th = new Array[Long](count)
    var i = 0
    while (i < count) {
      th(i) = if (tokens.isNullAt(i)) 0L
              else XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
      i += 1
    }
    val nShingles = math.max(count - n + 1, if (count > 0) 1 else 0)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s < nShingles) {
      var acc = 0x51_7C_C1_B7_27_22_0A_95L
      var j = 0
      while (j < n && s + j < count) {
        acc = mix(acc ^ th(s + j))
        j += 1
      }
      seen.add(acc)
      s += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** MinHash signature over precomputed shingle hashes (array<long>). */
  def minhashFromHashes(hashes: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var k = 0
      while (k < numHashes) {
        val v = mix(h ^ (k.toLong * 0xC2B2AE3D27D4EB4FL))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Random-hyperplane LSH bucket ids for a float-vector embedding:
    * `numTables` buckets of `planesPerTable` sign bits each. The ±1 plane
    * matrix is deterministic (splitmix64 of the component index) — identical
    * on every executor, no broadcast state.
    */
  def lshBuckets(vec: ArrayData, numTables: Int, planesPerTable: Int): ArrayData = {
    val dim = vec.numElements()
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var p = 0
      while (p < planesPerTable) {
        val plane = (t * planesPerTable + p).toLong
        var dot = 0.0
        var i = 0
        while (i < dim) {
          val w = if ((mix(plane * 64L + i) & 1L) == 1L) 1.0 else -1.0
          dot += vec.getFloat(i) * w
          i += 1
        }
        bucket = bucket * 2 + (if (dot >= 0.0) 1L else 0L)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}

object TextKernels {
  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")

  /** NFD-normalize then strip combining marks ("Café" → "Cafe") — the
    * canonicalization kernel for multilingual dedup. Stdlib
    * java.text.Normalizer is deterministic across JVMs; the regex is
    * compiled once per executor classload, not per row.
    */
  def foldAccents(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val nfd = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
    org.apache.spark.unsafe.types.UTF8String.fromString(Marks.matcher(nfd).replaceAll(""))
  }

  /** Number of BPE-ish tokens — matches of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]`
    * — in ONE zero-allocation byte scan. `size(regexp_extract_all(...))`
    * materializes every matched token into an array only to take its
    * length; at corpus scale that is pure constant waste (q39's dominant
    * cost at sf10). Run-starts are counted for the letter/digit classes
    * (the regex alternation is greedy, so matches are maximal runs); every
    * other character is its own single-char token. Non-ASCII code points
    * are counted once via their UTF-8 LEAD byte (continuation bytes
    * `10xxxxxx` are skipped), exactly as a per-character regex sees them.
    * Equivalence to the regex form is pinned in Round14Spec.
    */
  def bpeTokenCount(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes
    var i = 0
    var count = 0L
    var prevCls = 0 // 0 = boundary, 1 = in letter run, 2 = in digit run
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { // ASCII byte
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
          if (prevCls != 1) count += 1
          prevCls = 1
        } else if (b >= '0' && b <= '9') {
          if (prevCls != 2) count += 1
          prevCls = 2
        } else if (b == ' ') {
          prevCls = 0
        } else { // ASCII punctuation/control: its own token
          count += 1
          prevCls = 0
        }
      } else { // non-ASCII: count the code point once, at its lead byte
        if ((b & 0xC0) != 0x80) count += 1
        prevCls = 0
      }
      i += 1
    }
    count
  }

  /** Number of single-space-split fields = (' ' bytes) + 1 — the
    * `size(split(text, ' '))` count (both engines keep empty fields)
    * without materializing the substring array. ' ' is a single ASCII
    * byte, so a byte scan is exact for any UTF-8 payload.
    */
  def wsTokenCount(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes
    var i = 0
    var count = 1L
    while (i < n) {
      if (s.getByte(i) == ' ') count += 1
      i += 1
    }
    count
  }
}

object VectorKernels {
  /** Cosine similarity of two double vectors — same accumulation order
    * (left-to-right per sum) as the higher-order-function formulation
    * `aggregate(zip_with(a,b,*),0D,+) / (sqrt(Σa²)·sqrt(Σb²))`, so results
    * are bit-identical to the DuckDB oracle's grouped-sum version.
    */
  def cosineSimilarity(a: ArrayData, b: ArrayData): Double = {
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
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** cosine_similarity(array<double>, array<double>) → double */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineSimilarity(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels$$.MODULE$$.cosineSimilarity($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/** simhash64(array<string>) → bigint */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels$$.MODULE$$.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** minhash_signature(array<string>) → array<bigint> of length numHashes */
case class MinHashSignatureExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashSignature(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels$$.MODULE$$.minhashSignature($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** shingle_hashes(array<string>, n) → array<bigint> (distinct window hashes) */
case class ShingleHashesExpr(child: Expression, shingleSize: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[ArrayData], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels$$.MODULE$$.shingleHashes($c, $shingleSize)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** minhash_from_hashes(array<bigint>) → array<bigint> of length numHashes */
case class MinHashFromHashesExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashFromHashes(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels$$.MODULE$$.minhashFromHashes($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashFromHashesExpr =
    copy(child = newChild)
}

/** lsh_buckets(array<float>) → array<bigint> of length numTables */
case class LshBucketsExpr(child: Expression, numTables: Int, planesPerTable: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.lshBuckets(input.asInstanceOf[ArrayData], numTables, planesPerTable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels$$.MODULE$$.lshBuckets($c, $numTables, $planesPerTable)")
  override protected def withNewChildInternal(newChild: Expression): LshBucketsExpr =
    copy(child = newChild)
}

/** fold_accents(string) → string (NFD + combining-mark strip). The 8th
  * native expression: replaces the last Scala UDF in an oracle-checked path
  * (q70) so text normalization stays inside whole-stage codegen like every
  * other graft kernel.
  */
case class AccentFoldExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.foldAccents(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels$$.MODULE$$.foldAccents($c)")
  override protected def withNewChildInternal(newChild: Expression): AccentFoldExpr =
    copy(child = newChild)
}

/** bpe_token_count(string) → bigint (one-pass regex-free token count) */
case class BpeTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.bpeTokenCount(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels$$.MODULE$$.bpeTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)
}

/** ws_token_count(string) → bigint (split-on-space field count, no array) */
case class WsTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wsTokenCount(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels$$.MODULE$$.wsTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): WsTokenCountExpr =
    copy(child = newChild)
}

/** Constructor-argument extraction for the SQL registration paths: the
  * size/count parameters are expression-tree constants, so they must be
  * foldable literals — a column reference or wrong-typed literal gets a
  * clear error naming the function, not a ClassCastException from
  * evaluating an attribute against an empty row.
  */
private[functions] object ExprArgs {
  def intArg(exprs: Seq[Expression], i: Int, fn: String): Int = {
    val e = exprs(i)
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a literal integer, got non-literal ${e.sql}")
    e.eval(InternalRow.empty) match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a literal integer, got $other")
    }
  }
}

/** Session-extension entry point: makes every graft function available to
  * pure-SQL users with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — no Scala API
  * required. (Scala callers go through GraftFunctions, which registers
  * per-session on first use.)
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name), builder))
    }
  }
}

/** Session registration + Column-facing API (call_function is the public
  * route from a registered Catalyst expression to a Column in Spark 4).
  */
object GraftFunctions {
  /** Every graft SQL function, name → Catalyst builder: the one table both
    * [[GraftExtensions]] and [[register]] install.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash64", exprs => SimHash64Expr(exprs.head)),
    ("graft_minhash_signature", exprs => MinHashSignatureExpr(exprs.head,
      ExprArgs.intArg(exprs, 1, "graft_minhash_signature"))),
    ("graft_lsh_buckets", exprs => LshBucketsExpr(exprs.head,
      ExprArgs.intArg(exprs, 1, "graft_lsh_buckets"),
      ExprArgs.intArg(exprs, 2, "graft_lsh_buckets"))),
    ("graft_cosine_similarity", exprs => CosineSimilarityExpr(exprs.head, exprs(1))),
    ("graft_shingle_hashes", exprs => ShingleHashesExpr(exprs.head,
      ExprArgs.intArg(exprs, 1, "graft_shingle_hashes"))),
    ("graft_minhash_from_hashes", exprs => MinHashFromHashesExpr(exprs.head,
      ExprArgs.intArg(exprs, 1, "graft_minhash_from_hashes"))),
    ("graft_cms_estimate", exprs => CountMinEstimateExpr(exprs.head, exprs(1))),
    ("graft_fold_accents", exprs => AccentFoldExpr(exprs.head)),
    ("graft_bpe_token_count", exprs => BpeTokenCountExpr(exprs.head)),
    ("graft_ws_token_count", exprs => WsTokenCountExpr(exprs.head)))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  def bpeTokenCount(spark: SparkSession, s: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_bpe_token_count", s)
  }

  def wsTokenCount(spark: SparkSession, s: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_ws_token_count", s)
  }

  def foldAccents(spark: SparkSession, s: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_fold_accents", s)
  }

  def cmsEstimate(spark: SparkSession, sketch: Column, item: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_cms_estimate", sketch, item)
  }

  def cosineSimilarity(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_cosine_similarity", a, b)
  }

  def simhash64(spark: SparkSession, tokens: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_simhash64", tokens)
  }

  def minhashSignature(spark: SparkSession, shingles: Column, numHashes: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_minhash_signature",
      shingles, org.apache.spark.sql.functions.lit(numHashes))
  }

  def shingleHashes(spark: SparkSession, tokens: Column, n: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_shingle_hashes",
      tokens, org.apache.spark.sql.functions.lit(n))
  }

  def minhashFromHashes(spark: SparkSession, hashes: Column, numHashes: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_minhash_from_hashes",
      hashes, org.apache.spark.sql.functions.lit(numHashes))
  }

  def lshBuckets(spark: SparkSession, vec: Column, numTables: Int, planesPerTable: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_lsh_buckets",
      vec, org.apache.spark.sql.functions.lit(numTables),
      org.apache.spark.sql.functions.lit(planesPerTable))
  }
}
