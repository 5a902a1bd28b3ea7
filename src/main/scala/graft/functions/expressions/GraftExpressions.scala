package graft.functions.expressions

import graft.util.Hashing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's scalar hot paths — the
  * upgrade path the task prescribes over Scala UDFs: a codegen'd
  * `Expression` stays inside whole-stage codegen (no ScalaUDF
  * serialization/row-boxing boundary).
  *
  * `RollingFingerprintExpr` is the document fingerprint (whitespace-
  * normalized Rabin-Karp polynomial over FNV offset basis; the former UDF
  * form lives on only as the test-scope comparator graft.TestUdfs.
  * rollingFingerprint, sharing this static kernel). doGenCode emits a
  * direct static call, the same pattern Spark's own hash expressions use.
  */
case class RollingFingerprintExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fingerprint requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    RollingFingerprintExpr.fingerprint(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.RollingFingerprintExpr.fingerprint($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprintExpr =
    copy(child = newChild)
}

object RollingFingerprintExpr {
  /** Shared kernel (interpreted eval, codegen, and the legacy UDF all call
    * this): normalize whitespace+case, then h = h*257 + c over FNV offset.
    */
  def fingerprint(text: String): Long = {
    val s = if (text == null) "" else text.trim.toLowerCase.replaceAll("\\s+", " ")
    Hashing.poly257(s, 0, s.length)
  }
}

/** 64-bit SimHash (Charikar, STOC 2002) as a codegen'd native expression —
  * the per-document first stage of the simhash near-dup family runs inside
  * whole-stage codegen instead of crossing a ScalaUDF boundary per row.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64Expr.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.SimHash64Expr.simhash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Shared kernel: weighted sign-sum over murmur3-hashed space-split word
    * tokens (bit i set iff more token hashes carry bit i than not).
    */
  def simhash(text: String): Long = {
    val counts = new Array[Long](64)
    if (text != null) text.split(" ").iterator.filter(_.nonEmpty).foreach { t =>
      val h = Hashing.murmur3_64(t, 0x51a4L)
      var i = 0
      while (i < 64) { counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
    }
    var sh = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) sh |= (1L << i); i += 1 }
    sh
  }
}

/** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD 2003) as a
  * native array-returning codegen'd expression — the last ScalaUDF in the
  * q_fingerprint path, upgraded with the same pattern as the sibling
  * [[RollingFingerprintExpr]]. Children: (text STRING, k INT literal,
  * w INT literal). Semantics match the former UDF exactly, including
  * null text ⇒ EMPTY array (never SQL NULL) — the expression is
  * non-nullable, so downstream size() arithmetic needs no null branch.
  */
case class WinnowingFingerprintsExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == IntegerType &&
      third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires (STRING, INT, INT), got (${first.dataType.catalogString}, " +
        s"${second.dataType.catalogString}, ${third.dataType.catalogString})")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_fingerprints"

  override def eval(input: InternalRow): Any = {
    val t = first.eval(input)
    WinnowingFingerprintsExpr.winnow(
      if (t == null) null else t.asInstanceOf[UTF8String],
      second.eval(input).asInstanceOf[Int], third.eval(input).asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tGen = first.genCode(ctx)
    val kGen = second.genCode(ctx)
    val wGen = third.genCode(ctx)
    val resultCode =
      code"""
         |${tGen.code}
         |${kGen.code}
         |${wGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.expressions.WinnowingFingerprintsExpr.winnow(
         |    ${tGen.isNull} ? null : ${tGen.value}, ${kGen.value}, ${wGen.value});
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowingFingerprintsExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowingFingerprintsExpr {
  /** Shared kernel: k-gram base-257 rolling hashes over whitespace-
    * normalized lowercased text, minimum per sliding window of w, distinct
    * in first-occurrence order (== the former UDF's
    * `grams.sliding(w).map(_.min).distinct`; a text shorter than one full
    * window yields the single whole-window minimum, like Scala sliding()).
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = (if (text == null) "" else text.toString).trim.toLowerCase.replaceAll("\\s+", " ")
    if (s.length < k) return new GenericArrayData(Array.empty[Long])
    val n = s.length - k + 1
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) { grams(i) = Hashing.poly257(s, i, i + k); i += 1 }
    val win = math.max(1, w)
    val nWindows = math.max(1, n - win + 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < nWindows) {
      var m = grams(j)
      var t = j + 1
      val end = math.min(j + win, n)
      while (t < end) { if (grams(t) < m) m = grams(t); t += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }
}

/** Single-pass MinHash signature vector as a native codegen'd expression.
  * The Column form (`array((0 until k).map(i => array_min(transform(hashes,
  * h => xxhash64(h, lit(i))))))`) traverses the shingle array k times and
  * materializes k intermediate arrays per row — the dominant allocation on
  * the minhash query's corpus scan. This expression makes ONE pass with k
  * running minima and produces BIT-IDENTICAL values: Spark's
  * `xxhash64(h: LONG, i: INT)` folds as
  * `XXH64.hashInt(i, XXH64.hashLong(h, 42L))`, replicated in the kernel
  * (and pinned by an equality test against the builtin). Children:
  * (hashes ARRAY<BIGINT>, numHashes INT literal).
  */
case class MinHashSigsExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires (ARRAY<BIGINT>, INT), got (${left.dataType.catalogString}, " +
        s"${right.dataType.catalogString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"
  // null on an empty shingle array (no signature exists), independent of
  // child nullability
  override def nullable: Boolean = true

  override protected def nullSafeEval(arr: Any, k: Any): Any =
    MinHashSigsExpr.sigs(arr.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"""
         |${ev.value} = graft.functions.expressions.MinHashSigsExpr.sigs($a, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MinHashSigsExpr =
    copy(left = newLeft, right = newRight)
}

object MinHashSigsExpr {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** One pass over the hashes, k running minima. Null elements are skipped
    * (the Column form's xxhash64 ignores null inputs in the fold — the
    * shingle base never produces them); an empty array yields NULL — no
    * signature exists (the Column form yields per-slot nulls; a null
    * signature keeps empty-text docs out of every LSH band instead of
    * colliding them all into one Long.MaxValue bucket). Unreachable from
    * the shingle base (docs with fewer than k words are dropped, so every
    * array has ≥1 element) but enforced here, not by a comment.
    */
  def sigs(hashes: ArrayData, numHashes: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = XXH64.hashLong(hashes.getLong(i), 42L)
      var p = 0
      while (p < numHashes) {
        val m = XXH64.hashInt(p, base)
        if (m < out(p)) out(p) = m
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Greedy sequence packing as a native array-returning expression: walk a
  * doc-ordered token-count array once, emitting one (n_docs, n_tokens)
  * summary per training bin — a new bin starts whenever adding the next
  * doc would exceed the capacity (so a doc longer than the capacity gets a
  * bin of its own). The inherently sequential inner loop runs inside
  * whole-stage codegen over each group's collected array; the groups
  * themselves are the parallel unit (see TextAnalysis.packBins).
  * Children: (tokenCounts ARRAY<INT>, capacity INT literal).
  */
case class GreedyPackExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(IntegerType, _) if right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"greedy_pack requires (ARRAY<INT>, INT), got (${left.dataType.catalogString}, " +
        s"${right.dataType.catalogString})")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("n_docs", IntegerType, nullable = false),
      StructField("n_tokens", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "greedy_pack"

  override protected def nullSafeEval(arr: Any, cap: Any): Any =
    GreedyPackExpr.pack(arr.asInstanceOf[ArrayData], cap.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) =>
      s"${ev.value} = graft.functions.expressions.GreedyPackExpr.pack($a, $c);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GreedyPackExpr =
    copy(left = newLeft, right = newRight)
}

object GreedyPackExpr {
  /** Shared kernel: one pass, running (docs, tokens) totals; flush when the
    * next count would overflow a non-empty bin. Null elements count 0
    * tokens (unreachable from packBins, which coalesces). An empty input
    * packs to zero bins, not one empty bin.
    */
  def pack(tokens: ArrayData, capacity: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val outDocs = new scala.collection.mutable.ArrayBuffer[Int]
    val outToks = new scala.collection.mutable.ArrayBuffer[Long]
    var docs = 0
    var tot = 0L
    var i = 0
    while (i < n) {
      val t = if (tokens.isNullAt(i)) 0L else tokens.getInt(i).toLong
      if (docs > 0 && tot + t > capacity) {
        outDocs += docs; outToks += tot
        docs = 0; tot = 0L
      }
      docs += 1; tot += t
      i += 1
    }
    outDocs += docs; outToks += tot
    val rows = new Array[Any](outDocs.length)
    var j = 0
    while (j < rows.length) {
      rows(j) = new GenericInternalRow(Array[Any](outDocs(j), outToks(j)))
      j += 1
    }
    new GenericArrayData(rows)
  }
}

/** PDF-confirm probe gate (P5/S7) as a native expression: the per-kept-row
  * content-type check runs codegen'd in the generation DAG (was a ScalaUDF).
  * Children: (url STRING, seed LONG literal). Kernel = SyntheticWeb's
  * deterministic content-type oracle — one shared implementation.
  */
case class ConfirmsPdfExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"confirms_pdf requires (STRING, BIGINT), got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "confirms_pdf"

  override protected def nullSafeEval(url: Any, seed: Any): Any =
    graft.synth.SyntheticWeb.confirmsPdf(seed.asInstanceOf[Long], url.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, s) =>
      s"graft.synth.SyntheticWeb.confirmsPdf($s, $u.toString())")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ConfirmsPdfExpr =
    copy(left = newLeft, right = newRight)
}

/** Frontier priority score (O5) as a native expression: per-discovery
  * scoring stays inside whole-stage codegen. Children: (url STRING, seed
  * LONG literal); kernel = SyntheticWeb.linkScore.
  */
case class LinkScoreExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"link_score requires (STRING, BIGINT), got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "link_score"

  override protected def nullSafeEval(url: Any, seed: Any): Any =
    graft.synth.SyntheticWeb.linkScore(seed.asInstanceOf[Long], url.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, s) =>
      s"graft.synth.SyntheticWeb.linkScore($s, $u.toString())")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LinkScoreExpr =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft native functions into a session's function
  * registry — callable from SQL and via expr("..."); usable with
  * SparkSessionExtensions.injectFunction for spark-submit deployments.
  */
object GraftFunctions {
  private def litInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  private def litLong(e: Expression): Long =
    e.eval(null).asInstanceOf[Number].longValue()

  private def litStr(e: Expression): String =
    e.eval(null).asInstanceOf[UTF8String].toString

  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    r.createOrReplaceTempFunction(
      "rolling_fingerprint", exprs => RollingFingerprintExpr(exprs.head), "built-in")
    r.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64Expr(exprs.head), "built-in")
    r.createOrReplaceTempFunction(
      "winnow_fingerprints",
      exprs => WinnowingFingerprintsExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    r.createOrReplaceTempFunction(
      "minhash_sigs", exprs => MinHashSigsExpr(exprs(0), exprs(1)), "built-in")
    r.createOrReplaceTempFunction(
      "greedy_pack", exprs => GreedyPackExpr(exprs(0), exprs(1)), "built-in")
    r.createOrReplaceTempFunction(
      "confirms_pdf", exprs => ConfirmsPdfExpr(exprs(0), exprs(1)), "built-in")
    r.createOrReplaceTempFunction(
      "link_score", exprs => LinkScoreExpr(exprs(0), exprs(1)), "built-in")
    // vector/ANN kernels (graft.ml.Similarity / TextDedup.embeddingNearDups)
    r.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimExpr(exprs(0), exprs(1)), "built-in")
    r.createOrReplaceTempFunction(
      "float_dot", exprs => FloatDotExpr(exprs(0), exprs(1)), "built-in")
    r.createOrReplaceTempFunction(
      "float_norm", exprs => FloatNormExpr(exprs.head), "built-in")
    r.createOrReplaceTempFunction(
      "nearest_cell", exprs => NearestCellExpr(exprs(0), litStr(exprs(1))), "built-in")
    r.createOrReplaceTempFunction(
      "ranked_cells",
      exprs => RankedCellsExpr(exprs(0), litStr(exprs(1)), litInt(exprs(2))), "built-in")
    r.createOrReplaceTempFunction(
      "hyperplane_bucket",
      exprs => HyperplaneBucketExpr(exprs(0), litInt(exprs(1)), litInt(exprs(2)), litLong(exprs(3))), "built-in")
    r.createOrReplaceTempFunction(
      "rh_bucket_long",
      exprs => HyperplaneBucketLongExpr(exprs(0), litInt(exprs(1)), litInt(exprs(2)), litLong(exprs(3))), "built-in")
    // blocked bloom build + probe (the analyzer wraps the AggregateFunction)
    r.createOrReplaceTempFunction(
      "bloom_agg", exprs => BloomBuildAgg(exprs(0), litInt(exprs(1)), litInt(exprs(2))), "built-in")
    r.createOrReplaceTempFunction(
      "bloom_might_contain", exprs => BloomMightContainExpr(exprs(0), exprs(1)), "built-in")
  }
}

/** spark-submit deployment hook:
  * `--conf spark.sql.extensions=graft.functions.expressions.GraftExtensions`
  * injects the native functions into every session of the application
  * (the SparkSessionExtensions path for cluster runs; local code calls
  * [[GraftFunctions.register]] directly).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_fingerprint"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingFingerprintExpr].getName, "rolling_fingerprint"),
      (exprs: Seq[Expression]) => RollingFingerprintExpr(exprs.head)))
  }
}
