package graft.functions

import graft.SparkTestSession
import graft.functions.expressions.{GraftFunctions, RollingFingerprintExpr}
import graft.ml.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rolling_fingerprint expression: SQL-callable, equals the UDF, codegen'd") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "The  Quick Fox"), (2L, "other doc"), (3L, ""))
      .toDF("id", "text")
    val both = df.select($"id",
      expr("rolling_fingerprint(text)").as("native"),
      graft.TestUdfs.rollingFingerprint($"text").as("viaUdf"))
    both.collect().foreach(r => assert(r.getLong(1) == r.getLong(2)))

    // normalization semantics
    assert(RollingFingerprintExpr.fingerprint("  a  B ") ==
      RollingFingerprintExpr.fingerprint("a b"))
    assert(RollingFingerprintExpr.fingerprint("a") !=
      RollingFingerprintExpr.fingerprint("b"))

    // the native form must not appear as a ScalaUDF / BatchEval node
    val native = df.select(expr("rolling_fingerprint(text)"))
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"expression fell back to UDF:\n$plan")

    // SQL surface
    df.createOrReplaceTempView("fp_docs")
    val viaSql = spark.sql("SELECT rolling_fingerprint(text) AS f FROM fp_docs ORDER BY id")
      .as[Long].collect()
    assert(viaSql.length == 3)

    // null flows through as null (UnaryExpression default null handling)
    val withNull = Seq[(Long, String)]((1L, null)).toDF("id", "text")
      .select(expr("rolling_fingerprint(text)")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("vector kernels are bit-identical to the Column forms they replaced; null-vector semantics preserved") {
    GraftFunctions.register(spark)
    import graft.util.Hashing
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(j => (Hashing.det(5L, i, j) % 1000L).toFloat / 997f))
    }
    val df = vecs.toDF("id", "v")
    // cosine_sim == the three-fold double-cast aggregate/zip_with form
    val legacyCos = {
      val a = col("va"); val b = col("vb")
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, t) => acc + t)
      val na = sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))
      val nb = sqrt(aggregate(b, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))
      dot / (na * nb)
    }
    val pairs = df.as("x").join(df.as("y"), col("x.id") < col("y.id"))
      .select(col("x.v").as("va"), col("y.v").as("vb"))
    pairs.select(call_function("cosine_sim", col("va"), col("vb")).as("n"), legacyCos.as("l"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), "cosine drift"))
    // float_dot / float_norm == the FLOAT-width multiply forms
    val legacyDotF = aggregate(zip_with(col("va"), col("vb"), (p, q) => p * q),
      lit(0.0d), (acc, t) => acc + t)
    pairs.select(call_function("float_dot", col("va"), col("vb")).as("n"), legacyDotF.as("l"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), "float_dot drift"))
    val legacyNormF = sqrt(aggregate(col("v"), lit(0.0d), (acc, x) => acc + x * x))
    df.select(call_function("float_norm", col("v")).as("n"), legacyNormF.as("l"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), "float_norm drift"))
    // hyperplane_bucket == the planes×dim literal-tree form (draw bit 13, double ±1)
    val legacyHb = (0 until 8).map { p =>
      val plane = array((0 until 64).map(i =>
        lit(if (((Hashing.det(0xa117L, p, i) >> 13) & 1L) == 1L) 1.0d else -1.0d)): _*)
      val dot = aggregate(zip_with(col("v"), plane, (a, b) => a.cast("double") * b),
        lit(0.0d), (acc, x) => acc + x)
      when(dot >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    df.select(call_function("hyperplane_bucket", col("v"), lit(64), lit(8), lit(0xa117L)).as("n"),
      legacyHb.as("l"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1), "hyperplane_bucket drift"))
    // rh_bucket_long == the FLOAT-plane LONG form (draw bit 17)
    val legacyRb = (0 until 8).map { p =>
      val plane = array((0 until 64).map(i =>
        lit(if (((Hashing.det(0x97a3e5L, p, i) >> 17) & 1L) == 1L) 1.0f else -1.0f)): _*)
      val dot = aggregate(zip_with(col("v"), plane, (a, b) => a * b), lit(0.0d), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(call_function("rh_bucket_long", col("v"), lit(64), lit(8), lit(0x97a3e5L)).as("n"),
      legacyRb.as("l"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), "rh_bucket_long drift"))
    // nearest_cell / ranked_cells == the array_sort(struct(dist, cell)) form
    def assertCellsMatch(cb: Array[Array[Float]], in: org.apache.spark.sql.DataFrame): Unit = {
      val b64 = graft.functions.expressions.VectorKernels.encodeMatrix(cb)
      val legacyRanked = array_sort(array(cb.toIndexedSeq.zipWithIndex.map { case (cen, i) =>
        struct(aggregate(zip_with(col("v"),
          array(cen.toIndexedSeq.map(x => lit(x.toDouble)): _*),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0d), (acc, x) => acc + x).as("dist"), lit(i).as("cell"))
      }: _*))
      in.select(
        call_function("nearest_cell", col("v"), lit(b64)).as("nc"),
        call_function("ranked_cells", col("v"), lit(b64), lit(4)).as("ncells"),
        legacyRanked.getItem(0).getField("cell").as("lc"),
        transform(legacyRanked, s => s.getField("cell")).as("lcells"))
        .collect().foreach { r =>
          assert(r.getInt(0) == r.getInt(2), "nearest_cell drift")
          assert(r.getSeq[Int](1) == r.getSeq[Int](3), "ranked_cells drift")
        }
    }
    val cb = vecs.take(4).map(_._2).toArray
    assertCellsMatch(cb, df)
    // NaN: Spark's ordering sorts a NaN distance after every number and
    // treats NaN == NaN (the cell index breaks the tie). A NaN element in
    // centroid 0 makes its distance NaN for every finite query, so it must
    // rank LAST; a NaN query element makes every distance NaN, so the
    // ranking is the cell order.
    val cbNaN = cb.updated(0, cb(0).updated(5, Float.NaN))
    val nanQuery = (99L, vecs(7)._2.updated(3, Float.NaN))
    assertCellsMatch(cbNaN, (vecs :+ nanQuery).toDF("id", "v"))
    // NULL vector: bucket forms yield 0 (the Column form's otherwise(0)
    // fallthrough), never NULL and never an NPE
    val withNull = Seq((1L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
    assert(withNull.select(
      call_function("hyperplane_bucket", col("v"), lit(64), lit(8), lit(0xa117L))).head().getInt(0) == 0)
    assert(withNull.select(
      call_function("rh_bucket_long", col("v"), lit(64), lit(8), lit(0x97a3e5L))).head().getLong(0) == 0L)
  }

  test("tier probe expressions COMPILE under codegen and agree with interpreted eval") {
    // GeneratePredicate.generate throws on a codegen compile error — this
    // pins the probes to whole-stage codegen instead of the silent
    // fall-back-to-interpreter path (which would still pass value checks)
    import graft.functions.expressions.BloomMightContainExpr
    import graft.operators.BlockedBloom
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    val bloom = BlockedBloom.sized(1000, 12)
    (0 until 100).foreach(i => bloom.add(s"u$i"))
    val bExpr = BloomMightContainExpr(
      BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val bPred = GeneratePredicate.generate(bExpr) // throws if codegen breaks
    (0 until 100).foreach { i =>
      val row = InternalRow(bloom.toBytes, UTF8String.fromString(s"u$i"))
      assert(bPred.eval(row) && bExpr.eval(row) == true)
    }
    assert(!bPred.eval(InternalRow(null, UTF8String.fromString("u1"))),
      "null blob must probe as definitely-new")
  }
}
