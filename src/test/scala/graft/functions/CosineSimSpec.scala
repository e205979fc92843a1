package graft.functions

import graft.TestSpark
import graft.ops.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The native codegen'd CosineSim must be an exact drop-in for the
  * composable zip_with+aggregate formulation — same double accumulation
  * order, so EXACT bit equality, not approximate.
  */
class CosineSimSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Composable-primitives twin of [[Similarity.cosine]] (zip_with +
    * aggregate — three passes, one intermediate array per pair): the
    * independent oracle for the exact-equality checks.
    */
  private def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(
        zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0),
        (acc, v) => acc + v
      )
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  private def randomPairs(n: Int, dim: Int) = {
    import spark.implicits._
    val rnd = new Random(7)
    (0 until n).map { i =>
      (i.toLong,
        Seq.fill(dim)(rnd.nextGaussian().toFloat),
        Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
  }

  test("bit-identical to the zip_with+aggregate formulation on random float vectors") {
    val df = randomPairs(500, 24)
      .select(
        Similarity.cosine(col("a"), col("b")).as("native"),
        cosineHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("identical vectors give 1.0; orthogonal give 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    ).toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val Array(same, orth) = df.collect().map(_.getDouble(0))
    assert(math.abs(same - 1.0) < 1e-12)
    assert(orth == 0.0)
  }

  test("null semantics: null array, length mismatch, null element -> null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq[Option[Float]](Some(1f), Some(2f))), Option.empty[Seq[Option[Float]]]),
      (Some(Seq[Option[Float]](Some(1f), Some(2f))), Some(Seq[Option[Float]](Some(1f)))),
      (Some(Seq[Option[Float]](Some(1f), None)), Some(Seq[Option[Float]](Some(1f), Some(2f))))
    ).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("native"),
        cosineHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1), "null input array")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1), "length mismatch")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1), "null element")
  }

  test("zero-norm vector: native gives null (never NaN); HOF under ANSI throws") {
    // The ONE intended divergence from the HOF twin: Spark 4's default
    // ANSI mode turns the HOF's Divide-by-0.0 into DIVIDE_BY_ZERO,
    // while the native expression returns null — NOT NaN, because Spark
    // orders NaN above every double, so a NaN cosine would rank first
    // in every descending top-k and pass every >= threshold filter,
    // silently making a zero embedding everyone's nearest neighbor.
    import spark.implicits._
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    val rows = df.select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(rows.head.isNullAt(0), s"expected null, got ${rows.head}")
    // interpreted path agrees
    val e = CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0f, 0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1f, 2f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null) == null)
    assertThrows[ArithmeticException] { // SparkArithmeticException (DIVIDE_BY_ZERO)
      df.select(cosineHof(col("a"), col("b"))).collect()
    }
  }

  test("zero-norm vector never pollutes a top-k ranking or threshold filter") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 1)
      .collect()
    assert(top.length == 1 && top.head.getLong(1) == 1L,
      s"zero vector must not rank first: ${top.mkString}")
    val dups = graft.ops.Dedup.embeddingNearDup(emb, 0.5).collect()
    assert(dups.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L),
      "zero vector must not pass the near-dup threshold")
  }

  test("interpreted eval path (filter pre-codegen / constant folding) matches") {
    import spark.implicits._
    // force the interpreted path by eval'ing on literals through the
    // expression directly
    val e = CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1f, 2f, 3f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4f, 5f, 6f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val Array(codegen) = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(java.lang.Double.doubleToLongBits(interpreted) ==
      java.lang.Double.doubleToLongBits(codegen))
  }

  test("SQL surface: cosine_sim registered via GraftExtensions.register works in spark.sql") {
    GraftExtensions.register(spark)
    val Array(v) = spark
      .sql("SELECT cosine_sim(array(1.0F, 2.0F), array(2.0F, 4.0F)) AS c")
      .collect().map(_.getDouble(0))
    assert(math.abs(v - 1.0) < 1e-12)
    // the extensions hook itself must apply cleanly (what
    // spark.sql.extensions invokes on a fresh session build)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("double-array inputs are supported natively (no cast to float)") {
    import spark.implicits._
    val Array(v) = Seq((Seq(1.0, 2.0), Seq(2.0, 4.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(math.abs(v - 1.0) < 1e-12)
  }
}
