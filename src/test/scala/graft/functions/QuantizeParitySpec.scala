package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Bit-parity of the native [[QuantizeInt8]] against the interpreted
  * `aggregate(greatest(abs)) + transform(round/least/greatest)` HOF chain
  * it replaced in Similarity.quantizeInt8 — the DuckDB oracle replays the
  * quantization arithmetic (s_quantize), so not one bit may move. Covers
  * the quirks the comparison semantics of Greatest/Least imply: null
  * elements → 127 under non-zero scale, 0 under scale 0. A NaN or ±Inf
  * element, wherever it sits in the vector, makes the quantization ratio
  * non-finite, and both paths raise rather than return a vector. */
class QuantizeParitySpec extends SparkTestBase {

  private def hofQuantize(vec: org.apache.spark.sql.Column) = {
    val maxabs = aggregate(vec, lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))
    val scale = maxabs / lit(127.0)
    struct(
      scale.as("scale"),
      when(scale === 0.0, transform(vec, _ => lit(0)))
        .otherwise(transform(vec, x =>
          greatest(lit(-127), least(lit(127),
            round(x.cast("double") / scale).cast("int"))))).as("qvec"))
  }

  test("quantize_int8 == aggregate/transform HOF chain, bitwise") {
    import spark.implicits._
    val r = new scala.util.Random(31)
    val randoms = (1 to 200).map { i =>
      (i.toLong, Option(Seq.fill(1 + r.nextInt(80))(
        (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(7) - 3))
        .map(v => Option(v))))
    }
    val edges: Seq[(Long, Option[Seq[Option[Double]]])] = Seq(
      (1001L, Some(Seq.empty)),                             // empty vector
      (1002L, Some(Seq(Some(0.0), Some(-0.0)))),            // all-zero, scale 0
      (1003L, None),                                        // null vector
      (1004L, Some(Seq(Some(1.0), None, Some(-2.0)))),      // null element
      (1005L, Some(Seq(Some(0.0), None))),                  // null element, scale 0
      (1009L, Some(Seq(Some(1.0), Some(0.5), Some(-0.5), Some(2.5)))), // .5 ties
      (1010L, Some(Seq(Some(1e-300), Some(-1e-300)))),      // denormal-ish
      (1011L, Some(Seq(Some(127.0), Some(-127.0), Some(1.0)))),
      (1012L, Some(Seq(Some(0.003937007874015748)))))       // 0.5/127 boundary
    val df = (randoms ++ edges).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    val both = df.select(col("id"),
      hofQuantize(col("vec")).as("hof"),
      GraftFunctions.quantize_int8(col("vec")).as("nat"))
    // compare FIELD-wise: the hof reference wraps two columns in struct(),
    // which is non-null even for a null vector (null fields), while the
    // null-intolerant native expression returns a null STRUCT — identical
    // once projected to columns, which is how the op consumes it.
    // <=> (EqualNullSafe) treats NaN = NaN, as the scale compare needs.
    val diff = both.filter(!(col("hof.scale") <=> col("nat.scale") &&
      col("hof.qvec") <=> col("nat.qvec"))).collect()
    assert(diff.isEmpty, s"native/HOF quantize mismatch: ${diff.take(5).toSeq}")
    // the null-vector row must yield null struct fields on both paths
    val nulls = both.filter(col("id") === 1003L)
      .select(col("nat.scale").isNull, col("nat.qvec").isNull).head()
    assert(nulls.getBoolean(0) && nulls.getBoolean(1))
  }

  test("non-finite elements raise on BOTH paths (ANSI cast semantics)") {
    import spark.implicits._
    // NaN ahead of a smaller element must keep the scale NaN: a max loop
    // that lets a later finite element replace it yields scale 0 and a
    // silently zeroed vector
    for (vec <- Seq(Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 1.0),
        Seq(Double.NegativeInfinity, 1.0), Seq(Double.NaN, 0.0),
        Seq(3.0, Double.NaN, 0.0))) {
      val df = Seq((1L, vec)).toDF("id", "vec")
      // the HOF reference's double→int cast raises CAST_OVERFLOW under
      // ANSI (the Spark 4 default); the native expression must refuse the
      // same inputs rather than silently saturate
      intercept[Exception] {
        df.select(hofQuantize(col("vec"))).collect()
      }
      intercept[Exception] {
        df.select(GraftFunctions.quantize_int8(col("vec"))).collect()
      }
    }
  }

  test("op-level quantizeInt8 agrees with the HOF reference end-to-end") {
    import spark.implicits._
    val vecs = (1 to 50).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(16)((r.nextDouble() - 0.5) * 3))
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "scale", "qvec").collect().toSeq
        .sortBy(_.getLong(0)).map(_.toString)
    val reference = vecs.withColumn("__q", hofQuantize(col("embedding")))
      .select(col("vec_id"), col("__q.scale").as("scale"),
        col("__q.qvec").as("qvec"))
    assert(rows(graft.ops.Similarity.quantizeInt8(vecs)) == rows(reference))
  }
}
