package graft.functions

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}
import graft.ops.Ann

/** `fp_dot(v, w)` is the value of the interpreted fold it replaces in
  * emb_random_projection, `aggregate(zip_with(v, w, x·y fixed-pointed),
  * 0L, +)`: the same BIGINT on real and dirty embeddings, NULL where the
  * fold pads with NULL, the same saturation, and an ANSI overflow
  * exactly where the fold's `Add` raises one. */
class FpDotSpec extends AnyFunSuite {

  private def weights(w: Seq[Double]): Column = array(w.map(lit): _*)

  private def fp(v: Column, w: Seq[Double]): Column =
    call_function("fp_dot", v, weights(w))

  private def hof(v: Column, w: Seq[Double]): Column =
    aggregate(zip_with(v, weights(w), (x, y) => floor(x * y * 1000000 + 0.5).cast("long")),
      lit(0L), (acc, t) => acc + t)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ansi[T](on: Boolean)(body: => T): T =
    withConf("spark.sql.ansi.enabled" -> on.toString)(body)

  private def interpreted[T](body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Rows of `(vec_id, v)` whose fp_dot and fold results differ. */
  private def mismatches(df: DataFrame, w: Seq[Double]): Long =
    df.select(col("vec_id"), fp(col("v"), w).as("a"), hof(col("v"), w).as("b"))
      .filter(!(col("a") <=> col("b"))).count()

  /** Every projection of [[Ann.rpSigns]]: on the query's input under
    * the session's ANSI default, and on every row (NULL, NaN, ±Inf and
    * 1e20 elements included) with ANSI off, where the fold wraps. */
  private def identicalOn(emb: DataFrame): Unit = {
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    try {
      val valid = all.filter(Ann.validVec(col("v")))
      assert(valid.count() > 0)
      for (k <- 0 until Ann.RpOutDims) {
        assert(mismatches(valid, Ann.rpSigns(k)) === 0, s"projection $k on valid vectors")
        ansi(on = false) {
          assert(mismatches(all, Ann.rpSigns(k)) === 0, s"projection $k on all rows")
        }
      }
    } finally all.unpersist()
  }

  test("bit-identical to the fold on the sf0.001 embeddings") {
    identicalOn(graft.Tables.table(spark, sf0001, "embeddings"))
  }

  test("bit-identical to the fold on the sf0.001 dirty-replica embeddings") {
    identicalOn(graft.tools.DirtyData.embeddings(graft.Tables.table(spark, sf0001, "embeddings")))
  }

  private val W = Seq(1.0, 1.0, -1.0)
  private val Max = Long.MaxValue
  private def term(x: Double, y: Double): Long = math.floor(x * y * 1000000 + 0.5).toLong

  private def vec(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  /** (name, v) — each evaluated on its own, since an overflow fails the
    * whole query. */
  private val crafted: Seq[(String, Seq[java.lang.Double])] = Seq(
    "plain" -> vec(0.25, -1.5, 3.0000005),
    "shorter" -> vec(1.0, 2.0),
    "longer" -> vec(1.0, 2.0, 3.0, 4.0),
    "empty" -> vec(),
    "null element" -> vec(1.0, null, 3.0),
    "NaN element" -> vec(Double.NaN, 1.0, 2.0),
    "saturating" -> vec(1e19, -1e19, 2.5),
    "overflow" -> vec(1e19, 1e19, 0.0),
    "overflow, then NULL" -> vec(1e19, 1e19, null),
    "NULL, then overflow" -> vec(null, 1e19, 1e19),
    "overflow, then short" -> vec(1e19, 1e19),
    "overflow, then long" -> vec(1e19, 1e19, 0.0, 1.0))

  private def frame(v: Seq[java.lang.Double]): DataFrame = {
    // an RDD-backed frame: a local relation would be folded by the
    // optimizer and never reach generated code
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(v)), 1), schema)
  }

  private def overflowed(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])

  /** One crafted row's result (None = NULL) or its overflow. */
  private def eval(v: Seq[java.lang.Double], c: Column): Try[Option[Long]] =
    Try(frame(v).select(c).head()).map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

  private def agree(a: Try[Option[Long]], b: Try[Option[Long]]): Boolean = (a, b) match {
    case (Success(x), Success(y)) => x == y
    case (Failure(x), Failure(y)) => overflowed(x) && overflowed(y)
    case _ => false
  }

  /** Every crafted row agrees with the fold, and the pinned values hold. */
  private def craftedAgree(mode: Boolean, codegen: Boolean): Unit = {
    val results = ansi(mode) {
      def run = crafted.map { case (name, v) =>
        name -> (eval(v, fp(col("v"), W)), eval(v, hof(col("v"), W)))
      }.toMap
      if (codegen) run else interpreted(run)
    }
    results.foreach { case (name, (a, b)) =>
      assert(agree(a, b), s"$name: fp_dot $a, fold $b")
    }
    def value(name: String) = results(name)._1
    assert(value("plain") === Success(Some(term(0.25, 1) + term(-1.5, 1) + term(3.0000005, -1))))
    for (n <- Seq("shorter", "longer", "empty", "null element", "NULL, then overflow"))
      assert(value(n) === Success(None), n)
    assert(value("NaN element") === Success(Some(0L + term(1.0, 1) + term(2.0, -1))))
    assert(value("saturating") === Success(Some(Max + Long.MinValue + term(2.5, -1))))
    for (n <- Seq("overflow", "overflow, then NULL", "overflow, then short", "overflow, then long"))
      assert(value(n).isFailure === mode, n)
    if (!mode) assert(value("overflow") === Success(Some(Max + Max)))
  }

  test("crafted rows agree with the fold (ANSI on, codegen)") {
    craftedAgree(mode = true, codegen = true)
  }

  test("crafted rows agree with the fold (ANSI on, interpreted)") {
    craftedAgree(mode = true, codegen = false)
  }

  test("crafted rows agree with the fold (ANSI off, codegen)") {
    craftedAgree(mode = false, codegen = true)
  }

  test("crafted rows agree with the fold (ANSI off, interpreted)") {
    craftedAgree(mode = false, codegen = false)
  }
}
