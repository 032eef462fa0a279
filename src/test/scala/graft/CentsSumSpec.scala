package graft

import java.math.BigInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CentsSum, CentsToDecimal}
import graft.functions.MoneyFunctions.{cents, cents_sum}

/** `cents_sum(x)` against `sum(cast(x as decimal(18,2)))` and `cents(x)`
  * against `(cast(x as decimal(18,2)) * 100).cast(long)`: schema, value,
  * NULLs and ANSI errors, over adversarial doubles spread across
  * partitions, in every combination of ANSI, whole-stage codegen and the
  * expression codegen factory mode.
  */
class CentsSumSpec extends AnyFunSuite {

  private val two44 = math.pow(2, 44)

  /** Doubles Spark's cast keeps inside decimal(18,2). */
  private val adversarial: Seq[java.lang.Double] = Seq(
    1.005, -1.005, 0.125, -0.125, 0.005, -0.005, 0.015, 2.675, 4.35, 0.1 + 0.2,
    -0.0, 0.0, java.lang.Double.MIN_VALUE, 1e-300, 0.994999999999, 0.995,
    two44, -two44, two44 - 0.01, two44 + 0.01, -(two44 - 0.01), -(two44 + 0.01),
    math.nextDown(two44), math.nextUp(two44), 123456789012.345, 9.99999999999999e15,
    -9.99999999999999e15, 1e15 + 0.25, 5e15 + 0.5, null).map(_.asInstanceOf[java.lang.Double])

  /** Doubles the cast turns into NULL, or an error under ANSI. */
  private val outOfRange: Seq[Double] = Seq(
    1e16, -1e16, 1e17, Double.MaxValue, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity)

  private def randomValues(n: Int, seed: Long): Seq[java.lang.Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      val v: java.lang.Double = r.nextInt(6) match {
        case 0 => (r.nextLong() % 10000000000L) / 100.0        // cents
        case 1 => r.nextInt(100000000) / 1000.0                  // half cents
        case 2 => r.nextDouble() * math.pow(10, r.nextInt(16))   // any digits
        case 3 => math.rint(r.nextDouble() * 1e6) / 100 + 0.005  // ties
        case 4 => two44 + (r.nextInt(200000) - 100000) / 100.0    // near 2^44
        case _ => if (r.nextInt(10) == 0) null else -r.nextInt(1000000) / 100.0
      }
      v
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = true)))

  /** `values` as (id, k, x) over 8 partitions; every 17th row in group 97
    * and every 19th in the all-NULL group 98. */
  private def frame(s: SparkSession, values: Seq[java.lang.Double]): DataFrame = {
    val rows = values.zipWithIndex.map { case (v, i) =>
      if (i % 19 == 0) Row(i.toLong, 98, null)
      else Row(i.toLong, if (i % 17 == 0) 97 else i % 23, v)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 8), schema)
  }

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  /** Each pair (ours, Spark's reference) of the same values. */
  private def pairs(df: DataFrame): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("grouped", df.groupBy("k").agg(cents_sum(col("x")).as("s")).orderBy("k"),
      df.groupBy("k").agg(sum(dec("x")).as("s")).orderBy("k")),
    ("global", df.agg(cents_sum(col("x")).as("s")), df.agg(sum(dec("x")).as("s"))),
    ("empty", df.filter(col("id") < 0).agg(cents_sum(col("x")).as("s")),
      df.filter(col("id") < 0).agg(sum(dec("x")).as("s"))),
    ("cents", df.select(col("id"), cents(col("x")).as("c")).orderBy("id"),
      df.select(col("id"), (dec("x") * 100).cast("long").as("c")).orderBy("id")))

  private def assertSame(what: String, ours: DataFrame, ref: DataFrame): Unit = {
    assert(ours.schema === ref.schema, what)
    val (a, b) = (ours.collect().toSeq, ref.collect().toSeq)
    assert(a.length === b.length, what)
    a.zip(b).foreach { case (x, y) => assert(x === y, what) }
  }

  /** The deepest error condition in `t`'s cause chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collect { case s: SparkThrowable if s.getCondition != null => s.getCondition }
      .toSeq.lastOption.getOrElse(t.toString)

  private def withModes(body: (SparkSession, String) => Unit): Unit =
    for (ansi <- Seq(false, true); wholeStage <- Seq(true, false);
         factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val s = TestSpark.spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      s.conf.set("spark.sql.codegen.factoryMode", factory)
      body(s, s"ansi=$ansi wholeStage=$wholeStage factory=$factory")
    }

  test("cents_sum and cents equal the decimal(18,2) idiom in every codegen and ANSI mode") {
    withModes { (s, mode) =>
      val values = adversarial ++ randomValues(20000, 7)
      val withBad = if (s.conf.get("spark.sql.ansi.enabled") == "true") values
        else values ++ outOfRange.map(v => v: java.lang.Double)
      val df = frame(s, withBad)
      // the NaN/overflow group is NULL too, where it holds only such values
      val nanOnly = frame(s, Seq.fill(40)(Double.NaN: java.lang.Double))
      for ((what, ours, ref) <- pairs(df) ++
             (if (s.conf.get("spark.sql.ansi.enabled") == "true") Nil else pairs(nanOnly)))
        assertSame(s"$what, $mode", ours, ref)
    }
  }

  test("under ANSI, cents_sum and cents fail as the cast does on out-of-range input") {
    def outcome(df: DataFrame): Either[String, Seq[Row]] =
      try Right(df.collect().toSeq) catch { case e: Exception => Left(condition(e)) }
    withModes { (s, mode) =>
      if (s.conf.get("spark.sql.ansi.enabled") == "true") {
        for (bad <- outOfRange) {
          val df = frame(s, Seq[java.lang.Double](1.5, bad, 2.25, null, 3.0, 4.0))
          for ((what, ours, ref) <- pairs(df)) {
            val want = outcome(ref)
            assert(outcome(ours) === want, s"$what of $bad, $mode")
            // every finite value past decimal(18,2) is an error
            if (what != "empty" && !bad.isNaN && !bad.isInfinite) assert(want.isLeft)
          }
        }
      }
    }
  }

  test("cents_sum evaluation: NULL past decimal(28,2) without ANSI, Spark's overflow error with it") {
    val mask = (1L << 61) - 1
    def split(v: BigInteger): (Long, Long) =
      (v.shiftRight(61).longValueExact(), v.and(BigInteger.valueOf(mask)).longValueExact())
    val max = BigInteger.TEN.pow(28).subtract(BigInteger.ONE) // decimal(28,2) unscaled bound
    val inRange = Seq(max, max.negate(), BigInteger.valueOf(Long.MaxValue),
      BigInteger.valueOf(Long.MinValue), BigInteger.ONE.shiftLeft(63), BigInteger.ZERO)
    val overflow = Seq(max.add(BigInteger.ONE), max.add(BigInteger.ONE).negate())
      .map(split) ++ Seq((Long.MaxValue, mask), (Long.MinValue, 0L))

    def both(hi: Long, lo: Long, nullOnOverflow: Boolean): Seq[Any] = {
      val e = CentsToDecimal(Literal(hi), Literal(lo), nullOnOverflow)
      val projected = GenerateUnsafeProjection.generate(Seq(e)).apply(null)
      Seq(e.eval(), if (projected.isNullAt(0)) null else projected.getDecimal(0, 28, 2))
    }
    for (v <- inRange; ansi <- Seq(false, true)) {
      val (hi, lo) = split(v)
      val want = Decimal(new java.math.BigDecimal(v, 2))
      assert(both(hi, lo, nullOnOverflow = !ansi) === Seq(want, want), s"$v")
    }
    for ((hi, lo) <- overflow) {
      assert(both(hi, lo, nullOnOverflow = true) === Seq(null, null), s"($hi, $lo)")
      val e = CentsToDecimal(Literal(hi), Literal(lo), nullOnOverflow = false)
      assert(condition(intercept[ArithmeticException](e.eval())) === "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
      assert(condition(intercept[ArithmeticException](
        GenerateUnsafeProjection.generate(Seq(e)).apply(null))) ===
        "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
    }
  }

  test("a grouped cents_sum plans as a whole-stage codegen'd HashAggregate") {
    val s = TestSpark.spark
    val df = frame(s, randomValues(2000, 11)).groupBy("k").agg(cents_sum(col("x")).as("s"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val aggs = TestSpark.aggregateNodes(plan)
    assert(aggs.nonEmpty && aggs.forall(_.isInstanceOf[HashAggregateExec]), plan.toString)
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    val codegened = TestSpark.planNodes(plan)
      .collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    val centsAggs = aggs.filter(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[CentsSum]))
    assert(centsAggs.size === 2, plan.toString) // partial and final
    assert(centsAggs.forall(a => codegened.exists(_ eq a)), plan.toString)
  }

  test("other numeric types take the cast as it is; a string is rejected") {
    val s = TestSpark.spark
    // values every type holds, so the cast itself cannot overflow
    val df = frame(s, (adversarial ++ randomValues(500, 13))
      .filter(v => v == null || math.abs(v) < 1e7))
    for (t <- Seq("decimal(38,18)", "float", "int")) {
      val typed = df.withColumn("x", col("x").cast(t))
      for ((what, ours, ref) <- pairs(typed)) assertSame(s"$what of $t", ours, ref)
    }
    val text = s.range(3).select(col("id").cast("string").as("n"))
    assert(intercept[Exception](text.agg(cents_sum(col("n"))).collect()).getMessage
      .contains("cents_sum requires a numeric argument"))
    assert(intercept[Exception](text.select(cents(col("n"))).collect()).getMessage
      .contains("cents requires a numeric argument"))
  }
}
