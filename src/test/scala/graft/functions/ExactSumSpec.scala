package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BindReferences, Cast, EvalMode, InterpretedUnsafeProjection, Literal,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkSpec
import graft.operators.Relational.sumMoney

/** [[ExactMoneySum]] against the idiom it replaces,
  * `sum(x.cast("decimal(18,s)")).cast("double")`: bit for bit, for scales
  * 2, 4 and 6, with ANSI on and off, through whole-stage codegen and
  * through interpreted evaluation. */
class ExactSumSpec extends SparkSpec {
  import spark.implicits._

  private val Scales = Seq(2, 4, 6)

  /** ANSI × (codegen, interpreted); columns must be built inside `f`, so
    * both sides capture the same eval mode. */
  private def eachMode(f: String => Unit): Unit =
    for (ansi <- Seq(true, false); interp <- Seq(false, true)) {
      val before = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.factoryMode").map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      spark.conf.set("spark.sql.codegen.wholeStage", (!interp).toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (interp) "NO_CODEGEN" else "FALLBACK")
      try f(s"ansi=$ansi interpreted=$interp")
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def reference(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => false
  }

  /** Kernel and reference side by side per group of `df(g, x)`; every
    * mismatch is reported with its group. */
  private def assertSameSums(df: DataFrame, scale: Int, mode: String): Unit = {
    val rows = df.repartition(3).groupBy("g")
      .agg(sumMoney(col("x"), scale).as("k"), reference(col("x"), scale).as("r"))
      .collect()
    val bad = rows.filter(r => !same(r.get(1), r.get(2)))
    assert(bad.isEmpty, s"[$mode s=$scale] ${bad.length}/${rows.length} groups differ, " +
      s"first: ${bad.take(3).mkString(", ")}")
  }

  /** One row per group: a per-row check, with nothing to average a miss away. */
  private def perRow(xs: Seq[Double]): DataFrame =
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("g", "x")

  private val rnd = new scala.util.Random(20261020L)

  private def randomDoubles(n: Int): Seq[Double] = Seq.fill(n) {
    rnd.nextInt(5) match {
      case 0 => (rnd.nextLong() % 100000000L) / 100.0           // cents
      case 1 => rnd.nextGaussian() * 1e4                        // full mantissa
      case 2 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13))
      case 3 => java.lang.Double.longBitsToDouble(rnd.nextLong()) // any bit pattern
      case _ => rnd.nextInt(1000000) * 0.01 * (1 - rnd.nextInt(10) * 0.01) // price·(1-disc)
    }
  }.filter(x => !x.isNaN && !x.isInfinite && math.abs(x) < 1e11)

  /** `(k + 0.5)/10^s` and its ±1-ulp neighbours, k log-uniform up to 10^15. */
  private def ties(scale: Int, n: Int): Seq[Double] = Seq.fill(n) {
    val k = (rnd.nextDouble() * math.pow(10, rnd.nextInt(16))).toLong * (if (rnd.nextBoolean()) 1 else -1)
    val x = (k + 0.5) / math.pow(10, scale)
    Seq(x, math.nextUp(x), math.nextDown(x))
  }.flatten.filter(x => math.abs(x) * math.pow(10, scale) < 9e17)

  test("random doubles: bit for bit, per row and per group, scales 2/4/6, ANSI on and off") {
    val xs = randomDoubles(40000)
    eachMode { mode =>
      for (s <- Scales) {
        assertSameSums(perRow(xs), s, mode)
        assertSameSums(xs.zipWithIndex.map { case (x, i) => (i % 7L, x) }.toDF("g", "x"), s, mode)
      }
    }
  }

  test("half-unit ties (k+0.5)/10^s and their ±1-ulp neighbours round like the cast") {
    eachMode { mode =>
      for (s <- Scales) assertSameSums(perRow(ties(s, 15000)), s, mode)
    }
  }

  test("-0.0, NaN, ±Inf and values overflowing decimal(18,s): same result, or the same error") {
    def outcome(df: DataFrame): Either[String, Seq[Row]] =
      try Right(df.collect().toSeq.sortBy(_.getLong(0)))
      catch { case t: Throwable => Left(condition(t)) }
    eachMode { mode =>
      for (s <- Scales; x <- Seq(-0.0, Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity, 1e19, -1e19, 1e18 / math.pow(10, s),
          -1e18 / math.pow(10, s), (1e18 - 1) / math.pow(10, s))) {
        val df = Seq((0L, x), (0L, 1.25), (1L, x)).toDF("g", "x")
        val k = outcome(df.groupBy("g").agg(sumMoney(col("x"), s).as("v")))
        val r = outcome(df.groupBy("g").agg(reference(col("x"), s).as("v")))
        val ok = (k, r) match {
          case (Right(a), Right(b)) => a.map(_.getLong(0)) == b.map(_.getLong(0)) &&
            a.zip(b).forall { case (p, q) => same(p.get(1), q.get(1)) }
          case (Left(a), Left(b)) => a == b
          case _ => false
        }
        assert(ok, s"[$mode s=$s x=$x] kernel $k, reference $r")
      }
    }
  }

  test("empty and all-null groups are null; nulls among values are skipped") {
    val df = Seq[(Long, java.lang.Double)](
      (1L, null), (1L, null), (2L, 1.5), (2L, null), (2L, -0.25)).toDF("g", "x")
    eachMode { mode =>
      for (s <- Scales) {
        assertSameSums(df, s, mode)
        val empty = df.filter(lit(false))
          .agg(sumMoney(col("x"), s).as("k"), reference(col("x"), s).as("r")).collect()
        assert(empty.toSeq.map(r => (r.get(0), r.get(1))) == Seq((null, null)), mode)
        val got = df.groupBy("g").agg(sumMoney(col("x"), s)).collect()
          .map(r => r.getLong(0) -> r.get(1)).toMap
        assert(got == Map(1L -> null, 2L -> 1.25), mode)
      }
    }
  }

  test("partial buffers merged near the 10^28 edge: exact below it, Sum's overflow null or error at it") {
    val Limit = BigInt(10).pow(28)
    def limbs(v: BigInt): InternalRow = InternalRow((v & MoneyLimbs.Mask).toLong, (v >> 31).toLong)
    // the old aggregate's answer for a total: its own overflow check and cast
    def sumAnswer(v: BigInt, s: Int, mode: EvalMode.Value): Either[String, Any] = {
      val ref = Sum(Literal.create(null, DecimalType(18, s)),
        org.apache.spark.sql.catalyst.expressions.NumericEvalContext(mode))
      val buf = if (v.abs >= Limit) InternalRow(null, false)
        else InternalRow(org.apache.spark.sql.types.Decimal(BigDecimal(v, s), 28, s), false)
      val e = BindReferences.bindReference(Cast(ref.evaluateExpression, DoubleType),
        ref.aggBufferAttributes)
      try Right(e.eval(buf)) catch { case t: Throwable => Left(condition(t)) }
    }
    val edges = Seq(Limit - 1, Limit, Limit + 1, -(Limit - 1), -Limit, -Limit - 1,
      Limit / 2, Limit / 2 + 1, BigInt(0), BigInt(1) << 92, -(BigInt(1) << 92))
    val pairs = for (a <- edges; b <- edges) yield (a, b)
    for (mode <- Seq(EvalMode.ANSI, EvalMode.LEGACY); s <- Scales) {
      val agg = ExactMoneySum(Literal(0.0), s, mode)
      val mergeBound = agg.mergeExpressions.map(BindReferences.bindReference(_,
        agg.aggBufferAttributes ++ agg.inputAggBufferAttributes))
      val eval = BindReferences.bindReference(agg.evaluateExpression, agg.aggBufferAttributes)
      def answer(buf: InternalRow): Either[String, Any] =
        try Right(eval.eval(buf)) catch { case t: Throwable => Left(condition(t)) }
      for ((name, proj) <- Seq(
          "codegen" -> UnsafeProjection.create(mergeBound),
          "interpreted" -> InterpretedUnsafeProjection.createProjection(mergeBound));
          (a, b) <- pairs if a.abs < Limit && b.abs < Limit) {
        val l = limbs(a); val r = limbs(b)
        val merged = proj(InternalRow(l.getLong(0), l.getLong(1), r.getLong(0), r.getLong(1))).copy()
        val got = answer(merged)
        val want = sumAnswer(a + b, s, mode)
        assert(got.map(Option(_)) == want.map(Option(_)),
          s"[$name $mode s=$s] $a + $b: kernel $got, Sum $want")
      }
      // an overflowed partial stays overflowed, whatever it merges with
      val over = InternalRow(0L, null)
      for (b <- Seq(BigInt(0), -(Limit - 1))) {
        val r = limbs(b)
        val merged = UnsafeProjection.create(mergeBound)(
          InternalRow(over.getLong(0), null, r.getLong(0), r.getLong(1))).copy()
        assert(answer(merged) == sumAnswer(Limit, s, mode), s"[$mode s=$s] overflow + $b")
      }
    }
  }

  test("inside window frames: rows frame and running total") {
    val xs = (ties(2, 300) ++ randomDoubles(600)).filter(x => math.abs(x) < 1e11)
    val df = xs.zipWithIndex.map { case (x, i) => (i % 5L, i.toLong, x) }.toDF("g", "id", "x")
    val frames = Seq(
      Window.partitionBy("g").orderBy("id").rowsBetween(-3, 1),
      Window.partitionBy("g").orderBy("id").rowsBetween(Window.unboundedPreceding, 0))
    eachMode { mode =>
      for (s <- Scales; w <- frames) {
        val rows = df.select(sumMoney(col("x"), s).over(w).as("k"),
          sum(col("x").cast(s"decimal(18,$s)")).over(w).cast("double").as("r")).collect()
        val bad = rows.filter(r => !same(r.get(0), r.get(1)))
        assert(bad.isEmpty, s"[$mode s=$s] ${bad.length} window rows differ: ${bad.take(3).mkString}")
      }
    }
  }

  test("non-double inputs keep the cast's result") {
    val df = Seq((0L, 7, 123456789L, BigDecimal("12.345")), (0L, -3, -5L, BigDecimal("-0.005")),
      (1L, 0, Long.MaxValue / 1000000000L, BigDecimal("99999.99995")))
      .toDF("g", "i", "l", "d")
    eachMode { mode =>
      for (s <- Scales; c <- Seq("i", "l", "d"))
        assertSameSums(df.select(col("g"), col(c).as("x")), s, mode)
    }
  }

  test("the fast path fires on money values and refuses what it cannot prove") {
    assert(MoneyUnits.fastUnits(1234.56, 100.0) == 123456L)
    assert(MoneyUnits.fastUnits(-0.07, 100.0) == -7L)
    assert(MoneyUnits.fastUnits(0.125, 100.0) == MoneyUnits.NoFast) // a tie
    assert(MoneyUnits.fastUnits(2e10, 100.0) == MoneyUnits.NoFast)  // ≥ 2^40 units
    assert(MoneyUnits.fastUnits(Double.NaN, 100.0) == MoneyUnits.NoFast)
  }

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.getClass.getName)
}
