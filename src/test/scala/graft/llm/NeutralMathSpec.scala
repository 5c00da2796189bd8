package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins for the engine-neutral transcendental kernels (round-8 fix for the
  * four LN-ulp hash failures in CORRECTNESS_r07).
  *
  * The determinism claim is STRUCTURAL — the emitted SQL contains only
  * operations IEEE 754 requires to be correctly rounded, so two engines
  * evaluating the same text cannot disagree by even one ulp. These pins
  * make the structure checkable:
  *
  *  1. the emitted text never calls an engine-native transcendental;
  *  2. Spark evaluating the chain agrees BIT-FOR-BIT with the JVM
  *     reference implementation (same op sequence hand-run in Scala) on an
  *     adversarial input sweep, including inputs parked as close as
  *     representable to a FLOOR quantization boundary — the exact place a
  *     1-ulp libm disagreement flipped round 7's micro-nat scores;
  *  3. the kernel tracks the true log/exp far inside the micro-unit
  *     quantum (≤ 1e-9 relative), so swapping libm log for this kernel
  *     changes no displayed 4-decimal value.
  */
class NeutralMathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val banned = raw"(?i)\b(LN|LOG|LOG2|LOG10|EXP|POWER|POW)\s*\(".r

  test("emitted ln chain text contains no engine-native transcendental") {
    val txt = NeutralMath.lnScaledCtes("t", "src", "a", "a", "x", "y", "o", "1.0E6")
    assert(banned.findFirstIn(txt).isEmpty, s"banned call in: $txt")
  }

  test("emitted exp chain text contains no engine-native transcendental") {
    val txt = NeutralMath.expMicroCtes("t", "src", "a", "a", "x", "o")
    assert(banned.findFirstIn(txt).isEmpty)
  }

  test("ln kernel: Spark chain == JVM reference bit-for-bit on adversarial sweep") {
    // Sweep mixes structured cases (powers of two, adjacent integers,
    // extreme ratios spanning the full bit-length range) with pseudo-random
    // pairs, plus boundary hunters: pairs whose true ln lands within 1e-9
    // of a FLOOR(·1e6 + 0.5) boundary, where round 7's engine-native LN
    // actually diverged.
    val rnd = new scala.util.Random(8)
    val structured = Seq(
      (1L, 1L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L),
      (1L << 62, 1L), (1L, 1L << 62), ((1L << 62) - 1, (1L << 62) + 0L),
      (16777217L, 16777216L), (999999999999L, 1000000000000L),
      (33554432L, 1L), (33554432L, 33554431L), (1000000000L, 30L)
    )
    val random = Seq.fill(400)((rnd.nextLong(1L << 40) + 1, rnd.nextLong(1L << 40) + 1))
    // boundary hunters: for k micro-nats, den=1e6-scale integers whose
    // ratio ln is near (k+0.5)/1e6
    val hunters = (1 to 50).map { k =>
      val target = math.exp((k + 0.5) / 1e6)
      val den = 1000000000L
      ((target * den).round, den)
    }
    val cases = structured ++ random ++ hunters
    val values = cases.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    val sql =
      s"""WITH src AS (SELECT col1 AS num, col2 AS den FROM VALUES $values),
         |${NeutralMath.lnScaledCtes("c", "src", "num, den", "num, den", "num", "den", "o", "1.0E6")}
         |SELECT num, den, o, ${NeutralMath.lnScaledSpark("num", "den", "1.0E6")} AS o2 FROM c""".stripMargin
    val got = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == cases.distinct.size)
    for ((n, d) <- cases) {
      val exp = NeutralMath.lnScaledJvm(n, d, 1.0e6)
      val (chain, native) = got((n, d))
      assert(chain == exp, s"ln($n/$d): chain=$chain jvm=$exp")
      // the native codegen'd expression must match the chain BIT-FOR-BIT —
      // the Spark dialect runs the native form, the oracle runs the chain
      assert(native == exp, s"ln($n/$d): native=$native jvm=$exp")
    }
  }

  test("ln kernel tracks math.log within 1e-9 relative (far inside a micro-nat)") {
    val rnd = new scala.util.Random(88)
    for (_ <- 1 to 2000) {
      val n = rnd.nextLong(1L << 50) + 1
      val d = rnd.nextLong(1L << 50) + 1
      val truth = math.log(n.toDouble / d.toDouble)
      val ours = NeutralMath.lnScaledJvm(n, d, 1.0e12) / 1.0e12
      val tol = math.max(math.abs(truth) * 1e-9, 2e-12)
      assert(math.abs(ours - truth) <= tol, s"ln($n/$d): $ours vs $truth")
    }
  }

  test("exp kernel: Spark chain == JVM reference bit-for-bit; tracks math.exp") {
    val rnd = new scala.util.Random(9)
    val xs = (Seq(0L, 1L, 999999L, 1000000L, 1000001L, 28999999L) ++
      Seq.fill(200)(rnd.nextLong(29000000L))).distinct
    val values = xs.map(x => s"($x)").mkString(", ")
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    val sql =
      s"""WITH src AS (SELECT col1 AS x FROM VALUES $values),
         |${NeutralMath.expMicroCtes("c", "src", "x", "x", "x", "o")}
         |SELECT x, o, ${NeutralMath.expMicroSpark("x")} AS o2 FROM c""".stripMargin
    val got = spark.sql(sql).collect()
      .map(r => r.getAs[Number](0).longValue ->
        ((r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))).toMap
    for (x <- xs) {
      val exp = NeutralMath.expMicroJvm(x)
      val (chain, native) = got(x)
      assert(chain == exp, s"exp($x µ): chain=$chain jvm=$exp")
      assert(native == exp, s"exp($x µ): native=$native jvm=$exp")
      val truth = math.exp(x / 1e6) * 1e6
      assert(math.abs(chain - truth) <= math.max(truth * 1e-9, 1.0),
        s"exp($x µ): $chain vs $truth")
    }
  }
}
