package graft

import org.apache.spark.sql.functions.{col, expr}
import graft.functions.{DotProduct, Natives}

/** The native `vec_dot` Expression: codegen and interpreted paths must
  * agree bit-exactly with the scala-side left-to-right fold, and data
  * corruption (length mismatch) must fail loudly rather than return a
  * plausible number. The cross-engine properties (agreement with the
  * unrolled oracle SQL) are covered by the 10 vector queries in the
  * oracle harness; this spec covers what the harness cannot see. */
class DotProductSpec extends GraftSpec {
  import spark.implicits._

  test("vec_dot matches the strict left-to-right fold bit-exactly") {
    Natives.ensure(spark)
    val a = Array.tabulate(64)(j => (j * 0.37f + 0.11f) * (if (j % 3 == 0) -1 else 1))
    val b = Array.tabulate(64)(j => (j * 1.13f - 7.5f))
    // The contract: ascending index, left-to-right double accumulation.
    var want = 0.0
    (0 until 64).foreach(j => want += a(j).toDouble * b(j).toDouble)
    val got = Seq((a, b)).toDF("a", "b")
      .select(expr("vec_dot(a, b)").as("d")).head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(want), s"$got != $want")
    // Interpreted path (no codegen): same bits.
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
    val interp = DotProduct(lit.create(a), lit.create(b)).eval(null)
    assert(java.lang.Double.doubleToLongBits(interp.asInstanceOf[Double]) ==
      java.lang.Double.doubleToLongBits(want))
  }

  test("vec_dot is null-intolerant on arrays and loud on corruption") {
    Natives.ensure(spark)
    val rows = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    // Null ARRAY → null result (standard null-intolerant binary op).
    assert(rows.select(expr("vec_dot(a, cast(null as array<float>))"))
      .head.isNullAt(0))
    // Length mismatch → exception, not a truncated dot.
    val boom = intercept[Exception] {
      rows.select(expr("vec_dot(a, array(cast(1.0 as float)))")).head
    }
    assert(boom.getMessage != null)
    // Mixed float/double element types resolve and compute.
    assert(rows.select(expr("vec_dot(a, array(1.0d, 0.5d))")).head
      .getDouble(0) == 1.0 * 1.0 + 2.0 * 0.5)
  }

  test("simhash60 is order-independent and matches a scala fold") {
    Natives.ensure(spark)
    val hs = Array(0x7ffL, 0x123456789abL, 0x0L, 0xfff000fff000L, 0x1L)
    def ref(xs: Seq[Long]): Long = {
      var sig = 0L
      (0 until 60).foreach { b =>
        val votes = xs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) sig |= (1L << b)
      }
      sig
    }
    val got = Seq(Tuple1(hs)).toDF("hs")
      .select(expr("simhash60(hs)")).head.getLong(0)
    assert(got == ref(hs.toSeq))
    // Any permutation of the list produces the same fingerprint.
    val got2 = Seq(Tuple1(hs.reverse)).toDF("hs")
      .select(expr("simhash60(hs)")).head.getLong(0)
    assert(got2 == got)
    // Null list → null; empty list → all-zero votes → 0.
    assert(Seq(Tuple1(hs)).toDF("hs")
      .select(expr("simhash60(cast(null as array<bigint>))")).head.isNullAt(0))
    assert(Seq(Tuple1(Array.empty[Long])).toDF("hs")
      .select(expr("simhash60(hs)")).head.getLong(0) == 0L)
  }

  test("poly_roll folds in array order and matches a scala fold") {
    Natives.ensure(spark)
    val b = 1048573L; val m = 2147483647L
    val hs = Seq((0, 17L), (1, 99L), (2, 5L))
    def ref(xs: Seq[Long]): Long = xs.foldLeft(0L)((a, h) => (a * b + h) % m)
    // The expression requires the production field layout (pos, h) by
    // NAME — tuple columns (_1, _2) must not resolve (see below).
    def named(rows: Seq[(Int, Long)]) = Seq(Tuple1(rows)).toDF("raw")
      .select(expr("transform(raw, x -> named_struct('pos', x._1, 'h', x._2))")
        .as("hs"))
    val got = named(hs)
      .select(expr(s"poly_roll(hs, ${b}L, ${m}L)")).head.getLong(0)
    assert(got == ref(hs.map(_._2)))
    // Order-SENSITIVE: reversing the array changes the fingerprint.
    val rev = named(hs.reverse)
      .select(expr(s"poly_roll(hs, ${b}L, ${m}L)")).head.getLong(0)
    assert(rev == ref(hs.reverse.map(_._2)) && rev != got)
    // Non-literal base/mod is rejected at registration-build time.
    val e = intercept[Exception] {
      named(hs)
        .select(expr("poly_roll(hs, cast(rand()*10 as bigint), 7L)")).head
    }
    assert(e.getMessage.contains("literal"))
    // SWAPPED field layout struct<h,pos> fails analysis instead of
    // silently folding positions (the fold reads ordinal 1 by name 'h').
    val swapped = intercept[Exception] {
      Seq(Tuple1(hs)).toDF("raw")
        .select(expr("transform(raw, x -> named_struct('h', cast(x._2 as bigint), 'pos', cast(x._1 as bigint)))").as("hs"))
        .select(expr(s"poly_roll(hs, ${b}L, ${m}L)")).head
    }
    assert(swapped.getMessage.contains("poly_roll"))
    // Negative hash values diverge from the oracle's non-negative fold —
    // loud failure, not a silently different fingerprint.
    val neg = intercept[Exception] {
      named(Seq((0, -5L)))
        .select(expr(s"poly_roll(hs, ${b}L, ${m}L)")).head
    }
    assert(neg.getMessage.contains("negative") ||
      String.valueOf(neg.getCause).contains("negative"))
  }

  test("Natives.ensure installs each native once and never replaces one") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
    val vecDot = FunctionIdentifier("vec_dot")
    def builder(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.lookupFunctionBuilder(vecDot).get
    Natives.ensure(spark)
    val first = builder(spark)
    Natives.ensure(spark)
    assert(builder(spark) eq first, "second ensure replaced vec_dot")
    // A name the session already has keeps its builder.
    val other = spark.newSession()
    val mine: FunctionBuilder = DotProduct.fromChildren
    other.sessionState.functionRegistry.registerFunction(vecDot, mine, "scala_udf")
    Natives.ensure(other)
    assert(builder(other) eq mine)
    assert(Natives.names.forall(n => other.catalog.functionExists(n)))
  }

  test("GraftExtensions injects every registered native via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    // Build a SECOND session on the same context with the extension
    // configured — the pure-SQL registration path, no graft API calls.
    spark.sparkContext // force the shared session/context to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions is the programmatic twin of
      // spark.sql.extensions=graft.functions.GraftExtensions — the
      // config-string form only applies when the session owns a fresh
      // context, which a shared-context test suite cannot create.
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(s2 ne spark, "extension test must get a fresh session")
      val r = s2.sql(
        """SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
          |               array(cast(3.0 as float), cast(4.0 as float))) AS d,
          |       simhash60(array(cast(3 as bigint))) AS s,
          |       poly_roll(array(named_struct('pos', 0L, 'h', 7L),
          |                       named_struct('pos', 1L, 'h', 3L)),
          |                 10L, 97L) AS p""".stripMargin)
        .head
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) == 3L)
      assert(r.getLong(2) == (7L * 10L + 3L) % 97L)
      // The injected set is the Natives list: every native the
      // operators install resolves via the injector too.
      Natives.names.foreach { f =>
        assert(s2.catalog.functionExists(f), s"$f not injected")
      }
      // sign_bits resolves and packs strictly-positive signs.
      assert(s2.sql(
        """SELECT sign_bits(array(cast(1.0 as float), cast(-1.0 as float),
          |                       cast(0.0 as float), cast(2.0 as float)),
          |                 0, 4) AS b""".stripMargin).head.getInt(0) == 9)
      // A foldable NULL start/len is a clear type-check failure, not a
      // silent unbox-to-0 pass.
      val nullArg = intercept[Exception] {
        s2.sql(
          """SELECT sign_bits(array(cast(1.0 as float)),
            |                 cast(null as int), 1)""".stripMargin).head
      }
      assert(nullArg.getMessage.contains("non-null start and len"),
        s"unexpected message: ${nullArg.getMessage}")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("quant_stats matches the unrolled min-max-floor arithmetic") {
    Natives.ensure(spark)
    val xs = Array.tabulate(64)(j => (j * 0.73f - 11.2f) * (if (j % 5 == 0) -1 else 1))
    // Reference: left-associated least/greatest chain + per-element
    // floor codes — the exact arithmetic the old unrolled projection used.
    val ds = xs.map(_.toDouble)
    val mn = ds.reduceLeft(math.min); val mx = ds.reduceLeft(math.max)
    def code(x: Double): Long =
      if (mx > mn) math.floor(((x - mn) * 255.0) / (mx - mn)).toLong else 0L
    val wantSum = ds.map(code).sum
    val wantPos = ds.zipWithIndex.map { case (x, i) => (i + 1) * code(x) }.sum
    val r = Seq(Tuple1(xs)).toDF("e")
      .select(expr("quant_stats(e, 255)").as("q"))
      .select("q.v_min", "q.v_max", "q.code_sum", "q.code_possum").head
    assert(r.getDouble(0) == mn && r.getDouble(1) == mx)
    assert(r.getLong(2) == wantSum && r.getLong(3) == wantPos)
    // Interpreted path agrees with codegen.
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.functions.QuantStats(lit.create(xs), 255).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(interp.getDouble(0) == mn && interp.getDouble(1) == mx)
    assert(interp.getLong(2) == wantSum && interp.getLong(3) == wantPos)
    // Flat vector → all codes 0; empty array → null; null array → null.
    val flat = Seq(Tuple1(Array.fill(4)(2.5f))).toDF("e")
      .select(expr("quant_stats(e, 255)").as("q"))
      .select("q.code_sum", "q.code_possum").head
    assert(flat.getLong(0) == 0L && flat.getLong(1) == 0L)
    assert(Seq(Tuple1(Array.empty[Float])).toDF("e")
      .select(expr("quant_stats(e, 255)")).head.isNullAt(0))
    assert(Seq(Tuple1(xs)).toDF("e")
      .select(expr("quant_stats(cast(null as array<float>), 255)"))
      .head.isNullAt(0))
    // Non-literal levels rejected at build time.
    val e = intercept[Exception] {
      Seq(Tuple1(xs)).toDF("e")
        .select(expr("quant_stats(e, cast(rand()*10 as int))")).head
    }
    assert(e.getMessage.contains("literal"))
  }

  test("vec_dot rejects non-array inputs at analysis time") {
    Natives.ensure(spark)
    val e = intercept[Exception] {
      Seq(1).toDF("x").select(expr("vec_dot(x, x)")).head
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot") ||
      e.getMessage.toLowerCase.contains("datatype"))
  }

  test("vec_dot_prefixes checkpoints equal vec_dot over each prefix, " +
      "bit-exactly, on both paths") {
    Natives.ensure(spark)
    val ks = Seq(8, 16, 32, 64)
    val a = Array.tabulate(64)(j => (j * 0.29f - 3.7f) * (if (j % 5 == 2) -1 else 1))
    val b = Array.tabulate(64)(j => (j * 0.91f + 0.03f))
    val df = Seq((a, b)).toDF("a", "b")
    val fused = df.select(expr(
      s"vec_dot_prefixes(a, b, '${ks.mkString(",")}')").as("pd"))
      .head.getSeq[Double](0)
    ks.zipWithIndex.foreach { case (k, i) =>
      val want = df.select(
        expr(s"vec_dot(slice(a, 1, $k), slice(b, 1, $k))"))
        .head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(fused(i)) ==
        java.lang.Double.doubleToLongBits(want),
        s"checkpoint $k: ${fused(i)} != $want")
    }
    // Interpreted path: same bits as codegen.
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.functions.DotPrefixes(
      lit.create(a), lit.create(b), ks).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    interp.zip(fused).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToLongBits(x) ==
        java.lang.Double.doubleToLongBits(y))
    }
  }

  test("vec_dot_prefixes fails loudly short of the last checkpoint") {
    Natives.ensure(spark)
    val rows = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val boom = intercept[Exception] {
      rows.select(expr("vec_dot_prefixes(a, b, '2,4')")).head
    }
    assert(boom.getMessage.contains("vec_dot_prefixes"))
    // Null ARRAY → null result; in-range checkpoints still work.
    val ok = rows.select(expr("vec_dot_prefixes(a, b, '1,2')"))
      .head.getSeq[Double](0)
    assert(ok == Seq(3.0, 11.0))
    assert(rows
      .select(expr("vec_dot_prefixes(a, cast(null as array<float>), '1')"))
      .head.isNullAt(0))
  }
}
