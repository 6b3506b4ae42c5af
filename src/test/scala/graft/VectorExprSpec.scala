package graft

import org.apache.spark.sql.functions._

import graft.functions.{cmsDot, dot, l2}

/** GraftDot native expression: bit-identical to the HOF left fold, and
  * null handling; plus the CMS inner-product parse and overflow bound. */
class VectorExprSpec extends SparkSpec {

  test("graft_dot equals the aggregate(zip_with(...)) fold bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map(_ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
       Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(dot(col("a"), col("b")).as("native"),
        expr("""aggregate(zip_with(a, b,
          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("graft_l2 dispatches per-side on float vs double arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 100).map(_ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
       Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("f", "d")
      .select(l2(col("f"), col("d")).as("native"),
        expr("""aggregate(zip_with(f, d,
          (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("graft_dot propagates nulls") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
      .select(dot(col("a"), col("b")).as("r"))
    assert(df.collect()(0).isNullAt(0))
  }

  test("graft_cms_dot: single-key sketches dot to exactly c1*c2 and " +
      "disjoint keys to ~0 (verifies the serialized-table parse layout)") {
    import spark.implicits._
    // sketch A holds key 7 with count 3; sketch B holds key 7 with count
    // 5. Same seed → same cell positions, each row's dot is exactly 15:
    // anything else means the parser misread the table/hashA layout.
    val a = Seq.fill(3)(7L).toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("ska"))
    val b = Seq.fill(5)(7L).toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("skb"))
    val same = a.crossJoin(b)
      .select(cmsDot(col("ska"), col("skb")).as("d")).collect()(0).getLong(0)
    assert(same === 15L)
    // disjoint single keys: a row contributes only on a hash collision,
    // and the estimate takes the MIN across depth rows — with width 2719
    // and 5 rows, all-rows-collide has probability ~(1/2719)^5 ≈ 0
    val c = Seq.fill(4)(9999L).toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("skb"))
    val disj = a.crossJoin(c)
      .select(cmsDot(col("ska"), col("skb")).as("d")).collect()(0).getLong(0)
    assert(disj === 0L)
    // the estimator never undercounts: multi-key join-size fixture
    val r = (1L to 50L).flatMap(k => Seq.fill((k % 3).toInt + 1)(k))
    val sRows = (1L to 50L).flatMap(k => Seq.fill((k % 5).toInt + 1)(k))
    val exact = {
      val cr = r.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cs = sRows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      cr.map { case (k, n) => n * cs.getOrElse(k, 0L) }.sum
    }
    val skR = r.toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("ska"))
    val skS = sRows.toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("skb"))
    val est = skR.crossJoin(skS)
      .select(cmsDot(col("ska"), col("skb")).as("d")).collect()(0).getLong(0)
    assert(est >= exact, s"CMS inner product undercounted: $est < $exact")
    assert(est <= exact + (3 * 0.001 * r.size * sRows.size).toLong + 1,
      s"CMS inner product overshot the eps bound: $est vs exact $exact")
  }

  test("graft_cms_dot rejects sketches with different shape or seed") {
    import spark.implicits._
    val a = Seq(1L).toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("ska"))
    val b = Seq(1L).toDF("k")
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 43)").as("skb"))
    val ex = intercept[Exception] {
      a.crossJoin(b).select(cmsDot(col("ska"), col("skb"))).collect()
    }
    assert(ex.getMessage != null)
  }

  test("graft_cms_dot fails loudly (ArithmeticException) past the " +
      "documented 2^63 counter-product bound instead of wrapping") {
    // hand-write a version-1 sketch whose counters overflow the Long dot:
    // version, totalCount, depth=1, width=2, 1 hashA long, 2 table longs
    def sketch(c0: Long, c1: Long): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(1); out.writeLong(0L)
      out.writeInt(1); out.writeInt(2)
      out.writeLong(12345L) // hashA — must match between sides
      out.writeLong(c0); out.writeLong(c1)
      out.flush(); bos.toByteArray
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    val big = Literal(sketch(Long.MaxValue / 2, 1L))
    val ex = intercept[ArithmeticException] {
      graft.functions.GraftCmsDot(big, big).eval()
    }
    assert(ex.getMessage.contains("overflow"),
      s"expected the documented-bound message, got: ${ex.getMessage}")
    // sanity: small counters through the same hand-written layout dot fine
    val small = Literal(sketch(3L, 4L))
    assert(graft.functions.GraftCmsDot(small, small).eval() === 25L)
  }
}
