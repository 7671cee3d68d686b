package graft.functions

import graft.SparkSpec
import graft.functions.VectorExpressions._
import org.apache.spark.sql.functions._

/** The custom codegen expressions must be BITWISE-equal to the
  * higher-order-function forms they replace (the DuckDB oracles replicate
  * the HOF arithmetic, so any divergence breaks the correctness gate). */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    VectorExpressions.register(spark)
    Seq(
      (1L, Array(0.25f, -0.5f, 0.125f, 3.0f)),
      (2L, Array(1.5f, 2.5f, -0.75f, 0.0f)),
      (3L, Array(0.1f, 0.2f, 0.3f, 0.4f))) // 0.1f etc: non-exact binary floats
      .toDF("id", "v")
  }

  test("vector_dot_f32 / vector_norm_f32 match the zip_with+aggregate fold bitwise") {
    val a = vecs.toDF("a_id", "a")
    val b = vecs.toDF("b_id", "b")
    val out = a.crossJoin(b).select(
      vector_dot_f32(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)").as("hof"),
      vector_norm_f32(col("a")).as("nfast"),
      expr("sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v))").as("nhof"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("vector_dot_f64 / vector_norm_f64 match the zip_with+aggregate fold bitwise") {
    val dv = vecs.select(col("id"), col("v").cast("array<double>").as("v"))
    val a = dv.toDF("a_id", "a")
    val b = dv.toDF("b_id", "b")
    val out = a.crossJoin(b).select(
      vector_dot_f64(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("hof"),
      vector_norm_f64(col("a")).as("nfast"),
      expr("sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, v) -> acc + v))").as("nhof"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("rolling_hash31 matches the aggregate() fold and handles empty strings") {
    VectorExpressions.register(spark)
    val out = Seq("hello world", "", "a", "spark graft engine")
      .toDF("text")
      .select(
        rolling_hash31(col("text")).as("fast"),
        expr("""CASE WHEN length(text) = 0 THEN 0L
                ELSE aggregate(sequence(1, length(text)), 0L,
                               (acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % 1000000007)
                END""").as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("window_hash31 == per-substring rolling_hash31 at every position; short strings empty") {
    VectorExpressions.register(spark)
    val out = Seq("hello world", "abcdefgh", "abcdefghi", "mississippi river banks", "abc", "")
      .toDF("text")
      .select(col("text"),
        window_hash31(col("text"), lit(8)).as("fast"),
        expr("""CASE WHEN length(text) >= 8
                THEN transform(sequence(1, length(text) - 7),
                       i -> rolling_hash31(substring(text, i, 8)))
                ELSE array() END""").as("slow"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"window mismatch for '${r.getString(0)}'")
    }
  }

  test("hilbert_d2 is a bijection with unit-step locality (exhaustive 8x8 and 32x32)") {
    for (bits <- Seq(3, 5)) {
      val n = 1 << bits
      val cells = for (x <- 0 until n; y <- 0 until n)
        yield (x, y, graft.functions.VectorKernels.hilbertD2(x.toLong, y.toLong, bits))
      // bijection onto [0, n²)
      assert(cells.map(_._3).sorted === (0L until n.toLong * n).toVector.sorted)
      // THE Hilbert property: consecutive indices are grid-adjacent —
      // this is what Z-order lacks (Morton has diagonal jumps) and why
      // Hilbert files get tighter bounding boxes
      val byD = cells.sortBy(_._3)
      byD.sliding(2).foreach { case Seq((x1, y1, _), (x2, y2, _)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
          s"non-adjacent step at ($x1,$y1)->($x2,$y2), bits=$bits")
      }
    }
    // the expression agrees with the kernel through codegen + SQL surface
    VectorExpressions.register(spark)
    val rows = spark.range(64)
      .selectExpr("id % 8 AS x", "id div 8 AS y")
      .selectExpr("x", "y", "hilbert_d2(x, y, 3) AS h")
      .collect()
    rows.foreach(r => assert(r.getLong(2) ===
      graft.functions.VectorKernels.hilbertD2(r.getLong(0), r.getLong(1), 3)))
  }

  test("damerau_levenshtein: pinned values distinguishing true-DL from OSA") {
    import graft.functions.VectorKernels.{damerauLevenshtein => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // probed against DuckDB 1.0.0 damerau_levenshtein (the oracle engine):
    assert(dl(u("CA"), u("ABC")) === 2L)   // OSA would say 3 — true DL
    assert(dl(u("ab"), u("ba")) === 1L)    // plain transposition
    assert(dl(u("abc"), u("ca")) === 2L)
    assert(dl(u(""), u("abc")) === 3L)
    assert(dl(u("abc"), u("")) === 3L)
    assert(dl(u(""), u("")) === 0L)
    assert(dl(u("same"), u("same")) === 0L)
    assert(dl(u("hte"), u("the")) === 1L)  // the typo class lev scores 2
    assert(dl(u("héllo"), u("hello")) === 2L) // BYTE distance (é = 2 UTF-8 bytes), matches DuckDB
  }

  test("damerau_levenshtein rejects inputs whose DP matrix would wrap Int indexing") {
    import graft.functions.VectorKernels.{damerauLevenshtein => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // (la+2)·(lb+2) > Int.MaxValue (~46 KB × 46 KB) must fail loudly, not
    // silently return a wrapped-index garbage distance
    val big = u("x" * 50000)
    val ex = intercept[IllegalArgumentException] { dl(big, big) }
    assert(ex.getMessage.contains("too long"))
    // just-under-quadratic sizes still work (asymmetric: 46 KB × 1 is fine)
    assert(dl(big, u("x")) === 49999L)
  }

  test("damerau_levenshtein equals BFS-minimal edit count (independent semantic oracle)") {
    // True DL = minimum number of {insert, delete, substitute,
    // transpose-adjacent} ops transforming a into b, each op applied to
    // the CURRENT string (unrestricted — a transposed pair may be edited
    // again). BFS over current-string states computes exactly that
    // definition, independently of the Lowrance-Wagner DP under test.
    def bfsDl(a: String, b: String, maxD: Int): Int = {
      if (a == b) return 0
      val alpha = (a + b).toSet.toSeq
      var frontier = Set(a)
      val seen = scala.collection.mutable.Set(a)
      var depth = 0
      while (depth < maxD) {
        depth += 1
        val next = scala.collection.mutable.Set.empty[String]
        for (s <- frontier) {
          val edits = Iterator(
            (0 to s.length).iterator.flatMap(i => alpha.iterator.map(c => s.substring(0, i) + c + s.substring(i))),
            (0 until s.length).iterator.map(i => s.substring(0, i) + s.substring(i + 1)),
            (0 until s.length).iterator.flatMap(i => alpha.iterator.map(c => s.substring(0, i) + c + s.substring(i + 1))),
            (0 until s.length - 1).iterator.map(i =>
              s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2))).flatten
          for (t <- edits if t.length <= a.length.max(b.length) + maxD && !seen(t)) {
            if (t == b) return depth
            seen += t; next += t
          }
        }
        frontier = next.toSet
      }
      maxD + 1 // not reachable within maxD
    }
    import graft.functions.VectorKernels.{damerauLevenshtein => dl}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    for (_ <- 1 to 120) {
      val a = (0 until rnd.nextInt(5)).map(_ => alphabet(rnd.nextInt(3))).mkString
      val b = (0 until rnd.nextInt(5)).map(_ => alphabet(rnd.nextInt(3))).mkString
      val got = dl(u(a), u(b)).toInt
      val maxD = a.length.max(b.length)
      val want = bfsDl(a, b, maxD)
      assert(got === want, s"dl('$a','$b'): kernel=$got bfs=$want")
    }
  }

  test("damerau_levenshtein codegen path agrees with the kernel and lev lower-bounds it") {
    VectorExpressions.register(spark)
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 200).map { i =>
      def word = (0 until 3 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      (i.toLong, word, word)
    }
    val out = pairs.toDF("id", "a", "b")
      .select(col("a"), col("b"),
        damerau_levenshtein(col("a"), col("b")).as("dl"),
        levenshtein(col("a"), col("b")).cast("long").as("lev"))
      .collect()
    out.foreach { r =>
      val k = graft.functions.VectorKernels.damerauLevenshtein(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
      assert(r.getLong(2) === k, s"codegen/kernel mismatch on ${r.getString(0)}/${r.getString(1)}")
      assert(r.getLong(2) <= r.getLong(3), "DL must lower-bound levenshtein")
      assert(r.getLong(2) >= math.abs(r.getString(0).length - r.getString(1).length))
    }
  }

  test("expressions work through the SQL surface after register()") {
    VectorExpressions.register(spark)
    vecs.createOrReplaceTempView("vecs_t")
    val r = spark.sql(
      "SELECT vector_dot_f32(v, v) AS d, vector_norm_f32(v) AS n FROM vecs_t WHERE id = 1")
      .head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1) * r.getDouble(1)) < 1e-12)
  }

  test("registered builders reject a wrong arity with a readable error") {
    VectorExpressions.register(spark)
    Seq(
      "damerau_levenshtein('a')" -> "damerau_levenshtein expects (a, b), got 1 args",
      "md5_seeded8('a', 'b')" -> "md5_seeded8 expects (s), got 2 args",
      "aligned_counts(array())" -> "aligned_counts expects (entries, keys), got 1 args",
      "marginal_counts(array(), array(), array())" -> "marginal_counts expects (entries, keys), got 3 args")
      .foreach { case (call, msg) =>
        val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
        assert(!e.isInstanceOf[IndexOutOfBoundsException], call)
        assert(e.getMessage.contains(msg), s"$call: ${e.getMessage}")
      }
  }
}
