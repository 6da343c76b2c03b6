package graft

import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val df = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("id", "a", "b")

  test("native dot product matches the functional formulation exactly") {
    val functional = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    val native = df.select(col("id"), VectorExpressions.dot(col("a"), col("b")).as("d"))
    assert(native.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      functional.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
    assert(native.filter(col("id") === 1).head().getDouble(1) === 32.0)
  }

  test("dot product survives whole-stage codegen (plan + many rows)") {
    val wide = spark.range(1000).select(col("id"),
      transform(sequence(lit(0), lit(63)), i => i.cast("double")).as("v"))
    val out = wide.select(sum(VectorExpressions.dot(col("v"), col("v"))).as("s")).head()
    // sum_{i<64} i^2 = 85344, times 1000 rows
    assert(out.getDouble(0) === 85344000.0)
  }

  test("fused cosine matches the three-dot formulation bit-for-bit") {
    val composed = df.filter(col("id") === 1).select(
      (VectorExpressions.dot(col("a"), col("b")) /
        (sqrt(VectorExpressions.dot(col("a"), col("a"))) *
          sqrt(VectorExpressions.dot(col("b"), col("b"))))).as("c"))
    val fused = df.filter(col("id") === 1)
      .select(VectorExpressions.cosine(col("a"), col("b")).as("c"))
    assert(fused.head().getDouble(0) === composed.head().getDouble(0))
  }

  test("fused cosine survives whole-stage codegen (many rows)") {
    val wide = spark.range(1000).select(col("id"),
      transform(sequence(lit(1), lit(64)), i => i.cast("double")).as("v"))
    // cosine(v, v) == 1.0 up to sqrt(x)*sqrt(x) rounding
    val out = wide.select(sum(VectorExpressions.cosine(col("v"), col("v"))).as("s")).head()
    assert(math.abs(out.getDouble(0) - 1000.0) < 1e-9)
  }

  test("one-pass minhash signature matches a driver-side KM reimplementation bit-for-bit") {
    val k = 16
    val texts = Map(1L -> "alpha beta gamma delta", 2L -> "zz yy xx", 3L -> "single")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val toks = array_distinct(split(trim(col("text")), "\\s+"))
    // independent formulation: md5 via java.security directly, the two
    // big-endian 64-bit halves, hash_i = h1 + i*h2 with natural Long
    // wraparound, signed min per slot — no HashUtil, no Spark exprs
    def halves(tok: String): (Long, Long) = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      def be(o: Int) = (0 until 8).foldLeft(0L)((a, b) => (a << 8) | (dig(o + b) & 0xffL))
      (be(0), be(8))
    }
    val expected = texts.map { case (id, t) =>
      val hs = t.trim.split("\\s+").distinct.map(halves)
      id -> (0 until k).map(i => hs.map { case (h1, h2) => h1 + i * h2 }.min).toSeq
    }
    val fused = docs.select(col("doc_id"),
        VectorExpressions.minhashSigs(toks, k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(fused === expected)
  }

  test("one-pass minhash survives whole-stage codegen (many rows)") {
    val wide = spark.range(500).select(col("id"),
      split(concat_ws(" ", col("id").cast("string"), lit("alpha beta")), " ").as("toks"))
    val sigs = wide.select(VectorExpressions.minhashSigs(col("toks"), 8).as("sig"))
    assert(sigs.count() === 500)
    // deterministic: same tokens -> same signature across runs
    val a = sigs.collect().map(_.getSeq[Long](0).toSeq)
    val b = sigs.collect().map(_.getSeq[Long](0).toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("one-pass simhash matches the vote-aggregate formulation bit-for-bit") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "zz yy xx"), (3L, "single"))
      .toDF("doc_id", "text")
    val toks = array_distinct(split(trim(col("text")), "\\s+"))
    val tokDf = docs.select(col("doc_id"), explode(toks).as("tok"))
      // the md5-derived 64-bit hash, built from SQL primitives alone
      // (two 32-bit halves — conv of 16 hex digits would overflow
      // BIGINT's signed range and null out): the independent
      // formulation of HashUtil.md5Hash64's big-endian first 8 bytes
      .select(col("doc_id"), expr(
        """shiftleft(cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint), 32) |
           cast(conv(substr(md5(tok), 9, 8), 16, 10) as bigint)""").as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i"))
    val old = tokDf.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = docs.select(col("doc_id"),
        VectorExpressions.simhashSig(toks).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === old)
  }

  test("one-pass sign-LSH matches the aggregate/zip_with formulation bit-for-bit") {
    val planes = 10
    val vecs = Seq((1L, Seq(0.3, -1.2, 0.8, 2.1)), (2L, Seq(-0.5, 0.0, 1.5, -2.0)))
      .toDF("id", "vec")
    val old = vecs.select(col("id"),
        (0 until planes).map { p =>
          val d = aggregate(zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
            (x, j) => x * (pmod(xxhash64(lit(p), j), lit(2000001L)) / 1000000.0 - 1.0)),
            lit(0.0), (acc, x) => acc + x)
          when(d > 0, 1L << p).otherwise(0L)
        }.reduce(_ + _).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = vecs.select(col("id"),
        VectorExpressions.signLsh(col("vec"), planes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === old)
  }

  test("GraftExtensions injects without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }

  test("graft_dot registers as a SQL function") {
    VectorExpressions.register(spark)
    df.createOrReplaceTempView("vecs")
    val out = spark.sql("SELECT id, graft_dot(a, b) AS d FROM vecs ORDER BY id")
      .collect().map(_.getDouble(1)).toSeq
    assert(out === Seq(32.0, 0.0))
  }

  test("wrong arity raises AnalysisException naming the function, not IOOBE") {
    VectorExpressions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(e.getMessage.contains("graft_dot"), e.getMessage)
    assert(e.getMessage.contains("2"), e.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cosine(array(1.0d), array(1.0d), array(1.0d))").collect()
    }
    assert(e3.getMessage.contains("graft_cosine"), e3.getMessage)
  }

  test("GraftExtensions injects the functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // also forces the shared session to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a NEW SparkSession over the same SparkContext: extensions apply at
    // session construction. (The spark.sql.extensions CONF route is the
    // same class but is a static conf — it must be set when the
    // SparkContext starts, which a shared test context can't redo —
    // so exercise the equivalent builder injection here.)
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val c = s2.sql(
        "SELECT round(graft_cosine(array(3.0d, 4.0d), array(3.0d, 4.0d)), 6) AS c")
        .head().getDouble(0)
      assert(c === 1.0)
      val d = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(d === 11.0)
      // the extension also injects the job-free local broadcast
      val joined = s2.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b') AS l(k, v) " +
        "JOIN VALUES (1, 'x') AS r(k2, w) ON k = k2")
      assert(joined.collect().map(_.getString(3)).toSeq === Seq("x"))
      assert(collect(joined.queryExecution.executedPlan) {
        case p: org.apache.spark.sql.graft.LocalBroadcastExec => p
      }.size === 1, joined.queryExecution.executedPlan)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
