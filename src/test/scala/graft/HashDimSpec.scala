package graft

import org.apache.spark.sql.functions._

/** Pins the fused HashedDim expression (r15) to the SQL arithmetic it
  * replaces — `pmod(conv(substring(md5(tok), 1, 8), 16, 10)::long, d)`
  * — the hashing-trick dim every embedding/DSIR path and the DuckDB
  * oracle derive. Any drift here silently re-buckets every hash
  * embedding, so the equality is asserted value-for-value over random
  * tokens (unicode included) at several dims. */
class HashDimSpec extends SparkSpec {

  test("HashedDim == pmod(conv(substring(md5,1,8),16,10), d) for random tokens") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val toks = (1 to 20000).map { _ =>
      val n = 1 + rnd.nextInt(12)
      new String((1 to n).map(_ => (rnd.nextInt(0x2fff) + 1).toChar).toArray)
    } ++ Seq("", "a", "hello", "müller", "日本語", "")
    val df = toks.toDF("tok")
    for (d <- Seq(64, 1024, 7)) {
      val bad = df.select(
          graft.functions.VectorExpressions.hashedDim(col("tok"), d).as("fused"),
          pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
            lit(d.toLong)).as("sql"))
        .filter(col("fused") =!= col("sql"))
        .count()
      assert(bad === 0L, s"dims=$d: fused dim diverged from the SQL form")
    }
  }
}
