package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftFunctions

/** The injected optimizer rule must lower the declarative HOF dot product
  * to the DotProductF kernel — same values, no ArrayAggregate left in the
  * optimized plan — and must NOT touch shapes that aren't dot products. */
class DotProductRewriteSpec extends SparkSpec {

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  private def withExtendedSession[T](f: SparkSession => T): T = {
    val base = spark // materialize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("HOF dot product lowers to dot_f; values identical; non-dot shapes untouched") {
    withExtendedSession { s =>
      import s.implicits._
      val df = Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        (Array(0.5f, -1.5f, 2.25f), Array(8.0f, 0.25f, -4.0f)))
        .toDF("a", "b")
      // plan inspection needs a non-local source (ConvertToLocalRelation
      // folds a Seq-backed projection away before we can look at it)
      val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("embedding AS a", "embedding AS b")
      val optimized = emb.selectExpr(s"$hof AS d").queryExecution.optimizedPlan.toString
      assert(optimized.contains("dot_f"), optimized)
      assert(!optimized.contains("aggregate("), optimized)
      val lowered = df.selectExpr(s"$hof AS d")

      // values equal the direct kernel call and the hand-computed sums
      val viaRule = lowered.collect().map(_.getDouble(0)).toSeq
      val direct = df.selectExpr("dot_f(a, b) AS d").collect().map(_.getDouble(0)).toSeq
      assert(viaRule == direct)
      assert(viaRule == Seq(1.0 * 4 + 2 * 5 + 3 * 6, 0.5 * 8 + (-1.5) * 0.25 + 2.25 * (-4.0)))

      // a same-shaped fold that is NOT a dot product must survive unchanged
      val sumText =
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
      assert(!emb.selectExpr(s"$sumText AS sums").queryExecution.optimizedPlan.toString.contains("dot_f"))
      assert(df.selectExpr(s"$sumText AS sums").collect().map(_.getDouble(0)).toSeq == Seq(21.0, 5.5))

      // null/length-mismatch parity with the HOF semantics: both give NULL
      val mism = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      assert(mism.selectExpr(s"$hof AS d").collect()(0).isNullAt(0))

      // the extension injects the same function table register() installs
      GraftFunctions.table.foreach { case (name, _) =>
        assert(s.catalog.functionExists(name), s"$name missing from the extension session")
      }
      val row = s.sql(
        """SELECT js_num(CAST(78990.0 AS DOUBLE)), dot_fl(array(1.0F, 2.0F), array(3L, 4L)),
          |  size(shingle_hash32('a b c d')), size(passage_hash('a b c d', 2)),
          |  gopher_stats('a b a').n_words, type_freq('a b a'), topk_min(id, 2),
          |  simhash_agg(id, 8) IS NOT NULL
          |FROM range(3)""".stripMargin).collect()(0)
      assert(row.getString(0) == "78990")
      assert(row.getDouble(1) == 11.0)
      assert((row.getInt(2), row.getInt(3), row.getLong(4)) == ((2, 3, 3L)))
      assert(row.getSeq[org.apache.spark.sql.Row](5).map(r => (r.getString(0), r.getLong(1))) ==
        Seq(("a", 2L), ("b", 1L)))
      assert(row.getSeq[Long](6) == Seq(0L, 1L))
      assert(row.getBoolean(7))
    }
  }
}
