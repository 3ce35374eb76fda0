package graft

import org.apache.spark.sql.graft.{ColumnBridge, DotProductF, GraftFunctions}
import org.apache.spark.sql.functions._

/** The codegen'd `dot_f` Catalyst expression: bitwise agreement with the
  * higher-order-function formulation it replaced (which is what the DuckDB
  * oracles mirror), plan shape, and SQL registration. */
class DotProductSpec extends SparkSpec {

  private def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    ColumnBridge.column(DotProductF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private lazy val vecs = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() * 2 - 1), Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("a", "b")
  }

  test("dot_f equals the left-folded HOF dot product bitwise") {
    import spark.implicits._
    val hof = "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    val rows = vecs.select(dotF(col("a"), col("b")).as("n"), expr(hof).as("h"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("plan uses the native expression (no ScalaUDF, inside codegen)") {
    // spark.range (not a LocalRelation) so the projection survives into the
    // physical plan instead of being constant-folded away
    val mk = (off: Int) => array((0 until 4).map(i => (col("id") + i + off).cast("float")): _*)
    val df = spark.range(8).select(dotF(mk(0), mk(2)).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dot_f"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(df.count() == 8)
  }

  test("dot_f is callable from SQL after registration; null-safe") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("vecs_dot")
    val n = spark.sql("SELECT dot_f(a, b) AS d FROM vecs_dot").count()
    assert(n == 200)
    val r = spark.sql("SELECT dot_f(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").first()
    assert(r.isNullAt(0))
  }

  test("every GraftFunctions.table function is callable from SQL on the graft session") {
    GraftFunctions.table.foreach { case (name, _) =>
      assert(spark.catalog.functionExists(name), s"$name missing from the graft session")
    }
    val row = spark.sql(
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
