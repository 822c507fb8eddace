package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class RanksSpec extends AnyFunSuite with SparkSpec {

  test("globalRank reproduces the global window rank exactly") {
    import spark.implicits._
    // keys deliberately out of order and spread over all buckets
    val rows = (1 to 997).map(i => s"IMG_${(i * 7919) % 1009}.png").distinct
    val df = rows.toDF("name").repartition(7)
    val got = Ranks.globalRank(df, Exprs.naturalKey(col("name")))
      .select("name", "rank")
    val want = df.withColumn("rank",
      row_number().over(Window.orderBy(Exprs.naturalKey(col("name")))).cast("long"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "distributed rank diverged from the single-partition window rank")
  }

  test("globalRank reports its measured row count to the planner") {
    import spark.implicits._
    val df = (1 to 997).map(i => s"IMG_${(i * 7919) % 1009}.png").distinct.toDF("name").repartition(7)
    val got = Ranks.globalRank(df, Exprs.naturalKey(col("name")))
    val st = got.queryExecution.optimizedPlan.stats
    val n = df.count()
    assert(st.rowCount.contains(BigInt(n)), st.toString)
    assert(st.sizeInBytes < BigInt(Long.MaxValue), st.toString)
    assert(got.count() == n)
  }

  test("q11 executed plan has no single-partition exchange") {
    val df = graft.Queries.queries("q11_o1_natural_rank")(spark, "/root/testdata/sf0.001")
    df.collect() // force AQE finalization
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"q11 still funnels through one task:\n$plan")
  }
}
