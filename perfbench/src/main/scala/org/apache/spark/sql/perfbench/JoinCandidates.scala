package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions.{col, sum}

/** Candidate pairs of an equi-join: the row pairs with equal keys, which
  * the join compares before its residual condition drops most of them.
  * Spark counts only the rows that survive the condition, so the benchmark
  * counts the pairs itself from the join's own inputs in the program's
  * optimized plan: per key value, left rows times right rows. Building a
  * frame from a logical plan is internal to `org.apache.spark.sql`, hence
  * the package.
  */
object JoinCandidates {
  def apply(spark: SparkSession, join: Join): Long = ExtractEquiJoinKeys.unapply(join) match {
    case None => 0L
    case Some(k) =>
      val s = spark.asInstanceOf[classic.SparkSession]
      val names = k._2.indices.map(i => s"k$i")
      def perKey(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          side: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String): DataFrame =
        classic.Dataset.ofRows(s, Project(keys.zip(names).map { case (e, a) => Alias(e, a)() }, side))
          .groupBy(names.map(col): _*).count().withColumnRenamed("count", n)
      val row = perKey(k._2, k._6, "l").join(perKey(k._3, k._7, "r"), names)
        .select(sum(col("l") * col("r"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
  }
}
