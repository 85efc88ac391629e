package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.{QueryExecution, SQLExecutionRDD, SparkPlan}

/** A Dataset read as ONE Spark job. Under adaptive execution `Dataset.rdd`
  * and `queryExecution.toRdd` run every shuffle of the plan, and the fill
  * of a cached input, as a job of its own before the caller's job starts;
  * the plan prepared here (no adaptive execution) runs them as stages of
  * the caller's job. The per-trajectory scan ([[graft.lag.TrajectoryScan]])
  * and the iterative-fit transport ([[Transport]]) read their input
  * through it. */
object PreparedPlan {

  /** `ds`'s physical plan, prepared without adaptive execution. */
  def apply(ds: Dataset[_]): SparkPlan = {
    val qe = ds.queryExecution
    QueryExecution.prepareExecutedPlan(qe.sparkSession, qe.sparkPlan)
  }

  /** The rows of `plan` (prepared from `ds`), outside any SQL execution. */
  def rows(ds: Dataset[_], plan: SparkPlan): RDD[InternalRow] =
    new SQLExecutionRDD(plan.execute(), ds.sparkSession.sessionState.conf)

  /** `ds`'s objects, decoded from the rows of its prepared plan. */
  def objects[T](ds: Dataset[T]): RDD[T] = {
    val plan = apply(ds)
    val enc = encoderFor(ds.encoder).resolveAndBind(plan.output)
    rows(ds, plan).mapPartitions { it =>
      val decode = enc.createDeserializer()
      it.map(decode)
    }(ds.encoder.clsTag)
  }
}
