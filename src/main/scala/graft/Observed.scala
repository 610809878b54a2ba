package graft

import java.util.UUID
import java.util.concurrent.TimeUnit

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Row counts that ride on an action the caller takes anyway: a
 * `Dataset.observe` under a unique name, read back by a query
 * listener, so the count submits no Spark job of its own.
 *
 * Spark's `Observation` is not used: it creates the session's
 * `ObservationManager`, which is not serializable, and from then on
 * every task closure that captures the session (an MLlib model's
 * training summary does) fails with `Task not serializable`.
 */
object Observed {

  /** `action` on `df` with its rows counted on the way through: the
    * action's result and the count. */
  def rows[T](df: DataFrame)(action: DataFrame => T): (T, Long) = {
    val name = s"rows-${UUID.randomUUID()}"
    val counted = Promise[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(r => counted.trySuccess(r.getLong(0)))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    try {
      val out = action(df.observe(name, count(lit(1))))
      // the listener bus delivers the metrics after the action returns
      (out, Await.result(counted.future, Duration(10, TimeUnit.MINUTES)))
    } finally listeners.unregister(listener)
  }
}
