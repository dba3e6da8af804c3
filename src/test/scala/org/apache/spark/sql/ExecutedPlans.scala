package org.apache.spark.sql

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the physical plan of every action a block runs on a session.
  *
  * A gate that collects inside its own call (`graft.CallScope.local`)
  * returns a driver-local frame whose plan is a bare LocalTableScan; the
  * plans that did the work ran inside the call, and only a listener
  * sees them. Listener events arrive on Spark's asynchronous listener
  * bus, whose drain (`waitUntilEmpty`) is `private[spark]` — hence this
  * package.
  */
object ExecutedPlans {

  /** Run `body`; return its result and the executed plans of the
    * actions it ran on `s`, in completion order. */
  def during[A](s: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val session = s.asInstanceOf[classic.SparkSession]
    val bus = session.sparkContext.listenerBus
    val seen = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    bus.waitUntilEmpty() // earlier actions' events are not this block's
    session.listenerManager.register(listener)
    try {
      val result = body
      bus.waitUntilEmpty()
      (result, seen.asScala.toSeq)
    } finally session.listenerManager.unregister(listener)
  }
}
