package graft

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work launched by one driver call, for budget and plan-shape
  * specs: the jobs it started (their call sites) and the executed
  * plans of the queries it ran. */
object JobCount {

  final case class Run[T](result: T, jobs: Seq[String], plans: Seq[String])

  def of[T](spark: SparkSession)(body: => T): Run[T] = {
    val sc = spark.sparkContext
    ListenerBusShim.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.map(_.name).mkString(" | ")); ()
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val r = body
      ListenerBusShim.drain(sc)
      import scala.jdk.CollectionConverters._
      Run(r, jobs.asScala.toSeq, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
  }
}
