package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites: [[Core.session]], the
  * one every entry point runs under. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf = "/root/testdata/sf0.001"

  /** Runs `body` and returns, for each job it started, whether it ran
    * inside a SQL action (see [[executionsUnder]]). Writes and actions
    * always do; parquet schema inference on `read.parquet` runs its
    * footer job outside one, at planning time. */
  protected def jobsUnder[T](body: => T): (T, Seq[Boolean]) = {
    val (out, executions) = executionsUnder(body)
    (out, executions.map(_.isDefined))
  }

  /** [[jobsUnder]] with the SQL execution id of each job (None for a
    * job outside one), so a spec can count the actions `body` ran.
    * Jobs are matched by a local property, which threads started in
    * `body` inherit, so a streaming query's batches count too. A
    * streaming batch is itself an execution, and every action its
    * `foreachBatch` function runs opens an execution nested under it:
    * a job that ran directly in a batch execution with nested ones,
    * such as a footer-inference job, belongs to no action and reports
    * None. A sentinel job drains the listener bus, which delivers
    * events in order. */
  protected def executionsUnder[T](body: => T): (T, Seq[Option[String]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val key = "graft.spec.scope"
    val scope = s"jobs-under-${System.nanoTime}"
    val sentinel = s"$scope-end"
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val nestingRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty(key)).orNull match {
          case `scope` =>
            executions.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
          case `sentinel` => drained.countDown()
          case _ =>
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          x.rootExecutionId.filter(_ != x.executionId).foreach(r => nestingRoots.add(r.toString))
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, scope)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (out, executions.asScala.toSeq.map(_.filterNot(nestingRoots.contains)))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Four cores on any host: the suites do not read SPARK_GRAFT_CPUS. */
  lazy val session: SparkSession = Core.session(4)
}
