package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session
  * across the forked test run; nobody stops it so suite order is free).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
  // relative to the checkout the suite runs from (sbt forks tests in the
  // project directory), so two checkouts never share an output tree
  val testOut: String = java.nio.file.Paths.get("target", "test-out").toAbsolutePath.toString

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores the key's previous value, or unsets it if it had none.
    */
  protected def withConf[T](kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** ACTIONS `body` fires, not jobs: AQE materializes every shuffle stage
    * as its own job, so a single collect over a join tree is many jobs —
    * the QueryExecutionListener fires exactly once per action (collect /
    * checkpoint). The listener bus posts async; settle until two
    * consecutive reads agree (actions are blocking, so every event is
    * queued when the body returns).
    */
  protected def actionsIn(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        actions.incrementAndGet()
    }
    def settled(): Int = {
      var last = -1
      var cur = actions.get()
      while (cur != last) { Thread.sleep(200); last = cur; cur = actions.get() }
      cur
    }
    spark.listenerManager.register(listener)
    try {
      val before = settled()
      body
      settled() - before
    } finally spark.listenerManager.unregister(listener)
  }
}
