package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ExtensionsTestShim
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * `getOrCreate` returns the same session across suites in the forked
  * test JVM, which keeps `sbt test` fast).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"
  def tempDir(kind: String): java.nio.file.Path = SparkSuite.tempDir(kind)

  /** Spark jobs started while `body` runs. Suites run sequentially in
    * the forked test JVM, so the count is this body's alone.
    */
  def jobsDuring(body: => Any): Int =
    eventsDuring[SparkListenerJobStart](body).size

  /** The `E` events posted to the listener bus while `body` runs, in
    * posting order: job or stage starts, say, or the operators'
    * [[graft.operators.BucketCapEvent]]s, including those a
    * `QueryExecutionListener` posts when an action of `body` succeeds.
    * Listener events are async: the bus is drained before returning.
    */
  def eventsDuring[E <: SparkListenerEvent: ClassTag](body: => Any): Seq[E] = {
    val events = new ConcurrentLinkedQueue[E]()
    val l = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case x: E => events.add(x); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ExtensionsTestShim.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    events.asScala.toSeq
  }
}

object SparkSuite {

  /** A fresh, empty dir `<kind>_<n>` for one test's files, under
    * the fixture-artifact root that is deleted at JVM exit — so a test
    * run leaves no temp dir behind.
    */
  def tempDir(kind: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.queries.PerFixture.scratch(kind))

  lazy val session: SparkSession = {
    val s = SparkEntry.session(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        tempDir("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Task-level ERROR traces are redundant in local-mode tests:
    // every real failure propagates to the driver and fails its test
    // with the same stack, so the executor/scheduler/stream-engine
    // duplicates only bury real failures in the 1000+-test log —
    // especially around tests that INTERCEPT expected errors
    // (raise_error guards, refusal contracts, expected stream
    // aborts), which used to print full QueryExecutionErrors traces
    // from passing suites. Driver-side WARN+ from everything else
    // stays visible.
    Seq(
      "org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager",
      // DAGScheduler: "Failed to update accumulator (Unknown class)"
      // one-liners from updates racing an expected job abort, plus
      // "Failed to cancel job group" WARN chatter on stream stops
      "org.apache.spark.scheduler.DAGScheduler",
      "org.apache.spark.util.Utils",
      "org.apache.spark.broadcast.TorrentBroadcast",
      "org.apache.spark.sql.execution.datasources.FileFormatWriter",
      // V2 write abort bookkeeping ("is aborting"/"aborted") around
      // expected streaming-epoch failures
      "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
      // task-side twin of the above ("Aborting commit for partition
      // N") — fires only when an expected job abort catches tasks
      // still in flight, so it appears or not by scheduling luck
      "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
      // "Error occurred while fetching local blocks, null" teardown
      // race when a stop() lands mid-fetch; the failure, if real,
      // still surfaces as the task's own exception
      "org.apache.spark.storage.ShuffleBlockFetcherIterator",
      "org.apache.spark.sql.execution.streaming.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution"
    ).foreach(l => org.apache.logging.log4j.core.config.Configurator
      .setLevel(l, org.apache.logging.log4j.Level.FATAL))
    s
  }
}
