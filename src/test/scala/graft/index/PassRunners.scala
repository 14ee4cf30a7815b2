package graft.index

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The stats pass's two runners, for specs that run a case on each: the
  * driver, for files that fit one scan task at the default sizes, and a
  * Spark job, forced by shrinking `spark.sql.files.maxPartitionBytes` to
  * the open cost, so that every file costs more than a task takes. */
object PassRunners {
  val All: Seq[String] = Seq("driver", "spark")

  /** A test's name on `runner`: the driver's is the plain name. */
  def named(name: String, runner: String): String =
    if (runner == "driver") name else s"$name (Spark runner)"

  def on[T](spark: SparkSession, runner: String)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    if (runner == "spark") spark.conf.set(key, spark.conf.get("spark.sql.files.openCostInBytes"))
    try body finally spark.conf.unset(key)
  }

  /** Spark jobs started by `body`. */
  def jobs(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }
}
