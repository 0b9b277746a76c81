package graft

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). Four cores
  * whatever the box, so spec job counts and plan shapes do not move.
  */
trait SparkSpec extends AnyFunSuite {
  import SparkSpec.Tally

  lazy val spark: SparkSession = GraftSession.local(4)

  val sf = "/root/testdata/sf0.001"

  /** `body`'s result and a [[Tally]] of the Spark work it started: one
    * listener on the session's bus, drained before `body` runs (so
    * earlier events stay out) and after (so every event of `body` is
    * in). Work on other threads during `body` is counted too.
    */
  def metered[T](body: => T): (T, Tally) = {
    val jobs = mutable.ArrayBuffer.empty[String]
    val stages, inBytes, inRecords, shRead, shWrite, outBytes = new LongAdder
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach { m =>
          stages.increment()
          inBytes.add(m.inputMetrics.bytesRead)
          inRecords.add(m.inputMetrics.recordsRead)
          shRead.add(m.shuffleReadMetrics.totalBytesRead)
          shWrite.add(m.shuffleWriteMetrics.bytesWritten)
          outBytes.add(m.outputMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(l)
    val r =
      try { val r = body; org.apache.spark.SpecBus.drain(sc); r }
      finally sc.removeSparkListener(l)
    val t = Tally(jobs.synchronized(jobs.toSeq), stages.sum, inBytes.sum,
      inRecords.sum, shRead.sum, shWrite.sum, outBytes.sum)
    (r, t)
  }
}

object SparkSpec {
  /** The Spark work of one [[SparkSpec.metered]] block: each started
    * job's description (`spark.job.description`, else its first
    * stage's name) in start order, and the sums over its completed
    * stages.
    */
  final case class Tally(jobs: Seq[String], stages: Long,
      inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, outputBytes: Long)
}
