package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One timed op's record. `err` is set when the op threw or its output
  * check failed; `facts` carries op-specific numbers (rows landed, rows
  * read, chunk counts, ...). */
final case class OpRec(name: String, module: String, kind: String,
                       startMs: Double, endMs: Double, cpuTicks: Long,
                       busyTicks: Long, compiles: Long, err: Option[String],
                       facts: Map[String, Double], stats: OpStats,
                       calls: Seq[Span]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Runs ops one after another (a closed loop with one client), timing
  * each and checking its output after the clock stops. With `traced`,
  * listener events are attributed to the op and the bus is drained
  * after it. */
final class Runner(spark: SparkSession, traced: Boolean) {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  private var calls = mutable.ArrayBuffer.empty[Span]
  private var opName = ""

  private def nowMs: Double = System.nanoTime() / 1e6 + Runner.epochOffsetMs

  /** A public-call span inside the current op (traced runs only). */
  def call[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = nowMs
      try body finally calls += Span(opName, name, opName, t0, nowMs)
    }

  /** Time `body`, then run `check` on its value outside the clock.
    * `check` returns the op's facts or throws to fail the op. */
  def op[T](name: String, module: String, kind: String)(body: => T)(
      check: T => Map[String, Double]): Unit = {
    val stats = new OpStats
    opName = name
    calls = mutable.ArrayBuffer.empty[Span]
    if (traced) Trace.current = stats
    val comp0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val read0 = Runner.fsBytesRead()
    val cpu0 = Host.selfTicks()
    val busy0 = Host.hostBusyTicks()
    val t0 = nowMs
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs
    val cpu = Host.selfTicks() - cpu0
    val busy = Host.hostBusyTicks() - busy0
    val comp = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - comp0
    val read = Runner.fsBytesRead() - read0
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      Trace.current = null
    }
    val (err, facts) = res match {
      case Left(e) => (Some(s"threw: ${Runner.msg(e)}"), Map.empty[String, Double])
      case Right(v) =>
        try (None, check(v))
        catch { case e: Throwable => (Some(s"check: ${Runner.msg(e)}"), Map.empty[String, Double]) }
    }
    err.foreach(e => System.err.println(s"[perfbench] $name FAILED $e"))
    recs += OpRec(name, module, kind, t0, t1, cpu, busy, comp, err,
      facts + ("fs_bytes_read" -> read.toDouble), stats, calls.toSeq)
  }
}

object Runner {
  /** Maps the monotonic clock onto epoch milliseconds once, so op spans
    * line up with Spark's event times without jumping with the wall
    * clock during a run. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Bytes read through Hadoop filesystems by this JVM so far: in local
    * mode the driver's and every task's reads, the source's manifest and
    * chunk reads included. */
  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)).sum

  def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)
}
