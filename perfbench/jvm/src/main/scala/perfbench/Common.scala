package perfbench

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** The session every workload runs in: one JVM, `local[cpus]`, the graft
  * plan tier registered at build time, the same SQL settings the repo's
  * own Bench uses at sf0.1. */
object Session {
  def build(cpus: Int, localDir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus.toString)
      .config("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
    // Static confs: every session the engine forks (streaming jobs run in
    // child sessions) instantiates these listeners too.
    if (trace) b
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // No .crc sidecars on local writes, as in the repo's Bench and Verify.
    val fs = FileSystem.get(new URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }
}

/** An order-insensitive fingerprint of a query's whole result: row count
  * plus the wrapping sum of a 64-bit hash of every row's bytes. It runs
  * the DataFrame's own physical plan, so nothing the result computes is
  * pruned away (a `count()` plan drops every projection it does not
  * need), and only two numbers per partition reach the driver. */
final case class Fp(rows: Long, hash: Long) {
  def render: String = f"$rows:$hash%016x"
}

object Fingerprint {
  def of(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    Fp(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** Host and process counters from /proc, read around each timed op. */
object Host {
  private def ticks(path: String): Array[String] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.US_ASCII)
      .trim.split("\\s+")

  /** This process's CPU ticks: user + system, reaped children included. */
  def selfTicks(): Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.US_ASCII)
    val f = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
    // fields after the command: state is index 0, utime is field 14 (11)
    f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
  }

  /** Host-wide busy ticks (everything but idle and iowait). */
  def hostBusyTicks(): Long = {
    val cpu = ticks("/proc/stat").drop(1).take(8).map(_.toLong)
    cpu.sum - cpu(3) - cpu(4)
  }

  def loadAvg1(): Double = ticks("/proc/loadavg")(0).toDouble

  val TicksPerSec = 100.0
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)
  def write(path: String, v: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, v)
}
