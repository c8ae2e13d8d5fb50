package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The benchmark's JVM side, launched by perfbench/run.py:
  *
  *   run       key=value...  warm up, then time one workload's ops
  *   expect    key=value...  dump fixture results for the oracle compare
  *   plancheck key=value...  what the timed action evaluates vs count()
  */
object Main extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val code =
      try {
        args.headOption match {
          case Some("run") => run(opts)
          case Some("expect") => expect(opts)
          case Some("plancheck") => planCheck(opts)
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    sys.exit(code)
  }

  private def session(opts: Map[String, String], trace: Boolean): SparkSession = {
    val spark = Session.build(opts("cpus").toInt, opts("local_dir"), trace)
    if (trace) spark.sparkContext.addSparkListener(Trace.Jobs)
    spark
  }

  private def keys(spec: JsonNode, field: String): Seq[String] =
    spec.get(field).elements().asScala.map(_.asText()).toSeq

  def run(opts: Map[String, String]): Unit = {
    val trace = opts("trace") == "1"
    val spec = Json.read(opts("spec"))
    val work = opts("work")
    val spark = session(opts, trace)
    val sessionMs = System.currentTimeMillis()
    val workload = opts("workload")
    val warm = new Runner(spark, false)
    val pass: Runner => Unit = workload match {
      case "backup_spine" =>
        val timedSpec = spec.get("timed")
        BackupOps.run(spark, warm, spec.get("warm"), s"$work/warm")
        r => BackupOps.run(spark, r, timedSpec, s"$work/timed")
      case _ =>
        val expect = Json.read(opts("expect"))
        val ks = keys(spec, "keys")
        FixtureOps.run(spark, warm, ks, opts("fixtures"), expect)
        r => FixtureOps.run(spark, r, ks, opts("fixtures"), expect)
    }
    val setupDoneMs = System.currentTimeMillis()

    // A traced run times the same ops with listeners attached; with
    // `baseline=1` it first times them untraced too, for the overhead.
    val plain = if (!trace || opts.get("baseline").contains("1")) {
      val r = new Runner(spark, false)
      pass(r)
      Some(r)
    } else None
    val traced = if (trace) {
      val r = new Runner(spark, true)
      pass(r)
      Some(r)
    } else None
    val timed = traced.orElse(plain).get

    // Spark's ContextCleaner frees shuffle and broadcast blocks only after
    // a GC has collected their handles, so collect until that settles
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMib = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val (e2e, side) = Metrics.endToEnd(timed.recs.toSeq)
    val out = Json.mapper.createObjectNode()
    out.put("setup_done_ms", setupDoneMs)
    out.put("jvm_start_ms",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    out.put("session_ms", sessionMs)
    out.put("load1", Host.loadAvg1())
    out.put("attempted", timed.recs.size)
    out.put("failed", timed.recs.count(_.err.isDefined))
    val failures = out.putArray("failures")
    timed.recs.filter(_.err.isDefined).foreach(r => failures.add(s"${r.name}: ${r.err.get}"))
    val metrics = out.putObject("metrics")
    val sideOut = out.putObject("side")
    side.foreach { case (k, v) => sideOut.put(k, v) }
    sideOut.put("wall_s", e2e("wall_s"))
    // where the warm pass spent set-up time: per query, or per op kind
    val warmBy = sideOut.putObject("setup_warm_ops_s")
    warm.recs.groupBy(r => if (r.kind == "query") r.name else r.kind).toSeq
      .sortBy(_._1).foreach { case (k, rs) => warmBy.put(k, rs.map(_.seconds).sum) }
    plain.foreach(p => sideOut.put("untraced_wall_s", p.recs.map(_.seconds).sum))
    traced match {
      case None =>
        e2e.foreach { case (k, v) => metrics.put(k, v) }
        metrics.put("heap_live_mib", heapMib)
      case Some(t) =>
        Metrics.perLayer(t.recs.toSeq).foreach { case (k, v) => metrics.put(k, v) }
        val spans = Metrics.spans(t.recs.toSeq)
        Files.write(Paths.get(s"$work/spans.jsonl"), spans.map { s =>
          val n = Json.mapper.createObjectNode()
          n.put("op", s.op).put("name", s.name).put("parent", s.parent)
            .put("start_ms", s.start).put("end_ms", s.end)
          Json.mapper.writeValueAsString(n)
        }.asJava)
    }
    Json.write(opts("out"), out)
    spark.stop()
  }

  def expect(opts: Map[String, String]): Unit = {
    val spark = session(opts, trace = false)
    FixtureOps.expect(spark, keys(Json.read(opts("spec")), "keys"),
      opts("fixtures"), opts("out"))
    spark.stop()
  }

  private def exprClasses(nodes: Seq[QueryPlan[_]]): Set[String] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getName }))
      .toSet

  private def physical(df: DataFrame): Set[String] =
    exprClasses(collectWithSubqueries(df.queryExecution.executedPlan) { case n => n })

  private def logical(df: DataFrame): Set[String] =
    exprClasses(df.queryExecution.optimizedPlan.collectWithSubqueries { case n => n })

  /** For each key: the expression classes the executed `count()` plan
    * drops, and whether the timed action's executed plan keeps them. */
  def planCheck(opts: Map[String, String]): Unit = {
    val spark = session(opts, trace = false)
    val out = Json.mapper.createObjectNode()
    opts("keys").split(",").foreach { k =>
      val counted = Modules.of(k)._2.fn(spark, opts("fixtures")).groupBy().count()
      counted.collect()
      val df = Modules.of(k)._2.fn(spark, opts("fixtures"))
      Fingerprint.of(df)
      val dropped = logical(df) -- logical(counted)
      val timed = physical(df)
      val node = out.putObject(k)
      def put(name: String, xs: Set[String]): Unit = {
        val a = node.putArray(name)
        xs.toSeq.sorted.foreach(a.add)
      }
      put("dropped_by_count", dropped)
      put("missing_from_timed", dropped.filterNot(timed))
      put("physical_dropped_by_count", timed -- physical(counted))
      FixtureOps.cleanup(spark)
    }
    Json.write(opts("out"), out)
    spark.stop()
  }
}
