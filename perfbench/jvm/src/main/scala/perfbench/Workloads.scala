package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.BackupConfig
import graft.operators.{Backup, Restore}
import graft.queries._

/** The `*Queries` modules SparkEntry.defs is the union of. An op looks
  * its key up module by module, the similarity module last: building
  * that module's definitions trains the IVF/PQ/k-means codebooks, which
  * a workload without similarity queries should not pay for. */
object Modules {
  private val modules: Seq[(String, () => Map[String, QueryDef])] = Seq(
    "tpch" -> (() => TpchQueries.defs), "sqlsurface" -> (() => SqlSurfaceQueries.defs),
    "timeseries" -> (() => TimeSeriesQueries.defs), "bucket" -> (() => BucketQueries.defs),
    "cbo" -> (() => CboQueries.defs), "dedup" -> (() => DedupQueries.defs),
    "text" -> (() => TextQueries.defs), "pipeline" -> (() => PipelineQueries.defs),
    "streaming" -> (() => StreamingQueries.defs), "ref" -> (() => RefQueries.defs),
    "source" -> (() => SourceQueries.defs),
    "similarity" -> (() => SimilarityQueries.defs))

  val all: Seq[String] = modules.map(_._1)

  /** The module and definition of one SparkEntry key. */
  def of(key: String): (String, QueryDef) =
    modules.iterator.flatMap { case (m, defs) => defs().get(key).map(m -> _) }
      .nextOption().getOrElse(throw new NoSuchElementException(s"no query $key"))
}

/** The fixture workload (query_suite): each op builds one
  * SparkEntry query — for an s-query that starts, drains and stops its
  * streaming job — and fingerprints its full result. */
object FixtureOps {
  /** Drop per-query state between ops (caches, temp views), as the
    * repo's Verify does, so no op runs under an earlier op's weight. */
  def cleanup(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    } catch { case scala.util.control.NonFatal(_) => () }

  def run(spark: SparkSession, runner: Runner, keys: Seq[String],
          fixtures: String, expect: JsonNode): Unit = {
    keys.foreach { k =>
      val (module, q) = Modules.of(k)
      runner.op(k, module, "query") {
        val df = runner.call("SparkEntry.defs.fn")(q.fn(spark, fixtures))
        runner.call("fingerprint")(Fingerprint.of(df))
      } { fp =>
        check(expect, k, fp)
        Map("rows" -> fp.rows.toDouble)
      }
      cleanup(spark)
    }
  }

  /** The expected value comes from the DuckDB oracle check made once per
    * checkout: a fingerprint when the oracle matched, a row count for a
    * query with no oracle, an error when the oracle disagreed. */
  def check(expect: JsonNode, key: String, fp: Fp): Unit = {
    val e = Option(expect).flatMap(x => Option(x.get(key)))
      .getOrElse(throw new IllegalStateException(s"no expected value for $key"))
    if (e.has("error")) throw new IllegalStateException(e.get("error").asText())
    if (e.has("fp")) {
      val want = e.get("fp").asText()
      require(fp.render == want, s"fingerprint ${fp.render} != expected $want")
    } else {
      val want = e.get("rows").asLong()
      require(fp.rows == want, s"rows ${fp.rows} != expected $want")
    }
  }

  /** Dump each result for the oracle compare and record its fingerprint
    * from a second, independent evaluation. */
  def expect(spark: SparkSession, keys: Seq[String], fixtures: String,
             outDir: String): Unit = {
    val out = Json.mapper.createObjectNode()
    keys.foreach { k =>
      val node = out.putObject(k)
      try {
        val q = Modules.of(k)._2
        q.fn(spark, fixtures).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$k")
        cleanup(spark)
        val fp = Fingerprint.of(q.fn(spark, fixtures))
        node.put("fp", fp.render)
        node.put("rows", fp.rows)
        q.oracle.foreach(sql => node.put("oracle", sql))
      } catch {
        case e: Throwable => node.put("error", s"threw: ${Runner.msg(e)}")
      }
      cleanup(spark)
      System.err.println(s"[perfbench] expect $k done")
    }
    Json.write(s"$outDir/expect.json", out)
  }
}

/** backup_spine: the paper's pipeline over a generated events table —
  * Backup.run, read-backs through the graftbackup source, fsck, restore.
  * Expected values come from the generator (computed with numpy over
  * the same rows), never from the engine. */
object BackupOps {
  private val Fmt = java.time.format.DateTimeFormatter.ofPattern(
    "yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSSSS][.SSSS][.SSS][.SS][.S]")

  private def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue()
    case s: String => s.trim.toLong
  }
  private def cents(v: Any): Long = v match {
    case d: java.lang.Double => BigDecimal(d.doubleValue()).*(100).toLongExact
    case d: java.math.BigDecimal => BigDecimal(d).*(100).toLongExact
    case s: String => BigDecimal(s.trim).*(100).toLongExact
  }
  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case t: Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case s: String =>
      val i = LocalDateTime.parse(s.trim, Fmt).toInstant(ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def crc(s: String): Long = {
    val c = new CRC32()
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** "n:Σevent_id:Σuser_id:Σcents:Σts_micros:Σcrc32(props)" — exact sums,
    * the same rendering the generator computes. */
  def rowsFp(rows: Array[Row]): String = {
    var e, u, c, t, p = BigInt(0)
    rows.foreach { r =>
      e += asLong(r.get(0)); t += micros(r.get(1)); u += asLong(r.get(2))
      c += cents(r.get(3)); p += crc(String.valueOf(r.get(4)))
    }
    s"${rows.length}:$e:$u:$c:$t:$p"
  }

  private def dirBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def run(spark: SparkSession, runner: Runner, spec: JsonNode,
          work: String): Unit = {
    val input = spec.get("input").asText()
    val rows = spec.get("rows").asLong()
    val root = s"$work/backup"
    val restored = s"$work/restored"
    val cfg = BackupConfig(input, root, "ts", "event_type",
      Instant.parse(spec.get("from").asText()),
      Instant.parse(spec.get("to").asText()), 1000)

    runner.op("backup", "operators", "backup") {
      runner.call("Backup.run")(Backup.run(spark, cfg, faithfulStrings = true))
    } { res =>
      val landed = res.chunks.map(_.rows).sum
      require(landed == rows, s"backup landed $landed rows, expected $rows")
      val chunkBytes = res.chunks.map(c => Files.size(Paths.get(
        new java.net.URI(c.path).getPath))).sum
      Map("rows" -> landed.toDouble, "chunks" -> res.chunks.size.toDouble,
        "chunk_bytes" -> chunkBytes.toDouble,
        "stored_bytes" -> dirBytes(root).toDouble)
    }

    val src = () => spark.read.format("graftbackup").load(root)
    spec.get("readbacks").elements().asScala.zipWithIndex.foreach { case (rb, i) =>
      val lo = rb.get("lo").asText()
      val hi = rb.get("hi").asText()
      val window = col("ts") >= lit(lo) && col("ts") < lit(hi)
      val matching = Map("matching" -> rb.get("matching").asDouble())
      rb.get("kind").asText() match {
        case "discover" =>
          runner.op(f"discover$i%03d", "sources", "discover") {
            runner.call("graftbackup.read")(
              src().filter(window).select("event_type").distinct().collect())
          } { got =>
            val vals = got.map(_.get(0).toString).sorted.mkString(",")
            val want = rb.get("expect").asText()
            require(vals == want, s"discovered [$vals], expected [$want]")
            matching
          }
        case "extract" =>
          runner.op(f"extract$i%03d", "sources", "extract") {
            runner.call("graftbackup.read")(
              src().filter(window && col("event_type") === rb.get("part").asText())
                .select("event_id", "ts", "user_id", "value", "props")
                .orderBy(col("ts").desc).collect())
          } { got =>
            val ts = got.map(r => micros(r.get(1)))
            require(ts.indices.drop(1).forall(j => ts(j - 1) >= ts(j)),
              "extraction is not ordered by ts descending")
            val fp = rowsFp(got)
            val want = rb.get("expect").asText()
            require(fp == want, s"extraction fingerprint $fp, expected $want")
            matching
          }
      }
    }

    runner.op("fsck", "operators", "fsck") {
      runner.call("Backup.fsck")(Backup.fsck(spark, root, "event_type").collect())
    } { verdicts =>
      val bad = verdicts.count(r => !(r.getAs[Boolean]("readable") &&
        r.getAs[Boolean]("crcOk") && r.getAs[Boolean]("envelopeOk")))
      require(bad == 0, s"fsck reports $bad bad chunks")
      val n = verdicts.map(_.getAs[Long]("rows")).sum
      require(n == rows, s"fsck counted $n rows, expected $rows")
      Map("chunks" -> verdicts.length.toDouble)
    }

    val target = spark.read.parquet(input).schema
    runner.op("restore", "operators", "restore") {
      runner.call("Restore.run")(
        Restore.run(spark, root, target, "event_type", restored))
    } { df =>
      val dec = "decimal(38,0)"
      val r = df.agg(count(lit(1)), sum(col("event_id").cast(dec)),
        sum(col("user_id").cast(dec)),
        sum(round(col("value") * 100).cast("bigint").cast(dec)),
        sum(unix_micros(col("ts")).cast(dec)),
        sum(crc32(col("props").cast("binary")).cast(dec))).head()
      val fp = (0 until 6).map(j => String.valueOf(r.get(j))).mkString(":")
      val want = spec.get("source_fp").asText()
      require(fp == want, s"restored fingerprint $fp, expected $want")
      Map("rows" -> r.getLong(0).toDouble)
    }
  }
}
