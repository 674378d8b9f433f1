package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.format.Json
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Everything a workload needs: the session, the fixture it builds its
  * lake tables from, its private work directory, the generated inputs and
  * the tracer that times its calls. */
final case class Ctx(
    spark: SparkSession, fixture: String, work: Path, seconds: Double,
    traceRun: Boolean, in: JsonNode, tracer: Tracer) {

  /** The closed loop's clock: the measured phase ends `seconds` after it
    * starts; a call in flight when time runs out still completes. */
  def deadline(): () => Boolean = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    () => System.nanoTime() >= end
  }

  /** Wall seconds of `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** Benchmark process: `--workload <name> --inputs <json> --out <json>
  * --fixture <dir> --work <dir> --seconds <s> --trace <0|1>`. Runs one
  * workload as a closed loop with one client and writes every timed
  * call (wall, answer digest, spans when traced) to `--out`; the caller
  * checks the answers and derives the metrics. */
object Main {

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .withExtensions(new graft.sqlext.LakeSqlExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.locality.wait", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.warehouse", work.resolve("lake").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val sessionS = {
      val t0 = System.nanoTime()
      session(work)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    val traceRun = a("trace") == "1"
    val timeline = new SparkTimeline
    if (traceRun) spark.sparkContext.addSparkListener(timeline)
    val tracer = new Tracer(traceRun)
    val ctx = Ctx(spark, a("fixture"), work, a("seconds").toDouble, traceRun,
      Json.mapper.readTree(Files.readString(Paths.get(a("inputs")))), tracer)
    val jvm = new JvmProbe
    val out = try a("workload") match {
      case "point_reads" => PointReads.run(ctx, jvm)
      case "analytics"   => Analytics.run(ctx, jvm)
      case "dml_ingest"  => DmlIngest.run(ctx, jvm)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally tracer.close()
    val jvmJson = jvm.toJson
    // listener events are delivered asynchronously: let the bus drain
    if (traceRun) Thread.sleep(500)
    Files.writeString(Paths.get(a("out")), Json.write(Map(
      "jvm_boot_s" -> bootS,
      "session_s" -> sessionS,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "workload" -> out,
      "jvm" -> jvmJson,
      "timeline" -> (if (traceRun) timeline.toJson else Map.empty),
      "ops" -> tracer.ops.map(_.toJson))))
    spark.stop()
  }

  // ------------------------------------------------------------ helpers

  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def long(n: JsonNode, k: String): Long = n.get(k).asLong()
  def seq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def strs(n: JsonNode): Seq[String] = seq(n).map(_.asText())

  /** Order-insensitive answer digest of a lookup's rows, whose columns
    * are (key: long, amount: double, tag: string): row count, key sum,
    * amount sum in cents, non-null tag count. */
  def lookupDigest(rows: Array[Row]): Seq[Long] = Seq(
    rows.length.toLong,
    rows.iterator.map(r => r.getAs[Number](0).longValue).sum,
    rows.iterator.map(r => math.round(r.getDouble(1) * 100)).sum,
    rows.count(r => !r.isNullAt(2)).toLong)

  /** Order-insensitive digest of an arbitrary result: row count and a
    * hash over the sorted rendered rows. */
  def resultDigest(rows: Array[Row]): Seq[Any] = {
    val rendered = rows.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case b: Array[_] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    Seq(rows.length.toLong, java.util.Arrays.hashCode(rendered.asInstanceOf[Array[AnyRef]]))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete)
}
