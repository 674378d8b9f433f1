package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables
import graft.commands.{LakeEngine, Maintenance, Merge}
import graft.format._
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampNTZType
import scala.jdk.CollectionConverters._
import Main.{long, seq, str}

/** Rounds of streaming append, UPDATE, DELETE, SCD1 and SCD2 merges on
  * lake tables, each commit followed by a SQL lookup and an aggregate. */
object DmlIngest {

  private val Names = Seq("orders_dml", "orders_scd2", "events_ingest")

  def run(ctx: Ctx, jvm: JvmProbe): Map[String, Any] = {
    val spark = ctx.spark
    val layout = ctx.in.get("layout")
    val dir = ctx.work.resolve("lake")
    val catalog = new LakeCatalog(dir.toString)
    val engine = new LakeEngine(spark, catalog)
    val t = ctx.tracer
    Tables.orders(spark, ctx.fixture).createOrReplaceTempView("fixture_orders")
    val orders = Tables.orders(spark, ctx.fixture).filter(col("o_orderkey") < long(layout, "orders_below"))
    val events = Tables.events(spark, ctx.fixture)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val files = long(layout, "orders_files").toInt

    val stage = ctx.work.resolve("stage")
    val buildS = ctx.timed {
      Lakes.sorted(catalog, engine, "orders_dml", orders, "o_orderkey", files)
      Lakes.sorted(catalog, engine, "orders_scd2", orders
        .withColumn("effective_start", lit(str(layout, "scd2_start")).cast(TimestampNTZType))
        .withColumn("effective_end", lit(null).cast(TimestampNTZType)), "o_orderkey", files)
      catalog.createTable("events_ingest", events.schema, sortOrder = Seq(SortField("event_id")))
      Files.createDirectories(stage)
    }
    val atStart = Lakes.describe(catalog, Names.take(2))
    val compactBelow = catalog.loadTable("orders_dml").currentFiles().map(_.sizeBytes).sum / files / 2
    val maintainEvery = long(layout, "maintain_every").toInt

    /** Producer side, untimed: one new parquet file in the stream's
      * source directory. */
    def stageSlice(r: Int, a: JsonNode): Unit = {
      val tmp = ctx.work.resolve(s"stage-tmp-$r")
      events.filter(col("event_id").between(long(a, "lo"), long(a, "hi")))
        .coalesce(1).write.parquet(tmp.toString)
      Files.list(tmp).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach(f =>
        Files.move(f, stage.resolve(f"slice-$r%05d.parquet")))
      Main.deleteTree(tmp)
    }

    def append(r: Int, phase: String, traced: Boolean): Unit = {
      val (op, progress) = t.op("append", "events_ingest", phase, traced) {
        val q = t.span("streaming.start")(spark.readStream
          .schema(events.schema).option("maxFilesPerTrigger", "1")
          .parquet(stage.toString)
          .writeStream.format("graft-lake")
          .option("path", dir.resolve("events_ingest").toString)
          .option("checkpointLocation", ctx.work.resolve("checkpoint").toString)
          .trigger(Trigger.AvailableNow())
          .start())
        t.span("streaming.run")(q.awaitTermination())
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
      op.info = Map("round" -> r,
        "rows" -> progress.map(_.map(_.numInputRows).sum).getOrElse(0L),
        "batches" -> progress.getOrElse(Seq.empty).map(p =>
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }

    /** A DML command on a freshly loaded table, with the data files it
      * added (read from metadata after the timed call). */
    def command(kind: String, table: String, r: Int, phase: String, traced: Boolean)(
        body: LakeTable => CommitMetrics): Unit = {
      val before = catalog.loadTable(table).currentFiles()
      val (op, res) = t.op(kind, table, phase, traced) {
        val lt = t.span("format.table_load")(catalog.loadTable(table))
        t.span(s"commands.$kind")(body(lt))
      }
      val beforePaths = before.map(_.path).toSet
      val added = catalog.loadTable(table).currentFiles().filterNot(f => beforePaths(f.path))
      op.info = Map("round" -> r,
        "added_files" -> added.size, "added_bytes" -> added.map(_.sizeBytes).sum,
        "removed_files" -> res.map(_.removedFiles).getOrElse(0),
        "added_records" -> res.map(_.addedRecords).getOrElse(0L),
        "bytes_per_row" -> before.map(_.sizeBytes).sum.toDouble /
          math.max(before.map(_.recordCount).sum, 1L))
    }

    /** The reads after a commit: a lookup and an aggregate. */
    def readBack(r: Int, after: String, table: String, reads: JsonNode,
        phase: String, traced: Boolean): Unit =
      Seq("lookup", "aggregate").foreach { kind =>
        val sql = str(reads.get(table), kind).replace("{t}", s"lake.$table")
        val (op, rows) = t.op("read", s"$table.$kind", phase, traced) {
          val df = t.span("sqlext.resolve")(spark.sql(sql))
          t.span("spark.plan")(df.queryExecution.executedPlan)
          t.span("spark.exec")(df.collect())
        }
        rows.foreach(rs => op.digest =
          if (kind == "lookup") Main.lookupDigest(rs)
          else rs.head.toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Number].longValue))
        op.info = Map("round" -> r, "after" -> after, "kind" -> kind,
          "rows" -> rows.map(_.length).getOrElse(0))
      }

    /** One round; in a traced run every other commit, with its reads, is
      * traced, alternating between rounds. */
    def round(r: Int, in: JsonNode, phase: String): Unit = {
      val reads = in.get("reads")
      val (dml, scd2) = ("orders_dml", "orders_scd2")
      def traced(k: Int) = phase == "timed" && (r + k) % 2 == 1
      stageSlice(r, in.get("append"))
      append(r, phase, traced(0))
      readBack(r, "append", "events_ingest", reads, phase, traced(0))
      command("update", dml, r, phase, traced(1)) { lt =>
        val u = in.get("update")
        engine.update(lt, str(u, "where"), u.get("set").fields().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap)
      }
      readBack(r, "update", "orders_dml", reads, phase, traced(1))
      command("delete", dml, r, phase, traced(2))(lt =>
        engine.delete(lt, str(in.get("delete"), "where")))
      readBack(r, "delete", "orders_dml", reads, phase, traced(2))
      command("scd1", dml, r, phase, traced(3))(lt =>
        Merge.scd1(engine, lt, spark.sql(str(in.get("scd1"), "source")),
          Merge.Scd1Options(keyCols = Seq("o_orderkey"), operationTypeColumn = Some("op"))))
      readBack(r, "scd1", "orders_dml", reads, phase, traced(3))
      command("scd2", scd2, r, phase, traced(4))(lt =>
        Merge.scd2(engine, lt, spark.sql(str(in.get("scd2"), "source")),
          Merge.Scd2Options(keyCols = Seq("o_orderkey"),
            effectiveTimestamp = java.time.LocalDateTime.parse(str(in.get("scd2"), "effective")),
            operationTypeColumn = Some("op"))))
      readBack(r, "scd2", "orders_scd2", reads, phase, traced(4))
      // compaction and expiry keep file and manifest counts bounded, so
      // the per-op numbers do not drift with run length
      if ((r + 1) % maintainEvery == 0) Names.foreach { n =>
        t.op("maintain", n, phase) {
          Maintenance.compactSmallFiles(engine, catalog.loadTable(n), compactBelow)
          Maintenance.expireSnapshots(catalog.loadTable(n), keepLast = 3)
        }
      }
    }

    val rounds = seq(ctx.in.get("rounds")).toIndexedSeq
    // the first round warms up; the answers of every round are checked
    val warmupS = ctx.timed(round(0, rounds(0), "warmup"))
    val (h0, m0) = (ManifestCache.hits, ManifestCache.misses)
    jvm.start()
    val done = ctx.deadline()
    var r = 1
    while (!done() && r < rounds.length) {
      round(r, rounds(r), "timed")
      r += 1
    }
    Map("build_s" -> buildS, "warmup_s" -> warmupS, "rounds_done" -> r,
      "manifest_cache" -> Map("hits" -> (ManifestCache.hits - h0),
        "misses" -> (ManifestCache.misses - m0)),
      "stream_commits" -> t.backgroundCommits.asScala.toSeq.map(e => Map(
        "attempts" -> e.attempts, "elapsed_ms" -> e.metrics.elapsedMs)),
      "tables_at_start" -> atStart,
      "tables" -> Lakes.describe(catalog, Names))
  }
}
