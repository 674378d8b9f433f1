package graft

import graft.commands.LakeEngine
import graft.format._
import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** SQL over `lake.<t>` reads through the `graft-lake` DSv2 scan: the
  * WHERE clause prunes files from manifest statistics (a [[ScanEvent]]
  * with fewer matched than total files) and the answer is exactly
  * `LakeEngine.read`'s; single-schema reads stay columnar; pushed
  * filters skip row groups inside the files that survive pruning. */
class LakeSqlScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val warehouse = Files.createTempDirectory("graft-sqlscan-").toString
  private lazy val engine = new LakeEngine(spark, new LakeCatalog(warehouse))

  /** k = 0..11999 sorted into 12 files; every 7th tag NULL. */
  private lazy val keyed: LakeTable = {
    val df = spark.range(0, 12000).select(col("id").as("k"),
      (col("id") * 0.25).as("amt"),
      when(col("id") % 7 === 0, lit(null).cast(StringType))
        .otherwise(concat(lit("t"), col("id") % 5)).as("tag"))
    val t = engine.catalog.createTable("sq_sorted", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    t
  }

  /** One 500-row file appended per snapshot, six snapshots; tag `v3` on
    * the third. Returns the table and its snapshot ids in order. */
  private lazy val travel: (LakeTable, Seq[Long]) = {
    val t = engine.catalog.createTable("sq_travel",
      spark.range(0).select(col("id").as("k"), col("id").cast("double").as("amt")).schema,
      sortOrder = Seq(SortField("k")))
    val snaps = (0 until 6).map { i =>
      engine.insert(t, spark.range(i * 500L, (i + 1) * 500L)
        .select(col("id").as("k"), col("id").cast("double").as("amt"))).snapshotId
    }
    t.createTag("v3", snaps(2))
    (t, snaps)
  }

  /** Two files written before `seg` was added, two after. */
  private lazy val evolved: LakeTable = {
    val v1 = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("amt"))
    val t = engine.catalog.createTable("sq_evolved", v1.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, v1)
    t.addColumn("seg", StringType)
    engine.insert(t, spark.range(2000, 4000).select(col("id").as("k"),
      (col("id") * 2).as("amt"), concat(lit("s"), col("id") % 3).as("seg")))
    t
  }

  private def withScanEvents[A](body: => A): (A, Seq[ScanEvent]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ScanEvent]()
    val c = new MetricCollector { override def onScan(e: ScanEvent): Unit = events.add(e) }
    MetricCollectors.register(c)
    try {
      val a = body
      import scala.jdk.CollectionConverters._
      (a, events.asScala.toSeq)
    } finally MetricCollectors.unregister(c)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    collect(plan(df)) { case b: BatchScanExec => b }

  test("SQL WHERE prunes files and answers exactly like LakeEngine.read") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    val (tt, snaps) = travel
    val ev = evolved
    keyed
    // (sql relation, WHERE, table, ref, columns)
    val cases = Seq(
      ("sq_sorted", "k = 4321", "sq_sorted", TableRef.Head, "k, amt, tag"),
      ("sq_sorted", "k IN (5, 6000, 11999)", "sq_sorted", TableRef.Head, "k, amt, tag"),
      ("sq_sorted", "k BETWEEN 3000 AND 3500", "sq_sorted", TableRef.Head, "k, amt, tag"),
      ("sq_sorted", "k >= 3000 AND k <= 3500", "sq_sorted", TableRef.Head, "k, amt, tag"),
      (s"`sq_travel$$snapshot_${snaps(3)}`", "k BETWEEN 700 AND 900", "sq_travel",
        TableRef.SnapshotId(snaps(3)), "k, amt"),
      ("`sq_travel$tag_v3`", "k >= 1200", "sq_travel", TableRef.Tag("v3"), "k, amt"),
      ("sq_evolved", "k IN (10, 3500)", "sq_evolved", TableRef.Head, "k, amt, seg"))
    cases.foreach { case (rel, where, table, ref, cols) =>
      val sql = s"SELECT $cols FROM lake.$rel WHERE $where"
      val (got, events) = withScanEvents(rows(spark.sql(sql)))
      assert(events.nonEmpty, s"$sql emitted no ScanEvent")
      events.foreach(e => assert(e.matchedFiles < e.totalFiles,
        s"$sql did not prune: ${e.matchedFiles} of ${e.totalFiles} files (${e.predicate})"))
      val api = engine.read(table, where, ref).selectExpr(cols.split(", ").toSeq: _*)
      assert(got === rows(api), sql)
      assert(got.nonEmpty, s"$sql returned no rows")
    }
    // an omitted column reads NULL, not a default, through SQL too
    assert(spark.sql("SELECT count(*) FROM lake.sq_evolved WHERE seg IS NULL")
      .head().getLong(0) === 2000L)
    assert(tt.currentFiles().size === 6 && ev.currentFiles().size === 4)
  }

  test("single-schema reads are columnar; a projected evolved read is row-based") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    keyed; evolved
    val single = spark.sql("SELECT k, amt, tag FROM lake.sq_sorted WHERE k = 43")
    val scans = batchScans(single)
    assert(scans.size === 1 && scans.head.supportsColumnar, plan(single).toString)
    assert(collect(plan(single)) { case c: ColumnarToRowExec => c }
      .exists(_.child.collectFirst { case b: BatchScanExec => b }.isDefined),
      s"expected ColumnarToRow over BatchScan:\n${plan(single)}")
    assert(single.collect().toSeq === Seq(Row(43L, 10.75, "t3")))

    // the pre-evolution files need seg NULL-filled: every group row-based
    val projected = spark.sql("SELECT k, amt, seg FROM lake.sq_evolved WHERE k >= 1990 AND k < 2010")
    val evScans = batchScans(projected)
    assert(evScans.size === 1 && !evScans.head.supportsColumnar, plan(projected).toString)
    assert(collect(plan(projected)) { case c: ColumnarToRowExec => c }.isEmpty)
    val got = projected.collect().map(r => (r.getLong(0), Option(r.getString(2)))).sortBy(_._1)
    assert(got.length === 20)
    assert(got.take(10).forall(_._2.isEmpty) && got.drop(10).forall(_._2.isDefined))

    // columns every schema stores alike read columnar again
    assert(batchScans(spark.sql("SELECT k, amt FROM lake.sq_evolved WHERE k = 5"))
      .head.supportsColumnar)
  }

  test("pushed filters skip row groups inside a file that survives pruning") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    val df = spark.range(0, 4000).select(col("id").as("k"),
      concat(lit("row-"), col("id")).as("s"))
    val t = engine.catalog.createTable("sq_rowgroups", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.parquet.row-group-size-bytes" -> (8 * 1024).toString))
    engine.insert(t, df)
    assert(t.currentFiles().size === 1)
    val q = spark.sql("SELECT k, s FROM lake.sq_rowgroups WHERE k = 1234")
    assert(q.collect().toSeq === Seq(Row(1234L, "row-1234")))
    val scanned = batchScans(q).map(_.metrics("numOutputRows").value).sum
    assert(scanned > 0 && scanned < 4000L, s"scan output $scanned rows of the file's 4000")
  }

  test("nested struct fields read through SQL (nested column pruning)") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    val df = spark.range(0, 100).select(col("id").as("k"),
      struct(col("id").as("a"), concat(lit("b"), col("id")).as("b")).as("st"))
    engine.insert(engine.catalog.createTable("sq_nested", df.schema), df)
    // Spark asks the scan for struct<b> alone; the readers produce whole
    // top-level columns, so the scan must declare st whole
    assert(spark.sql("SELECT st.b FROM lake.sq_nested WHERE k = 7").collect().toSeq ===
      Seq(Row("b7")))
    assert(spark.sql("SELECT st.b FROM lake.sq_nested WHERE st.a = 7").collect().toSeq ===
      Seq(Row("b7")))
    assert(spark.sql("SELECT k, st.a FROM lake.sq_nested WHERE k < 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === Seq((0L, 0L), (1L, 1L)))
  }
}
