package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables
import graft.commands.LakeEngine
import graft.format._
import java.nio.file.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import Main.{long, seq, str, strs}

/** Selective lookups over sorted lake tables, through `spark.sql` over
  * `lake.<t>` and through `LakeEngine.read`. */
object PointReads {

  /** lineitem, a sorted multi-file table; orders, one snapshot per
    * appended file with tags on some snapshots, so its head and its time
    * travel are read from the same table; customer_ev, written before and
    * after a column was added. Returns the key range of each orders file,
    * in snapshot order, and each table's build time. */
  def build(ctx: Ctx, dir: Path, layout: JsonNode): (Seq[Seq[Long]], Map[String, Double]) = {
    val spark = ctx.spark
    val catalog = new LakeCatalog(dir.toString)
    val engine = new LakeEngine(spark, catalog)

    // one sorted write, then each file committed on its own, in key
    // order: snapshot k holds the first k files
    var ranges = Seq.empty[Seq[Long]]
    val ordersS = ctx.timed {
      val orders = Tables.orders(spark, ctx.fixture)
      val snapshots = long(layout, "orders_snapshots").toInt
      val t = catalog.createTable("orders", orders.schema,
        sortOrder = Seq(SortField("o_orderkey")),
        properties = Map("write.max-records-per-file" ->
          math.ceil(orders.count().toDouble / snapshots).toLong.toString))
      val keyId = FieldIds.of(t.schema("o_orderkey")).toString
      def range(f: FileEntry) = Seq(f.stats(keyId).min.get.toLong, f.stats(keyId).max.get.toLong)
      val files = graft.write.LakeWriter.write(spark, t, orders).sortBy(range(_).head)
      files.foreach(f => t.appendFiles(Seq(f)))
      layout.get("orders_tags").fields().forEachRemaining(e => t.createTag(e.getKey, e.getValue.asLong))
      ranges = files.map(range)
    }
    val lineitemS = ctx.timed(
      Lakes.sorted(catalog, engine, "lineitem", Tables.lineitem(spark, ctx.fixture)
          .select(strs(layout.get("lineitem_columns")).map(col): _*),
        "l_orderkey", long(layout, "lineitem_files").toInt))
    val evS = ctx.timed {
      val customer = Tables.customer(spark, ctx.fixture)
      val split = long(layout, "ev_split")
      val v1 = customer.drop("c_mktsegment")
      val ev = catalog.createTable("customer_ev", v1.schema, sortOrder = Seq(SortField("c_custkey")))
      engine.insert(ev, v1.filter(col("c_custkey") <= split))
      ev.addColumn("c_mktsegment", StringType)
      engine.insert(ev, customer.filter(col("c_custkey") > split))
    }
    (ranges, Map("orders" -> ordersS, "lineitem" -> lineitemS, "customer_ev" -> evS))
  }

  private def ref(r: JsonNode): TableRef = Option(r.get("ref")).filterNot(_.isNull) match {
    case Some(n) if n.has("snapshot") => TableRef.SnapshotId(n.get("snapshot").asLong)
    case Some(n) if n.has("tag") => TableRef.Tag(n.get("tag").asText)
    case _ => TableRef.Head
  }

  /** One lookup; its rows are (key, amount, tag) and digested for the
    * answer check. The traced API path makes the three public calls
    * `LakeEngine.read` makes, each in its own span. */
  def lookup(ctx: Ctx, engine: LakeEngine, r: JsonNode, phase: String, traced: Boolean): Op = {
    val t = ctx.tracer
    val path = str(r, "path")
    val (op, rows) = t.op("lookup", s"$path.${str(r, "form")}", phase, traced) {
      val df =
        if (path == "sql") t.span("sqlext.resolve")(ctx.spark.sql(str(r, "sql")))
        else {
          val cols = strs(r.get("cols")).map(col)
          if (!(ctx.traceRun && traced))
            engine.read(str(r, "table"), str(r, "filter"), ref(r)).select(cols: _*)
          else {
            val table = t.span("format.table_load")(engine.table(str(r, "table")))
            val scan = t.span("scan.compile")(engine.scan(table, str(r, "filter"), ref(r)))
            t.span("scan.todf")(scan.toDF()).select(cols: _*)
          }
        }
      t.span("spark.plan")(df.queryExecution.executedPlan)
      t.span("spark.exec")(df.collect())
    }
    rows.foreach(rs => op.digest = Main.lookupDigest(rs))
    op.info = Map("id" -> long(r, "id"), "path" -> path, "form" -> str(r, "form"),
      "table" -> str(r, "table"), "rows" -> rows.map(_.length).getOrElse(0))
    op
  }

  def run(ctx: Ctx, jvm: JvmProbe): Map[String, Any] = {
    val dir = ctx.work.resolve("lake")
    val ((orderFiles, tableS), buildS) = {
      val t0 = System.nanoTime()
      val b = build(ctx, dir, ctx.in.get("layout"))
      (b, (System.nanoTime() - t0) / 1e9)
    }
    val engine = new LakeEngine(ctx.spark, new LakeCatalog(dir.toString))
    val warmupS = ctx.timed(seq(ctx.in.get("warmup")).foreach(r =>
      lookup(ctx, engine, r, "warmup", traced = false)))

    val reqs = seq(ctx.in.get("requests")).toIndexedSeq
    val (h0, m0) = (ManifestCache.hits, ManifestCache.misses)
    jvm.start()
    val done = ctx.deadline()
    var i = 0
    while (!done()) {
      // a traced run alternates traced and untraced calls: the pair
      // gives the tracing overhead under the same conditions
      lookup(ctx, engine, reqs(i % reqs.length), "timed", traced = i % 2 == 1)
      i += 1
    }
    Map("build_s" -> buildS, "build_tables_s" -> tableS, "warmup_s" -> warmupS,
      "orders_files" -> orderFiles,
      "manifest_cache" -> Map("hits" -> (ManifestCache.hits - h0),
        "misses" -> (ManifestCache.misses - m0)),
      "tables" -> Lakes.describe(new LakeCatalog(dir.toString),
        Seq("lineitem", "orders", "customer_ev")))
  }
}
