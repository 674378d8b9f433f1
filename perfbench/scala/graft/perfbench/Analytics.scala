package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{Registry, Tables}
import graft.commands.LakeEngine
import graft.format.LakeCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import Main.{long, seq, str, strs}

/** Repeated passes over registry bench read queries (DataFrame path over
  * the fixture) and the SQL-text twins of two of them over lake tables. */
object Analytics {

  /** One query call; its rows are digested for the per-sample check. */
  private def exec(ctx: Ctx, name: String, phase: String, traced: Boolean,
      sql: Option[String]): (Op, Option[(Array[Row], StructType)]) = {
    val t = ctx.tracer
    val (op, res) = t.op("query", name, phase, traced) {
      val df: DataFrame = sql match {
        case Some(text) => t.span("sqlext.resolve")(ctx.spark.sql(text))
        case None => t.span("plans.build")(Registry.byName(name).run(ctx.spark, ctx.fixture))
      }
      t.span("spark.plan")(df.queryExecution.executedPlan)
      (t.span("spark.exec")(df.collect()), df.schema)
    }
    res.foreach(r => op.digest = Main.resultDigest(r._1))
    (op, res)
  }

  def run(ctx: Ctx, jvm: JvmProbe): Map[String, Any] = {
    val spark = ctx.spark
    val catalog = new LakeCatalog(ctx.work.resolve("lake").toString)
    val tables = seq(ctx.in.get("layout").get("tables"))
    val buildS = ctx.timed {
      val engine = new LakeEngine(spark, catalog)
      tables.foreach { t =>
        Lakes.sorted(catalog, engine, str(t, "name"),
          Tables.load(spark, ctx.fixture, str(t, "name")), str(t, "key"), long(t, "files").toInt)
      }
    }

    val groups = seq(ctx.in.get("groups")).map(g => str(g, "name") -> strs(g.get("queries")))
    val twins = seq(ctx.in.get("twins")).map(t => str(t, "name") -> str(t, "sql")).toMap
    val all = groups.flatMap(_._2)

    // untimed answer check, which is also the warm-up: each registry
    // query's answer lands as parquet for the oracle comparison and each
    // twin must equal its DataFrame query; both become the reference
    // every timed sample must reproduce
    val resultsDir = ctx.work.resolve("results")
    val reference = scala.collection.mutable.Map.empty[String, Seq[Any]]
    val warmupS = ctx.timed {
      all.filterNot(twins.contains).foreach { name =>
        val (op, res) = exec(ctx, name, "check", traced = false, None)
        val dir = resultsDir.resolve(name).toString
        res.foreach { case (rows, schema) =>
          reference(name) = op.digest
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(dir)
        }
        op.info = Map("result_dir" -> dir)
      }
      twins.foreach { case (twin, text) =>
        val (op, _) = exec(ctx, twin, "check", traced = false, Some(text))
        val base = twin.stripPrefix("twin.")
        op.info = Map("twin_of" -> base, "match" -> reference.get(base).contains(op.digest))
        reference.get(base).foreach(reference(twin) = _)
      }
    }

    // timed passes; each sample must reproduce its query's checked answer
    val orders = seq(ctx.in.get("pass_orders")).map(strs)
    val (h0, m0) = (graft.format.ManifestCache.hits, graft.format.ManifestCache.misses)
    jvm.start()
    val done = ctx.deadline()
    var pass = 0
    while (!done()) {
      // the clock is checked per query, so the last pass may be partial;
      // a traced run traces each query on every other pass
      orders(pass % orders.length).iterator.takeWhile(_ => !done()).foreach { name =>
        val (op, _) = exec(ctx, name, "timed", traced = pass % 2 == 1, twins.get(name))
        op.info = Map("pass" -> pass,
          "match" -> (op.error == null && reference.get(name).contains(op.digest)))
      }
      pass += 1
    }
    Map("build_s" -> buildS, "warmup_s" -> warmupS,
      "manifest_cache" -> Map("hits" -> (graft.format.ManifestCache.hits - h0),
        "misses" -> (graft.format.ManifestCache.misses - m0)),
      "tables" -> Lakes.describe(catalog, tables.map(str(_, "name"))),
      "oracle_sql" -> all.filterNot(twins.contains).map { n =>
        val q = Registry.byName(n)
        n -> q.benchOracleSql.orElse(q.oracle).orNull
      }.toMap)
  }
}
