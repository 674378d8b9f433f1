package graft.scan

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 pins for the pushdown-friendly Pred over-approximations
  * ([[Pred.mayTrue]] / [[Pred.notTrue]]) that the DML probe and DELETE
  * rebuild push into parquet ahead of their exact 3VL filters.
  * Soundness is a row-level IMPLICATION, checked exhaustively against
  * Catalyst's own evaluation over a null-rich corpus:
  *   p true      => toColumn(mayTrue(p)) true
  *   p not true  => toColumn(notTrue(p)) true
  */
class PredPushdownSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    // nulls, boundaries, duplicates — every comparison class gets rows
    // on both sides plus the null row
    Seq[(java.lang.Long, String)](
      (null, null), (1L, "a"), (2L, "ab"), (3L, "b"), (5L, "bc"),
      (7L, "c"), (10L, null), (null, "z"), (0L, ""), (-3L, "a"))
      .toDF("x", "s")
  }

  private val preds: Seq[Pred] = Seq(
    Eq("x", 2L), Ne("x", 2L), Lt("x", 3L), Le("x", 3L), Gt("x", 3L), Ge("x", 3L),
    In("x", Seq(1L, 5L)), NotIn("x", Seq(1L, 5L)),
    In("x", Seq(1L, null)), NotIn("x", Seq(1L, null)),
    IsNull("x"), NotNull("x"), StartsWith("s", "a"),
    Opaque("length(s) > 1"),
    And(Ge("x", 1L), Lt("x", 6L)),
    Or(Lt("x", 0L), StartsWith("s", "b")),
    And(Or(Eq("x", 1L), Eq("s", "c")), NotNull("s")),
    Pred.negate(And(Ge("x", 1L), Lt("x", 6L))))

  test("mayTrue is implied by the exact predicate (never loses a match)") {
    preds.foreach { p =>
      val exact = corpus.filter(coalesce(Pred.toColumn(p), lit(false)))
      val lost = exact.filter(not(coalesce(Pred.toColumn(Pred.mayTrue(p)), lit(false))))
      assert(lost.count() == 0, s"mayTrue dropped matching rows for $p")
    }
  }

  test("notTrue is implied by 'exact predicate is not true' (never loses a kept row)") {
    preds.foreach { p =>
      val kept = corpus.filter(not(coalesce(Pred.toColumn(p), lit(false))))
      val lost = kept.filter(not(coalesce(Pred.toColumn(Pred.notTrue(p)), lit(false))))
      assert(lost.count() == 0, s"notTrue dropped kept rows for $p")
    }
  }

  test("null-literal comparisons compile to Opaque and stay 3VL-exact under NOT") {
    // NOT (x = NULL) is never true under 3VL; a structural negate of
    // AlwaysFalse would claim AlwaysTrue and a DELETE on it would wipe
    // the table. The compile must degrade to Opaque instead.
    val sqls = Seq(
      "NOT (x = NULL)", "x = NULL", "NOT (x <> NULL)", "NOT (x < NULL)",
      "NOT (x <=> 2)", "NOT (x <=> NULL)")
    sqls.foreach { sql =>
      val p = PredSql.compile(spark, sql)
      assert(p != AlwaysTrue && p != AlwaysFalse, s"$sql compiled to $p")
      // row-exactness: Pred's column matches Spark's own evaluation
      val viaPred = corpus.filter(coalesce(Pred.toColumn(p), lit(false)))
        .selectExpr("coalesce(cast(x as string),'_') AS x")
        .collect().map(_.getString(0)).sorted.toSeq
      val viaSpark = corpus.filter(coalesce(expr(sql), lit(false)))
        .selectExpr("coalesce(cast(x as string),'_') AS x")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(viaPred == viaSpark, s"$sql: pred rows $viaPred != spark rows $viaSpark")
      // and the over-approximations stay sound for it
      assert(Pred.mayTrue(p) == AlwaysTrue || Pred.toColumn(Pred.mayTrue(p)) != null)
    }
    // provablyAll must never claim a file for these (Opaque hardens false)
    val eval = new StatsEvaluator(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType))),
      Map.empty[Int, Seq[graft.format.PartitionField]])
    val anyFile = graft.format.FileEntry("f", Map.empty, 10L, 1L, 0, Map.empty)
    sqls.foreach { sql =>
      val p = PredSql.compile(spark, sql)
      assert(!eval.provablyAll(p, anyFile), s"provablyAll claimed file for $sql")
    }
  }

  test("BETWEEN compiles to a range; NOT BETWEEN and NULL bounds stay 3VL-exact") {
    assert(PredSql.compile(spark, "x BETWEEN 2 AND 5") === And(Ge("x", 2), Le("x", 5)))
    assert(PredSql.compile(spark, "x NOT BETWEEN 2 AND 5") === Or(Lt("x", 2), Gt("x", 5)))
    assert(PredSql.compile(spark, "NOT (x BETWEEN 2 AND 5)") === Or(Lt("x", 2), Gt("x", 5)))
    val sqls = Seq("x BETWEEN 2 AND 5", "x NOT BETWEEN 2 AND 5", "x BETWEEN -3 AND 1",
      "x BETWEEN NULL AND 5", "x NOT BETWEEN NULL AND 5", "x BETWEEN 2 AND NULL",
      "x NOT BETWEEN 2 AND NULL", "s BETWEEN 'a' AND 'b'")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr("concat(coalesce(cast(x as string),'_'), '/', coalesce(s,'_')) AS r")
        .collect().map(_.getString(0)).sorted.toSeq
    sqls.foreach { sql =>
      val p = PredSql.compile(spark, sql)
      assert(!p.isInstanceOf[Opaque], s"$sql stayed opaque")
      val exact = corpus.filter(coalesce(expr(sql), lit(false)))
      assert(ids(corpus.filter(coalesce(Pred.toColumn(p), lit(false)))) === ids(exact), sql)
      assert(exact.filter(not(coalesce(Pred.toColumn(Pred.mayTrue(p)), lit(false)))).count() == 0,
        s"mayTrue dropped matching rows for $sql")
      val kept = corpus.filter(not(coalesce(expr(sql), lit(false))))
      assert(kept.filter(not(coalesce(Pred.toColumn(Pred.notTrue(p)), lit(false)))).count() == 0,
        s"notTrue dropped kept rows for $sql")
    }
  }

  test("BETWEEN prunes files for LakeEngine.read and scopes DML") {
    import graft.format._
    val dir = java.nio.file.Files.createTempDirectory("graft-between-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val df = spark.range(0, 6000).select(col("id").as("k"), (col("id") % 7).as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    val m = engine.scan(t, "k BETWEEN 2100 AND 2200").metrics()
    assert(m.totalFiles == 6 && m.matchedFiles == 1, s"$m")
    assert(engine.read("t", "k BETWEEN 2100 AND 2200").count() == 101)
    // NOT BETWEEN keeps both ends: only a file wholly inside the range is pruned
    val outside = engine.scan(t, "k NOT BETWEEN 1000 AND 1999").metrics()
    assert(outside.matchedFiles == 5, s"$outside")
    val c = engine.delete(t, "k BETWEEN 2100 AND 2200")
    assert(c.removedFiles == 1 && c.removedRecords - c.addedRecords == 101, s"$c")
    val after = LakeTable.load(t.location)
    assert(engine.scan(after).toDF().count() == 5899)
    assert(engine.scan(after).toDF().filter(col("k").between(2100, 2200)).count() == 0)
  }

  test("DELETE on a never-true NOT(col = NULL) condition is a no-op, not a wipe") {
    import graft.format._
    val dir = java.nio.file.Files.createTempDirectory("graft-nulllit-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 3).as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
    engine.insert(t, df)
    engine.delete(t, "NOT (k = NULL)")
    assert(engine.scan(LakeTable.load(t.location)).toDF().count() == 1000,
      "DELETE NOT (k = NULL) must keep every row under 3VL")
  }

  test("DELETE rebuild pushes the keep prefilter into the parquet scan") {
    import graft.format._
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val df = spark.range(0, 5000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
    engine.insert(t, df)
    // capture the rebuild scan's plan via the listener-free route: run
    // the delete and assert on the LAST executed rewrite by re-building
    // the same keep filter shape and checking it is source-pushable
    val keep = Pred.toColumn(Pred.notTrue(
      PredSql.compile(spark, "k >= 100 AND k < 200", t.schema)))
    val scan = new TableScan(spark, t).toDF().filter(keep)
    val pushed = scan.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [Or(") ||
      pushed.contains("PushedFilters: [IsNotNull") ||
      pushed.contains("PushedFilters: [Or"),
      s"keep prefilter not pushed:\n$pushed")
    // and the full DELETE stays correct with nulls in play
    engine.delete(t, "k >= 100 AND k < 200")
    val t2 = LakeTable.load(t.location)
    assert(engine.scan(t2).toDF().count() == 4900)
    assert(engine.scan(t2).toDF().filter(col("k").between(100, 199)).count() == 0)
  }
}
