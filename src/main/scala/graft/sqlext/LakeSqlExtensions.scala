package graft.sqlext

import graft.format.{LakeCatalog, LakeTable, TableRef, ValidationException}
import graft.scan.TableScan
import graft.streaming.{LakeDsv2, LakeDsv2Table}
import java.nio.file.Paths
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, Assignment, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, DropColumns, DropTable, InsertAction, InsertIntoStatement, InsertStarAction, LocalRelation, LogicalPlan, MergeIntoTable, RenameColumn, SetTableProperties, SubqueryAlias, UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** SQL-transparent lake tables (SURVEY §4 tail / §7.1.6): one analyzer
  * rule replaces the reference's 1,672-LoC JSQLParser rewriting engine
  * (sql/SqlQueryProcessor.java). With the extension installed and
  * `spark.graft.warehouse` set,
  *
  *   SELECT * FROM lake.orders WHERE o_orderkey BETWEEN 10 AND 20
  *   SELECT * FROM lake.`orders$snapshot_3`
  *   SELECT * FROM lake.`orders$timestamp_1722470400000`
  *   SELECT * FROM lake.`orders$branch_dev` / lake.`orders$tag_v1`
  *
  * resolve to the `graft-lake` DSv2 relation ([[LakeDsv2Table]]), the
  * same batch read as `spark.read.format("graft-lake")`, with the ref
  * suffix passed as its time-travel option (reference suffix grammar:
  * SqlQueryProcessor.java:371-402). Analysis only loads table metadata;
  * the WHERE clause pushes into the relation's scan, which prunes files
  * through [[TableScan.planFiles]] when the query is physically planned
  * and hands the filters to the parquet reader for row-group skipping.
  *
  *   SELECT * FROM lake.`orders$snapshots` / `orders$files` / `orders$history`
  *   SELECT * FROM lake.`orders$partitions` / lake.`orders$changes_3`
  *
  * resolve to Iceberg-style metadata introspection relations and to the
  * file-level change feed since a snapshot.
  *
  * SQL DML routes to the engine's copy-on-write commands:
  *
  *   DELETE FROM lake.orders WHERE o_orderkey < 100
  *   UPDATE lake.orders SET o_orderpriority = '1-URGENT' WHERE ...
  *   INSERT INTO lake.orders SELECT ... / VALUES (...)        (positional)
  *   INSERT INTO lake.orders (a, b) ... / INSERT OVERWRITE ...
  *
  * execute [[graft.commands.LakeEngine]].delete/update/insert[Overwrite]
  * (touched-file minimization, conflict detection, strict overwrite) and
  * return the commit metrics as the statement result. Like other eager
  * SQL commands, the statement runs when `spark.sql(...)` analyzes it —
  * EXPLAIN of a lake DML statement is not supported (it would execute).
  * Time-travel refs are read-only.
  */
class LakeSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(session => new ResolveLakeRelations(session))
    // DDL must be caught at PARSE time: the session-catalog resolution
    // rules run ahead of injected resolution rules and reject transforms
    // like years()/truncate() before a rule could see the statement
    e.injectParser((session, delegate) => new LakeDdlParser(session, delegate))
  }
}

/** Delegating parser that executes lake DDL statements (CREATE TABLE /
  * CTAS / DROP TABLE on `lake.<name>`) before Spark's session-catalog
  * analysis can reject their partition transforms. Everything else
  * passes through untouched. */
class LakeDdlParser(spark: SparkSession,
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
  extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    val plan =
      try delegate.parsePlan(sqlText)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          // maintenance statements Spark's grammar lacks (Delta-style):
          //   VACUUM lake.<t> [RETAIN <n> HOURS]
          //   OPTIMIZE lake.<t> [WHERE <scopeSql>] [ZORDER BY (c1, c2, ...)]
          LakeMaintenanceSql.parse(spark, sqlText).getOrElse(throw e)
      }
    new ResolveLakeRelations(spark).interceptDdl(plan).getOrElse(plan)
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
}

/** Mini-grammar for lake maintenance statements (executed eagerly like
  * the other lake DDL; result = affected file/path counts). */
private[sqlext] object LakeMaintenanceSql {
  private val Vacuum =
    """(?is)\s*VACUUM\s+lake\.([\w$]+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+lake\.([\w$]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*""".r
  private val Expire =
    """(?is)\s*EXPIRE\s+SNAPSHOTS\s+lake\.([\w$]+)\s+KEEP\s+LAST\s+(\d+)(?:\s+OLDER\s+THAN\s+(\d+)\s+HOURS)?\s*""".r
  // Iceberg-parity ref DDL (vanilla Spark's ALTER TABLE grammar rejects
  // these, so they land in this parse-exception fallback like VACUUM)
  private val RefDdl =
    """(?is)\s*ALTER\s+TABLE\s+lake\.([\w$]+)\s+(CREATE|DROP)\s+(BRANCH|TAG)\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*""".r
  private val FastForward =
    """(?is)\s*ALTER\s+TABLE\s+lake\.([\w$]+)\s+FAST\s+FORWARD\s+(?:TO\s+)?BRANCH\s+(\w+)\s*""".r
  private val Rollback =
    """(?is)\s*ALTER\s+TABLE\s+lake\.([\w$]+)\s+ROLLBACK\s+TO\s+VERSION\s+(\d+)\s*""".r

  def parse(spark: SparkSession, sql: String): Option[LogicalPlan] = sql match {
    case FastForward(name, branch) => Some(run(spark, name) { (engine, table) =>
      table.fastForward(branch).snapshotId
    })
    case Rollback(name, ver) => Some(run(spark, name) { (engine, table) =>
      table.rollbackTo(ver.toLong).snapshotId
    })
    case RefDdl(name, action, kind, refName, ver) => Some(run(spark, name) { (engine, table) =>
      val isBranch = kind.equalsIgnoreCase("BRANCH")
      if (action.equalsIgnoreCase("CREATE")) {
        val snapId = Option(ver).map(_.toLong)
          .orElse(table.metadata.currentSnapshotId)
          .getOrElse(throw new ValidationException(
            s"lake.$name has no snapshot for ${kind.toLowerCase} $refName to reference"))
        if (table.metadata.snapshotById(snapId).isEmpty)
          throw new ValidationException(s"no snapshot $snapId in lake.$name")
        if (isBranch) table.createBranch(refName, snapId)
        else table.createTag(refName, snapId)
      } else {
        val ref = table.metadata.refs.getOrElse(refName,
          throw new ValidationException(s"no branch or tag named $refName on lake.$name"))
        if (ref.isBranch != isBranch)
          throw new ValidationException(
            s"$refName is a ${if (ref.isBranch) "branch" else "tag"}, not a ${kind.toLowerCase}")
        table.removeRef(refName)
      }
      1L
    })
    case Vacuum(name, hours, dry) => Some(run(spark, name) { (engine, table) =>
      val graceMs = Option(hours).map(_.toLong * 3600 * 1000L).getOrElse(24L * 3600 * 1000L)
      graft.commands.Maintenance.removeOrphanFiles(table, graceMs,
        dryRun = dry != null).size.toLong
    })
    case Expire(name, keep, olderHours) => Some(run(spark, name) { (engine, table) =>
      val olderThan = Option(olderHours)
        .map(h => System.currentTimeMillis() - h.toLong * 3600 * 1000L)
        .getOrElse(Long.MaxValue)
      graft.commands.Maintenance.expireSnapshots(table, keep.toInt, olderThan).size.toLong
    })
    case Optimize(name, whereSql, zcols) => Some(run(spark, name) { (engine, table) =>
      val scope = Option(whereSql).map(_.trim).filter(_.nonEmpty).getOrElse("true")
      Option(zcols) match {
        case Some(cs) =>
          graft.commands.Maintenance.zorderRewrite(engine, table,
            cs.split(',').map(_.trim.replace("`", "")).toSeq, scopeSql = scope)
            .addedFiles.toLong
        case None =>
          val target = table.properties
            .getOrElse("graft.compact.target-bytes", (128L * 1024 * 1024).toString).toLong
          graft.commands.Maintenance.compactSmallFiles(engine, table, target, scope)
            .addedFiles.toLong
      }
    })
    case _ => None
  }

  private def run(spark: SparkSession, name: String)(
      body: (graft.commands.LakeEngine, LakeTable) => Long): LogicalPlan = {
    if (name.contains('$'))
      throw new ValidationException(s"maintenance on a reference is not allowed: $name")
    val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new ValidationException(
        s"maintenance on lake.$name requires spark.graft.warehouse to be set"))
    val catalog = new LakeCatalog(warehouse)
    if (!catalog.tableExists(name))
      throw new ValidationException(s"no lake table $name")
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val n = body(engine, catalog.loadTable(name))
    LocalRelation(
      Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "affected", LongType, nullable = false)()),
      Seq(org.apache.spark.sql.catalyst.InternalRow(n)))
  }
}

class ResolveLakeRelations(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML statements are matched at the ROOT, before the relation rule
    // below resolves their child (resolveOperatorsUp is bottom-up, so a
    // nested match would never see the UnresolvedRelation)
    case DeleteFromTable(u: UnresolvedRelation, cond) if isLake(u) =>
      runDml(u, "DELETE") { (engine, table, _) =>
        engine.delete(table, exprSql(Option(cond)))
      }
    case UpdateTable(u: UnresolvedRelation, assignments, cond) if isLake(u) =>
      runDml(u, "UPDATE") { (engine, table, _) =>
        engine.update(table, exprSql(cond), assignmentMap(assignments))
      }
    case ins: InsertIntoStatement if ins.table.isInstanceOf[UnresolvedRelation] &&
        isLake(ins.table.asInstanceOf[UnresolvedRelation]) =>
      val u = ins.table.asInstanceOf[UnresolvedRelation]
      if (ins.partitionSpec.nonEmpty)
        throw new ValidationException(
          "INSERT ... PARTITION is not supported on lake tables; the table's " +
            "partition spec drives the layout (use a plain INSERT)")
      runDml(u, "INSERT") { (engine, table, branch) =>
        val raw = planToDF(ins.query)
        // plain SQL INSERT is positional (VALUES tuples arrive as
        // col1/col2/...), so rename to the target columns before the
        // by-name cast projection; INSERT ... BY NAME keeps the query's
        // own column names (that IS its contract)
        val df =
          if (ins.byName) raw
          else {
            val names =
              if (ins.userSpecifiedCols.nonEmpty) ins.userSpecifiedCols
              else table.schema.fieldNames.toSeq
            if (raw.columns.length != names.length)
              throw new ValidationException(
                s"INSERT arity mismatch: query produces ${raw.columns.length} columns, " +
                  s"target list has ${names.length}")
            raw.toDF(names: _*)
          }
        if (ins.overwrite) {
          if (branch.isDefined)
            throw new ValidationException(
              "INSERT OVERWRITE on a branch is not supported; overwrite main " +
                "or use the branch for append-only write-audit-publish")
          engine.insertOverwrite(table, df, "true")
        } else engine.insert(table, df, branch)
      }
    case m: MergeIntoTable if lakeTarget(m.targetTable).isDefined =>
      val (u, tAlias) = lakeTarget(m.targetTable).get
      if (m.withSchemaEvolution)
        throw new ValidationException(
          "MERGE WITH SCHEMA EVOLUTION is not supported on lake tables; " +
            "evolve the schema first (ALTER TABLE / LakeTable.evolveSchema)")
      val sAlias = m.sourceTable match {
        case SubqueryAlias(id, _) => Some(id.name)
        case _ => None
      }
      runDml(u, "MERGE") { (engine, table, _) =>
        val sourceDF = planToDF(m.sourceTable)
        def srcRef(c: String) = sAlias.map(a => s"$a.`$c`").getOrElse(s"`$c`")
        val starMap = table.schema.fieldNames.toSeq.map(c => c -> srcRef(c)).toMap
        def setMap(as: Seq[Assignment]) =
          as.map(a => lastName(a.key.sql) -> a.value.sql).toMap
        val matched = m.matchedActions.map {
          case UpdateAction(c, as, _) => graft.commands.Merge.WhenMatched(c.map(_.sql), Some(setMap(as)))
          case UpdateStarAction(c)    => graft.commands.Merge.WhenMatched(c.map(_.sql), Some(starMap))
          case DeleteAction(c)        => graft.commands.Merge.WhenMatched(c.map(_.sql), None)
          case other => throw new ValidationException(s"unsupported MERGE matched action: $other")
        }
        val notMatched = m.notMatchedActions.map {
          case InsertAction(c, as) => graft.commands.Merge.WhenNotMatched(c.map(_.sql), setMap(as))
          case InsertStarAction(c) => graft.commands.Merge.WhenNotMatched(c.map(_.sql), starMap)
          case other => throw new ValidationException(s"unsupported MERGE insert action: $other")
        }
        val bySource = m.notMatchedBySourceActions.map {
          case UpdateAction(c, as, _) => graft.commands.Merge.WhenMatched(c.map(_.sql), Some(setMap(as)))
          case DeleteAction(c)        => graft.commands.Merge.WhenMatched(c.map(_.sql), None)
          case other => throw new ValidationException(
            s"unsupported MERGE not-matched-by-source action: $other")
        }
        graft.commands.Merge.merge(engine, table, sourceDF, tAlias, sAlias,
          m.mergeCondition.sql, matched, notMatched, bySource)
      }
    case _ => plan.resolveOperatorsUp {
      case u: UnresolvedRelation if isLake(u) =>
        resolve(u.multipartIdentifier(1)).getOrElse(u)
    }
  }

  /** Parse-time DDL interception (called by [[LakeDdlParser]]): executes
    * CREATE TABLE / CTAS / DROP TABLE on lake.<name> eagerly and returns
    * the replacement result plan; None = not a lake DDL statement. */
  private[sqlext] def interceptDdl(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case c: CreateTable if lakeIdent(c.name).isDefined =>
      val name = lakeIdent(c.name).get
      Some(runDdl(name, c.ignoreIfExists, exists => !exists) { (catalog, _) =>
        val schema = StructType(c.columns.map(cd =>
          StructField(cd.name, cd.dataType, cd.nullable)))
        catalog.createTable(name, schema,
          partitionSpec = c.partitioning.map(toPartitionField(_, schema)),
          properties = specProperties(c.tableSpec))
      })
    case c: CreateTableAsSelect if lakeIdent(c.name).isDefined =>
      val name = lakeIdent(c.name).get
      Some(runDdl(name, c.ignoreIfExists, exists => !exists) { (catalog, _) =>
        val df = planToDF(c.query)
        val schema = df.schema
        val t = catalog.createTable(name, schema,
          partitionSpec = c.partitioning.map(toPartitionField(_, schema)),
          properties = specProperties(c.tableSpec))
        val engine = new graft.commands.LakeEngine(spark, catalog)
        engine.insert(t, df)
        ()
      })
    case d: DropTable if lakeIdent(d.child).isDefined =>
      val name = lakeIdent(d.child).get
      Some(runDdl(name, d.ifExists, exists => exists) { (catalog, _) =>
        catalog.dropTable(name)
      })

    // ALTER TABLE -> field-id schema evolution / property commits
    case a: AddColumns if lakeTable(a.table).isDefined =>
      alter(lakeTable(a.table).get) { t =>
        t.evolveSchema { s =>
          var next = t.metadata.lastAssignedFieldId
          val added = a.columnsToAdd.map { q =>
            if (q.path.nonEmpty)
              throw new ValidationException(
                "nested ADD COLUMNS is API-only (LakeTable.evolveSchema)")
            next += 1
            graft.format.FieldIds.withId(StructField(q.colName, q.dataType, q.nullable), next)
          }
          (StructType(s.fields ++ added), next)
        }
      }
    case r: RenameColumn if lakeTable(r.table).isDefined =>
      alter(lakeTable(r.table).get)(_.renameColumn(singleName(r.column.name), r.newName))
    case d: DropColumns if lakeTable(d.table).isDefined =>
      alter(lakeTable(d.table).get) { t =>
        d.columnsToDrop.foreach { c =>
          val n = singleName(c.name)
          if (t.schema.fieldNames.contains(n)) t.dropColumn(n)
          else if (!d.ifExists)
            throw new ValidationException(s"no column $n to drop")
        }
      }
    case a: AlterColumns if lakeTable(a.table).isDefined =>
      alter(lakeTable(a.table).get) { t =>
        a.specs.foreach { sp =>
          val dt = sp.newDataType.getOrElse(throw new ValidationException(
            "only ALTER COLUMN ... TYPE is supported on lake tables"))
          t.widenColumn(singleName(sp.column.name), dt)
        }
      }
    case s: SetTableProperties if lakeTable(s.table).isDefined =>
      alter(lakeTable(s.table).get)(_.setProperties(s.properties))
    case u: UnsetTableProperties if lakeTable(u.table).isDefined =>
      alter(lakeTable(u.table).get)(_.setProperties(Map.empty, u.propertyKeys.toSet))

    // SHOW TABLES IN lake [LIKE 'pattern'] -> warehouse directory listing
    case st: org.apache.spark.sql.catalyst.plans.logical.ShowTables
        if (st.namespace match {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace(Seq(ns), _) =>
            ns.equalsIgnoreCase("lake")
          case _ => false
        }) =>
      val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(
        throw new ValidationException("SHOW TABLES IN lake requires spark.graft.warehouse"))
      val dir = Paths.get(warehouse)
      val names =
        if (!java.nio.file.Files.isDirectory(dir)) Seq.empty[String]
        else {
          java.nio.file.Files.list(dir).iterator().asScala
            .filter(p => LakeTable.exists(p.toString))
            .map(_.getFileName.toString).toSeq.sorted
        }
      val filtered = st.pattern match {
        case Some(p) =>
          // only '*' and '|' are pattern metacharacters (Spark's SHOW TABLES
          // contract); everything else is literal, so quote each segment
          val alt = p.split("\\|", -1).map(_.split("\\*", -1)
            .map(seg => if (seg.isEmpty) "" else java.util.regex.Pattern.quote(seg))
            .mkString(".*")).mkString("|")
          val rx = s"(?i)^($alt)$$".r
          names.filter(n => rx.findFirstIn(n).isDefined)
        case None => names
      }
      Some(LocalRelation(
        Seq(AttributeReference("namespace", org.apache.spark.sql.types.StringType, nullable = false)(),
          AttributeReference("tableName", org.apache.spark.sql.types.StringType, nullable = false)(),
          AttributeReference("isTemporary", org.apache.spark.sql.types.BooleanType, nullable = false)()),
        filtered.map(n => InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString("lake"),
          org.apache.spark.unsafe.types.UTF8String.fromString(n), false))))

    // DESCRIBE [TABLE] lake.t -> column rows + partition/property detail
    case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation
        if (d.relation match {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView(parts, _, _) =>
            parts.length == 2 && parts.head.equalsIgnoreCase("lake")
          case _ => false
        }) =>
      val name = d.relation
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView]
        .multipartIdentifier(1)
      val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(
        throw new ValidationException(s"DESCRIBE lake.$name requires spark.graft.warehouse"))
      val location = Paths.get(warehouse, name).toString
      if (!LakeTable.exists(location))
        throw new ValidationException(s"no lake table $name")
      val t = LakeTable.load(location)
      def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val colRows = t.schema.fields.toSeq.map(f =>
        InternalRow(u(f.name), u(f.dataType.simpleString), null))
      val partRows = t.metadata.partitionSpec.toSeq.map(pf =>
        InternalRow(u(s"# partition: ${pf.name}"), u(s"${pf.transform}(${pf.sourceColumn})"), null))
      val propRows =
        if (!d.isExtended) Seq.empty
        else t.properties.toSeq.sorted.map { case (k, v) =>
          InternalRow(u(s"# property: $k"), u(v), null) }
      Some(LocalRelation(
        Seq(AttributeReference("col_name", org.apache.spark.sql.types.StringType, nullable = false)(),
          AttributeReference("data_type", org.apache.spark.sql.types.StringType, nullable = false)(),
          AttributeReference("comment", org.apache.spark.sql.types.StringType, nullable = true)()),
        colRows ++ partRows ++ propRows))

    case _ => None
  }

  private def singleName(parts: Seq[String]): String = parts match {
    case Seq(one) => one
    case other => throw new ValidationException(
      s"nested column reference not supported via SQL: ${other.mkString(".")}")
  }

  private def lakeTable(p: LogicalPlan): Option[String] = p match {
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if t.multipartIdentifier.length == 2 &&
          t.multipartIdentifier.head.equalsIgnoreCase("lake") =>
      Some(t.multipartIdentifier(1))
    case _ => None
  }

  private def alter(name: String)(body: LakeTable => Unit): Option[LogicalPlan] =
    Some(runDdl(name, ifFlag = false, exists => exists) { (catalog, _) =>
      body(catalog.loadTable(name))
    })

  /** [lake, name] in either pre- or post-catalog-resolution form. */
  private def lakeIdent(p: LogicalPlan): Option[String] = p match {
    case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _)
        if parts.length == 2 && parts.head.equalsIgnoreCase("lake") => Some(parts(1))
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier
        if r.identifier.namespace.toSeq == Seq("lake") => Some(r.identifier.name)
    case _ => None
  }

  private def specProperties(spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Map[String, String] =
    spec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec => u.properties
      case t: org.apache.spark.sql.catalyst.plans.logical.TableSpec => t.properties
      case _ => Map.empty
    }

  /** DDL PARTITIONED BY transform -> lake partition field (the engine's
    * transform grammar: identity | bucket[N] | truncate[W] | year | month
    * | day | hour). */
  private def toPartitionField(t: org.apache.spark.sql.connector.expressions.Transform,
      schema: StructType): graft.format.PartitionField = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    val args = t.arguments().toSeq
    val refs = args.collect { case n: NamedReference => n }
    val lits = args.collect { case l: VLit[_] => l }
    if (refs.length != 1 || refs.head.fieldNames.length != 1)
      throw new ValidationException(
        s"partition transform ${t.describe()} must reference exactly one top-level column")
    val c = refs.head.fieldNames.head
    val pf = t.name() match {
      case "identity" => graft.format.PartitionField(c, c, "identity")
      case "years"    => graft.format.PartitionField(s"${c}_year", c, "year")
      case "months"   => graft.format.PartitionField(s"${c}_month", c, "month")
      case "days"     => graft.format.PartitionField(s"${c}_day", c, "day")
      case "hours"    => graft.format.PartitionField(s"${c}_hour", c, "hour")
      case "bucket" if lits.length == 1 =>
        graft.format.PartitionField(s"${c}_bucket", c, s"bucket[${lits.head.value}]")
      case "truncate" if lits.length == 1 =>
        graft.format.PartitionField(s"${c}_trunc", c, s"truncate[${lits.head.value}]")
      case other => throw new ValidationException(s"unsupported partition transform: $other")
    }
    if (!schema.fieldNames.contains(pf.sourceColumn))
      throw new ValidationException(s"partition source ${pf.sourceColumn} not in schema")
    pf
  }

  /** Run a DDL action eagerly; `proceed(exists)` false + the statement's
    * IF [NOT] EXISTS flag turns the statement into a no-op, otherwise a
    * missing/present table errors via the action itself. */
  private def runDdl(name: String, ifFlag: Boolean, proceed: Boolean => Boolean)(
      body: (LakeCatalog, String) => Unit): LogicalPlan = {
    val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new ValidationException(
        s"DDL on lake.$name requires spark.graft.warehouse to be set"))
    val catalog = new LakeCatalog(warehouse)
    val exists = catalog.tableExists(name)
    if (proceed(exists)) body(catalog, warehouse)
    else if (!ifFlag)
      throw new ValidationException(
        if (exists) s"table lake.$name already exists" else s"no lake table $name")
    LocalRelation(Nil)
  }

  private def lakeTarget(p: LogicalPlan): Option[(UnresolvedRelation, String)] = p match {
    case SubqueryAlias(id, u: UnresolvedRelation) if isLake(u) => Some((u, id.name))
    case u: UnresolvedRelation if isLake(u) => Some((u, u.multipartIdentifier(1)))
    case _ => None
  }

  private def lastName(sql: String): String =
    stripQuotes(sql.split('.').last)

  /** Execute an analyzed-on-demand plan into a DataFrame using only
    * public API: executePlan -> InternalRow RDD -> encoder deserializer
    * -> createDataFrame. (Dataset.ofRows is private[sql]; this bridge
    * avoids both that and any class in Spark's namespace.) */
  private def planToDF(query: LogicalPlan): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = cs.sessionState.executePlan(query)
    val schema = qe.analyzed.schema
    val deser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      .resolveAndBind(qe.analyzed.output)
      .createDeserializer()
    val rows = qe.toRdd.map(r => deser(r.copy()))
    cs.createDataFrame(rows, schema)
  }

  private def isLake(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 2 &&
      u.multipartIdentifier.head.equalsIgnoreCase("lake")

  private def exprSql(cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]): String =
    cond.map(_.sql).getOrElse("true")

  private def assignmentMap(as: Seq[Assignment]): Map[String, String] =
    as.map(a => stripQuotes(a.key.sql) -> a.value.sql).toMap

  private def stripQuotes(s: String): String = s.replace("`", "")

  /** Execute a DML command eagerly and rewrite the statement into its
    * commit-metrics result relation. */
  private def runDml(u: UnresolvedRelation, kind: String)(
      body: (graft.commands.LakeEngine, LakeTable, Option[String]) => graft.format.CommitMetrics): LogicalPlan = {
    val spec0 = u.multipartIdentifier(1)
    // INSERT INTO lake.`t$branch_b` appends to branch b (D12 branch
    // writes; a WAP-style write-audit-publish target). Every other ref
    // suffix - and every other DML kind - stays read-only.
    val (spec, branch) = spec0.split('$') match {
      case Array(t) => (t, None)
      case Array(t, r) if r.startsWith("branch_") && kind == "INSERT" =>
        (t, Some(r.stripPrefix("branch_")))
      case _ => throw new ValidationException(
        s"$kind on a time-travel/metadata reference is not allowed: $spec0")
    }
    val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new ValidationException(
        s"$kind lake.$spec requires spark.graft.warehouse to be set"))
    val location = Paths.get(warehouse, spec).toString
    if (!LakeTable.exists(location))
      throw new ValidationException(s"no lake table at $location")
    val engine = new graft.commands.LakeEngine(spark, new LakeCatalog(warehouse))
    val m = body(engine, LakeTable.load(location), branch)
    LocalRelation(
      Seq(AttributeReference("snapshot_id", LongType, nullable = false)(),
        AttributeReference("added_files", LongType, nullable = false)(),
        AttributeReference("removed_files", LongType, nullable = false)(),
        AttributeReference("added_records", LongType, nullable = false)(),
        AttributeReference("removed_records", LongType, nullable = false)()),
      Seq(InternalRow(m.snapshotId, m.addedFiles.toLong, m.removedFiles.toLong,
        m.addedRecords, m.removedRecords)))
  }

  private val MetaKinds = Set("snapshots", "files", "history", "partitions")

  private def resolve(spec: String): Option[LogicalPlan] = {
    val warehouse = spark.conf.getOption("spark.graft.warehouse").getOrElse(return None)
    val idx = spec.indexOf('$')
    val suffix = if (idx < 0) "" else spec.substring(idx + 1)
    val name = if (idx < 0) spec else spec.substring(0, idx)
    val location = Paths.get(warehouse, name).toString
    if (!LakeTable.exists(location)) return None
    val table = LakeTable.load(location)
    if (MetaKinds.contains(suffix))
      // `$snapshots` / `$files` / `$history` / `$partitions`
      // introspection relations (Iceberg metadata-table shape)
      Some(metadataDF(table, suffix).queryExecution.analyzed)
    else if (suffix.startsWith("changes_")) {
      // `t$changes_<fromSnapshotId>` — file-level CDC from the given
      // snapshot (exclusive) to the current head
      val fromId = suffix.stripPrefix("changes_").toLong
      val engine = new graft.commands.LakeEngine(spark,
        new LakeCatalog(Paths.get(location).getParent.toString))
      Some(engine.readChanges(table, Some(fromId)).queryExecution.analyzed)
    } else {
      // the graft-lake batch relation: filters, columns, aggregates and
      // limits push into its scan during optimization, so files are
      // pruned and listed only when the query is physically planned
      val (_, ref) = parseRef(spec)
      Some(DataSourceV2Relation.create(new LakeDsv2Table(location, loaded = Some(table)),
        None, None, new CaseInsensitiveStringMap(LakeDsv2.refOptions(ref).asJava)))
    }
  }

  private def metadataDF(table: LakeTable, kind: String) = {
    val session = spark
    import session.implicits._
    kind match {
      case "snapshots" =>
        table.metadata.snapshots.map(s => (s.id, s.parentId, s.timestampMs,
            s.operation, s.manifests.size, s.manifests.map(_.recordCount).sum, s.summary))
          .toDF("snapshot_id", "parent_id", "committed_at_ms", "operation",
            "manifest_count", "record_count", "summary")
      case "files" =>
        table.currentFiles().map(f => (f.path, f.partition, f.recordCount,
            f.sizeBytes, f.schemaId, f.specId))
          .toDF("path", "partition", "record_count", "size_bytes", "schema_id", "spec_id")
      case "history" =>
        table.metadata.refs.toSeq.map { case (n, r) => (n, r.snapshotId, r.isBranch) }
          .toDF("ref_name", "snapshot_id", "is_branch")
      case "partitions" =>
        // A4 surface as a metadata relation: per-partition file/record
        // counts from manifests alone — zero data read
        new TableScan(spark, table).partitionRecordCounts()
          .map { case (specId, part, records) =>
            (specId, part.toSeq.sortBy(_._1).map(kv => s"${kv._1}=${kv._2}").mkString("/"),
              records) }
          .toDF("spec_id", "partition", "record_count")
    }
  }

  /** `name$snapshot_<id>` / `name$timestamp_<epochMillis>` /
    * `name$branch_<b>` / `name$tag_<t>` -> (name, TableRef). */
  private def parseRef(spec: String): (String, TableRef) = {
    val idx = spec.indexOf('$')
    if (idx < 0) return (spec, TableRef.Head)
    val (name, suffix) = (spec.substring(0, idx), spec.substring(idx + 1))
    val ref = suffix match {
      case s if s.startsWith("snapshot_")  => TableRef.SnapshotId(s.stripPrefix("snapshot_").toLong)
      case s if s.startsWith("timestamp_") =>
        val v = s.stripPrefix("timestamp_")
        // reference parity: the suffix is a local-datetime string
        // (SqlQueryProcessor.java:386-388, DateTimeUtil
        // .parseLocalDateTimeToMicros); bare epoch millis also accepted
        val ms =
          if (v.nonEmpty && v.forall(_.isDigit)) v.toLong
          else {
            val ldt =
              if (v.contains('T')) java.time.LocalDateTime.parse(v)
              else java.time.LocalDate.parse(v).atStartOfDay()
            ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          }
        TableRef.AsOfTimestamp(ms)
      case s if s.startsWith("branch_")    => TableRef.Branch(s.stripPrefix("branch_"))
      case s if s.startsWith("tag_")       => TableRef.Tag(s.stripPrefix("tag_"))
      case other => throw new IllegalArgumentException(s"unknown time-travel suffix: $other")
    }
    (name, ref)
  }
}
