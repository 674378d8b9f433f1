package graft.streaming

import graft.format.{FileEntry, LakeTable}
import graft.scan.SchemaEvolve
import java.util.{Map => JMap}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Lake tables as a DataSource V2 connector — a MicroBatchStream SOURCE
  * (the mirror of [[LakeStreamSink]], closing the table-to-table
  * incremental pipeline; net-new vs the reference, which has no
  * streaming surface) plus a plain Batch read.
  *
  * Offsets are snapshot ids: a micro-batch reads exactly the files
  * appended between two snapshots ([[LakeTable.appendedFiles]] — shared
  * manifest chunks are skipped unread, so per-batch planning cost is
  * O(new files)). Restart resumes from the checkpointed snapshot id with
  * no duplicates and no gaps; paired with the sink's batch-id markers the
  * whole pipeline is exactly-once. Append-only ranges: a compaction or
  * delete inside an unread range fails the stream rather than replaying
  * rewritten rows.
  *
  * Execution delegates to Spark's own vectorized parquet machinery: each
  * batch plans its files through a [[ParquetScanBuilder]] (one per
  * written-schema group) and reuses the resulting FilePartitions and
  * reader factory; files written under an older schema are projected to
  * the current schema by the same field-id [[SchemaEvolve]] rules as the
  * batch path, bound once and applied per-row in the reader. No classes
  * live in Spark's namespace and no v1 `Source` shim is needed.
  *
  * Usage: `spark.readStream.format("graft-lake").option("path", loc).load()`
  * for a stream; `spark.read.format("graft-lake")` and SQL over
  * `lake.<t>` (which resolves to this connector's relation) share one
  * batch read path, [[LakeScan]]: pushed filters prune files through
  * [[graft.scan.TableScan.planFiles]] and skip row groups in the parquet
  * reader, and columns, aggregates, runtime filters and limits push down.
  */
class LakeSourceProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-lake"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = LakeDsv2.clean(LakeTable.load(LakeDsv2.path(options)).schema)
    if (LakeDsv2.changesMode(options.get _)) LakeDsv2.withChangeType(base) else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LakeDsv2Table(properties.get("path"),
      LakeDsv2.changesMode(k => properties.get(k)))

  /** `df.writeStream.format("graft-lake").option("path", loc)` — the
    * exactly-once lake sink as a first-class stream sink (v1 Sink API:
    * its DataFrame-level addBatch is exactly the transactional
    * micro-batch append; DSv2 StreamingWrite would force executor-side
    * parquet writers for no gain). `query-key` scopes the batch-id
    * high-water mark; it defaults to the checkpoint location so two
    * independent streams into one table cannot dedup each other. A
    * checkpoint set only via the spark.sql.streaming.checkpointLocation
    * conf does NOT reach the sink's options map, so with neither option
    * present the sink fails fast rather than silently keying every
    * stream into the table on one shared high-water mark (which would
    * drop sibling streams' batches as replays). */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val location = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake sink requires option 'path'"))
    val queryKey = parameters.getOrElse("query-key",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "graft-lake sink requires option 'query-key' (or an explicit " +
            ".option(\"checkpointLocation\", ...)) to scope its exactly-once " +
            "batch-id high-water mark; a session-conf checkpoint is not " +
            "visible here and cannot distinguish independent streams")))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
        val spark = data.sparkSession
        val warehouse = java.nio.file.Paths.get(location).getParent.toString
        val engine = new graft.commands.LakeEngine(spark,
          new graft.format.LakeCatalog(warehouse))
        // v1 sinks receive a streaming-flagged DataFrame that must run
        // through ITS OWN (incremental) query execution — re-planning via
        // .rdd is rejected. Rebind collect-free through the prepared
        // plan's InternalRow RDD + the row deserializer (public API).
        val qe = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
          .queryExecution
        val deser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(data.schema))
          .resolveAndBind(qe.analyzed.output)
          .createDeserializer()
        val batch = spark.createDataFrame(qe.toRdd.map(r => deser(r.copy())), data.schema)
        // the rebound LogicalRDD can't estimate its size (defaults to
        // "huge"), but the incremental execution's own optimized plan
        // can — pass it through so a small micro-batch takes the
        // single-file no-shuffle write path
        LakeStreamSink.appendBatch(engine, LakeTable.load(location), queryKey, batchId, batch,
          sizeHintBytes = Some(qe.optimizedPlan.stats.sizeInBytes))
      }
      override def toString: String = s"graft-lake sink [$location]"
    }
  }
}

private[graft] object LakeDsv2 {
  val ChangeTypeCol = "_change_type"
  val CommitSnapshotCol = "_commit_snapshot_id"

  def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake requires option 'path'"))

  /** Positive-long option with a clear parse error (a silent zero or
    * negative cap would shrink every batch to one snapshot). */
  def positiveOption(options: CaseInsensitiveStringMap, name: String): Option[Long] =
    Option(options.get(name)).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option '$name' must be a positive integer, got '$v'")
      }
      if (n <= 0) throw new IllegalArgumentException(
        s"option '$name' must be a positive integer, got '$v'")
      n
    }

  /** `option("read-changes", "true")`: row-level CDC — each micro-batch
    * steps snapshot-by-snapshot through its offset range and emits the
    * per-commit changes as rows tagged `_change_type` = insert | delete
    * plus `_commit_snapshot_id` (Delta CDF shape: its _commit_version),
    * so a consumer can order delete-before-insert when one key is
    * rewritten inside a single micro-batch. */
  def changesMode(get: String => String): Boolean =
    Option(get("read-changes")).exists(_.equalsIgnoreCase("true"))

  def withChangeType(s: StructType): StructType =
    StructType(s.fields :+ org.apache.spark.sql.types.StructField(
      ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false)
      :+ org.apache.spark.sql.types.StructField(
      CommitSnapshotCol, org.apache.spark.sql.types.LongType, nullable = false))

  /** Time-travel read options (batch read only):
    * snapshot-id | timestamp (epoch millis) | branch | tag. */
  def refOf(get: String => String): graft.format.TableRef = {
    import graft.format.TableRef
    Seq[(String, String => TableRef)](
      "snapshot-id" -> (v => TableRef.SnapshotId(v.toLong)),
      "timestamp"   -> (v => TableRef.AsOfTimestamp(v.toLong)),
      "branch"      -> (v => TableRef.Branch(v)),
      "tag"         -> (v => TableRef.Tag(v)))
      .collectFirst { case (k, f) if get(k) != null => f(get(k)) }
      .getOrElse(TableRef.Head)
  }

  /** The read options [[refOf]] maps back to `ref`. */
  def refOptions(ref: graft.format.TableRef): Map[String, String] = {
    import graft.format.TableRef
    ref match {
      case TableRef.Head => Map.empty
      case TableRef.SnapshotId(id) => Map("snapshot-id" -> id.toString)
      case TableRef.AsOfTimestamp(ms) => Map("timestamp" -> ms.toString)
      case TableRef.Branch(b) => Map("branch" -> b)
      case TableRef.Tag(t) => Map("tag" -> t)
    }
  }

  /** DSv2 source filter -> pruning predicate. Unconvertible filters map
    * to None and simply don't prune (Spark re-evaluates every filter on
    * the returned rows, so pushdown here is pruning-only and always
    * sound). */
  def toPred(f: org.apache.spark.sql.sources.Filter): Option[graft.scan.Pred] = {
    import org.apache.spark.sql.sources._
    import graft.scan
    def top(attr: String): Option[String] = if (attr.contains('.')) None else Some(attr)
    f match {
      case EqualTo(a, v) => top(a).map(scan.Eq(_, v))
      case LessThan(a, v) => top(a).map(scan.Lt(_, v))
      case LessThanOrEqual(a, v) => top(a).map(scan.Le(_, v))
      case GreaterThan(a, v) => top(a).map(scan.Gt(_, v))
      case GreaterThanOrEqual(a, v) => top(a).map(scan.Ge(_, v))
      case In(a, vs) => top(a).map(scan.In(_, vs.toSeq))
      case IsNull(a) => top(a).map(scan.IsNull(_))
      case IsNotNull(a) => top(a).map(scan.NotNull(_))
      case StringStartsWith(a, p) => top(a).map(scan.StartsWith(_, p))
      case And(l, r) => (toPred(l), toPred(r)) match {
        case (Some(a), Some(b)) => Some(scan.And(a, b))
        case (a, b) => a.orElse(b) // AND may soundly keep the convertible side
      }
      case Or(l, r) => for { a <- toPred(l); b <- toPred(r) } yield scan.Or(a, b)
      // negation pushed into the leaf (the Pred algebra has no Not node)
      case Not(EqualTo(a, v)) => top(a).map(scan.Ne(_, v))
      case Not(In(a, vs)) => top(a).map(scan.NotIn(_, vs.toSeq))
      case Not(IsNull(a)) => top(a).map(scan.NotNull(_))
      case Not(IsNotNull(a)) => top(a).map(scan.IsNull(_))
      case Not(LessThan(a, v)) => top(a).map(scan.Ge(_, v))
      case Not(LessThanOrEqual(a, v)) => top(a).map(scan.Gt(_, v))
      case Not(GreaterThan(a, v)) => top(a).map(scan.Le(_, v))
      case Not(GreaterThanOrEqual(a, v)) => top(a).map(scan.Lt(_, v))
      case _ => None
    }
  }

  def clean(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(metadata = Metadata.empty)))

  /** `dt` nullable at every level, as Spark's file sources declare what
    * they read: a column written NOT NULL still reads NULL from a file
    * written before it existed or by an INSERT that omitted it, and a
    * non-nullable declaration would turn that NULL into a zero. */
  def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), valueContainsNull = true)
    case other => other
  }

  /** Plan `files` through Spark's parquet reader: one ParquetScanBuilder
    * per written-schema group (partition inference suppressed — the lake
    * layout's hive-style dirs are NOT DSv2 partition columns), partitions
    * tagged with their group, one factory per group plus the bound
    * field-id projection for groups not already on the current schema.
    * `out` is the (possibly column-pruned) slice of the CURRENT schema
    * the scan must produce: current-schema groups read exactly those
    * columns from parquet; older-schema groups read their id-matched
    * source columns and project. */
  /** Re-attach field ids to the pruned output slice (pruneColumns hands
    * back metadata-free columns; ids drive the evolution projection).
    * Fields that already carry an id (a stream's pinned schema) are kept
    * verbatim so a concurrent table evolution cannot change the output
    * layout mid-stream. */
  private def outWithIds(table: LakeTable, out: StructType): StructType = {
    val cur = table.schema
    StructType(out.fields.map(f =>
      if (graft.format.FieldIds.of(f) >= 0) f
      else cur.fields.find(_.name == f.name).getOrElse(f)))
  }

  /** Columns of written schema `sid` feeding the requested output (id
    * match); reading only those is the column-pruning pushdown. */
  private def readWrittenFor(table: LakeTable, sid: Int, outIds: StructType): StructType = {
    val ids = outIds.fields.map(graft.format.FieldIds.of).toSet
    StructType(table.schemaFor(sid).fields.filter(f =>
      ids.contains(graft.format.FieldIds.of(f))))
  }

  /** `filters` reach the parquet reader, which skips row groups whose
    * footer statistics exclude them; rows are still re-filtered above
    * the scan. */
  private def parquetScanFor(spark: ClassicSession, readWritten: StructType,
      files: Seq[FileEntry], filters: Array[Filter] = Array.empty) = {
    val index = new InMemoryFileIndex(spark, files.map(f => new Path(f.path)),
      Map.empty, Some(clean(readWritten)), userSpecifiedPartitionSpec = Some(PartitionSpec.emptySpec))
    val builder = ParquetScanBuilder(spark, index, clean(readWritten), clean(readWritten),
      new CaseInsensitiveStringMap(new java.util.HashMap[String, String]()))
    builder.build().copy(pushedFilters = builder.pushDataFilters(filters))
  }

  /** The filters that may be evaluated against files of written schema
    * `sid`: every column they reference is stored there under the same
    * name, field id and type as in the current schema. A renamed, retyped
    * or dropped-and-re-added column keeps its filter above the scan only. */
  private def filtersFor(table: LakeTable, sid: Int, filters: Array[Filter]): Array[Filter] = {
    if (filters.isEmpty) return filters
    val cur = table.schema
    val written = table.schemaFor(sid)
    def same(name: String): Boolean =
      (cur.fields.find(_.name == name), written.fields.find(_.name == name)) match {
        case (Some(c), Some(w)) =>
          graft.format.FieldIds.of(c) == graft.format.FieldIds.of(w) && c.dataType == w.dataType
        case _ => false
      }
    filters.filter(_.references.forall(same))
  }

  def plan(spark: ClassicSession, table: LakeTable, files: Seq[FileEntry],
      out: StructType): (Array[InputPartition], PartitionReaderFactory) = {
    if (files.isEmpty) return (Array.empty, EmptyReaderFactory)
    val outIds = outWithIds(table, out)
    val groups = files.groupBy(_.schemaId).toSeq.sortBy(_._1)
    val parts = Vector.newBuilder[InputPartition]
    val factories = Map.newBuilder[Int, PartitionReaderFactory]
    val projections = Map.newBuilder[Int, Seq[Expression]]
    groups.foreach { case (sid, fs) =>
      val readWritten = readWrittenFor(table, sid, outIds)
      val batch = parquetScanFor(spark, readWritten, fs).toBatch
      batch.planInputPartitions().foreach(p => parts += SchemaGroupPartition(sid, p))
      factories += sid -> batch.createReaderFactory()
      if (clean(readWritten) != clean(outIds))
        projections += sid -> boundEvolveExprs(spark, readWritten, outIds)
    }
    (parts.result().toArray, GroupReaderFactory(factories.result(), projections.result()))
  }

  /** Partitions only — used with [[readerFactory]] by the batch scan,
    * where Spark may re-plan partitions after runtime filtering while
    * keeping the factory built at physical planning. */
  def planPartitions(spark: ClassicSession, table: LakeTable, files: Seq[FileEntry],
      out: StructType): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    graft.scan.TableScan.ensureReadConf(spark)
    val outIds = outWithIds(table, out)
    val parts = Vector.newBuilder[InputPartition]
    files.groupBy(_.schemaId).toSeq.sortBy(_._1).foreach { case (sid, fs) =>
      val batch = parquetScanFor(spark, readWrittenFor(table, sid, outIds), fs).toBatch
      batch.planInputPartitions().foreach(p => parts += SchemaGroupPartition(sid, p))
    }
    parts.result().toArray
  }

  /** Factory covering EVERY schema id the snapshot knows — built from
    * an empty file index (the parquet reader factory derives from
    * schema + conf, not from the planned files), so factory creation
    * costs O(schemas), never O(files). Any file set planned from the
    * same snapshot is a subset of these groups. */
  def readerFactory(spark: ClassicSession, table: LakeTable,
      out: StructType, filters: Array[Filter]): PartitionReaderFactory = {
    val outIds = outWithIds(table, out)
    val factories = Map.newBuilder[Int, PartitionReaderFactory]
    val projections = Map.newBuilder[Int, Seq[Expression]]
    table.metadata.schemas.keys.map(_.toInt).toSeq.sorted.foreach { sid =>
      val readWritten = readWrittenFor(table, sid, outIds)
      factories += sid -> parquetScanFor(spark, readWritten, Seq.empty,
        filtersFor(table, sid, filters)).toBatch.createReaderFactory()
      if (clean(readWritten) != clean(outIds))
        projections += sid -> boundEvolveExprs(spark, readWritten, outIds)
    }
    GroupReaderFactory(factories.result(), projections.result())
  }

  /** The [[SchemaEvolve]] column projection, analyzed against an empty
    * relation of the written schema and bound to its output order — i.e.
    * exactly the expressions the batch path would run, ready to apply to
    * raw parquet reader rows on executors. */
  private def boundEvolveExprs(spark: ClassicSession, written: StructType,
      cur: StructType): Seq[Expression] = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], clean(written))
    val analyzed = empty.select(SchemaEvolve.columns(written, cur): _*)
      .queryExecution.analyzed
    val project = analyzed.collectFirst { case p: Project => p }.getOrElse(
      throw new IllegalStateException(s"evolution projection did not analyze to a Project: $analyzed"))
    BindReferences.bindReferences(
      project.projectList.asInstanceOf[Seq[Expression]],
      project.child.output.asInstanceOf[Seq[Attribute]])
  }
}

private[streaming] final case class SchemaGroupPartition(
    schemaId: Int, inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private[streaming] case object EmptyReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new IllegalStateException("empty scan has no partitions")
}

/** Routes each partition to its schema group's parquet factory and, for
  * groups written under an older schema, applies the bound field-id
  * projection per row (built lazily executor-side — UnsafeProjection
  * itself is not serializable, the expressions are). When no group needs
  * a projection, the parquet factories' columnar batches pass through
  * as they are; Spark needs one mode for all partitions of a scan, so a
  * single projected group makes every group row-based. */
private[streaming] final case class GroupReaderFactory(
    factories: Map[Int, PartitionReaderFactory],
    projections: Map[Int, Seq[Expression]]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val sgp = p.asInstanceOf[SchemaGroupPartition]
    projections.isEmpty && factories(sgp.schemaId).supportColumnarReads(sgp.inner)
  }

  override def createColumnarReader(p: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val sgp = p.asInstanceOf[SchemaGroupPartition]
    factories(sgp.schemaId).createColumnarReader(sgp.inner)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sgp = p.asInstanceOf[SchemaGroupPartition]
    val inner = factories(sgp.schemaId).createReader(sgp.inner)
    projections.get(sgp.schemaId) match {
      case None => inner
      case Some(exprs) => new PartitionReader[InternalRow] {
        private[this] val proj = UnsafeProjection.create(exprs)
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = proj(inner.get())
        override def close(): Unit = inner.close()
      }
    }
  }
}

private[graft] final class LakeDsv2Table(location: String,
    changes: Boolean = false, loaded: Option[LakeTable] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val table = loaded.getOrElse(LakeTable.load(location))

  override def name(): String = s"graft-lake:$location"
  override def schema(): StructType = {
    val base = LakeDsv2.asNullable(LakeDsv2.clean(table.schema)).asInstanceOf[StructType]
    if (changes) LakeDsv2.withChangeType(base) else base
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScan(location, schema(), LakeDsv2.refOf(options.get),
      changes = changes || LakeDsv2.changesMode(options.get),
      maxFilesPerTrigger = LakeDsv2.positiveOption(options, "maxFilesPerTrigger").map(_.toInt),
      maxBytesPerTrigger = LakeDsv2.positiveOption(options, "maxBytesPerTrigger"))

  /** Batch write via the V1Write fallback: the DataFrame-level insert
    * reuses the transactional LakeWriter/commit path (distributed stats
    * harvest, partition layout, atomic snapshot) instead of
    * reimplementing parquet writers at the DSv2 executor level.
    * `df.write.format("graft-lake").option("path", loc).mode(...)`:
    * append = insert commit, overwrite = strict full overwrite. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
              val spark = data.sparkSession
              val warehouse = java.nio.file.Paths.get(location).getParent.toString
              val engine = new graft.commands.LakeEngine(spark,
                new graft.format.LakeCatalog(warehouse))
              val t = LakeTable.load(location)
              if (overwrite || ow) engine.insertOverwrite(t, data, "true")
              else engine.insert(t, data)
              ()
            }
        }
    }
}

private[streaming] final class LakeScan(location: String, outSchema: StructType,
    ref: graft.format.TableRef, changes: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends ScanBuilder with Scan
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  /** Unordered LIMIT pushdown: plan only enough files (by manifest
    * record counts) to cover the limit — a `df.limit(n).collect()` or
    * `.show()` against a 10^6-file table touches O(n/rows-per-file)
    * files instead of all of them. Partial push: Spark still applies
    * the exact row limit above the scan, so over-planning by one file
    * is always sound. File order is the manifest plan order —
    * any-n-rows semantics, which is all an unordered LIMIT promises.
    *
    * SOUNDNESS: the file cap counts RAW manifest rows, so it is only
    * valid when no predicate filters rows above the scan (this source
    * keeps every pushed filter residual). Spark's own rule happens to
    * push limits only below trivial filters, but the invariant is
    * enforced locally instead of relied on: the limit is accepted only
    * while the pushed predicate is AlwaysTrue, and re-checked at plan
    * time because runtime filters AND into `pred` after pushLimit. */
  private var limitRows: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    if (!changes && pred == graft.scan.AlwaysTrue) limitRows = Some(limit)
    false // partial: the scan bounds FILES, Spark still limits rows
  }

  private def applyLimit(files: Seq[FileEntry]): Seq[FileEntry] =
    limitRows match {
      case Some(n) if pred == graft.scan.AlwaysTrue =>
        val out = Seq.newBuilder[FileEntry]
        var seen = 0L
        val it = files.iterator
        while (seen < n && it.hasNext) {
          val f = it.next()
          out += f
          seen += f.recordCount
        }
        out.result()
      case _ => files
    }

  /** Dynamic file pruning (the DSv2 analog of dynamic partition
    * pruning): Spark collects the join's build-side keys at runtime and
    * pushes an IN filter here BEFORE planInputPartitions runs; the
    * filter ANDs into the metadata pruner so a fact scan joined to a
    * filtered dim plans only the files the dim's keys may touch —
    * O(matching) instead of O(table) at 100 TB. Advertised for every
    * top-level column: identity-partition values prune exactly, and
    * footer min/max make IN-set pruning sound (never wrong, possibly
    * conservative) on any other column. Runtime filters are
    * execution-time hints — rows are still re-filtered by the join. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (changes) Array.empty
    // only columns the (possibly pruned) scan OUTPUT carries: Spark
    // resolves these against the scan's output attributes, and a
    // projected-away column fails analysis inside PartitionPruning.
    // Dotted names are skipped: Expressions.column PARSES dots into
    // nested paths, which would mis-resolve a literal "a.b" column
    // (same guard as LakeDsv2.toPred's top()).
    else out.fields.filterNot(_.name.contains('.')).map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(
      filters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    // catalyst-internal literal -> external value the Pred layer's
    // literalKey understands (UTF8String -> String, micros/days -> the
    // temporal classes toEpochMicros accepts)
    def lit(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        (l.dataType, l.value) match {
        case (_, s: org.apache.spark.unsafe.types.UTF8String) => Some(s.toString)
        case (TimestampType | TimestampNTZType, micros: java.lang.Long) =>
          Some(java.time.Instant.ofEpochSecond(
            java.lang.Math.floorDiv(micros, 1000000L),
            java.lang.Math.floorMod(micros, 1000000L) * 1000L))
        case (DateType, days: java.lang.Integer) =>
          Some(java.time.LocalDate.ofEpochDay(days.longValue()))
        case (_, v) => Some(v)
      }
      case _ => None
    }
    val preds = filters.toSeq.flatMap { p =>
      p.name() match {
        case "IN" => p.children().toSeq match {
          case (nr: NamedReference) +: vals if nr.fieldNames.length == 1 =>
            val vs = vals.map(lit)
            if (vs.forall(_.isDefined))
              Some(graft.scan.In(nr.fieldNames()(0), vs.flatten))
            else None
          case _ => None
        }
        case "=" => p.children().toSeq match {
          case Seq(nr: NamedReference, v) if nr.fieldNames.length == 1 =>
            lit(v).map(graft.scan.Eq(nr.fieldNames()(0), _))
          case _ => None
        }
        case _ => None // unconvertible runtime filters are hints; skip
      }
    }
    if (preds.nonEmpty)
      pred = preds.foldLeft(pred)(graft.scan.And(_, _))
  }

  /** Accurate pre-execution statistics from the PRUNED file set —
    * manifest record counts and byte sizes after partition/stats
    * pruning, scaled by the projection's column fraction. Catalyst's
    * join planning (broadcast-vs-shuffle, build-side choice) sees the
    * post-pruning size instead of a blind default, so a selective
    * lake read joins like the small relation it actually is. Planning
    * cost is metadata-only (the same planFiles the read itself uses). */
  /** ONE table snapshot per scan: every planning surface (statistics,
    * metadata aggregation, partition planning — including the second
    * planInputPartitions pass Spark makes after runtime filters) reads
    * the SAME metadata. Without this, a commit landing between physical
    * planning and execution could hand the runtime-filtered pass files
    * from a newer snapshot whose schema groups the already-built reader
    * factory has never seen. */
  private lazy val tableSnap: LakeTable = LakeTable.load(location)

  /** One factory per scan, covering every schema group of the snapshot
    * (O(schemas) to build — no file planning); both toBatch instances
    * Spark may create (pre- and post-runtime-filter) hand out this same
    * factory. */
  private lazy val sharedFactory: PartitionReaderFactory =
    LakeDsv2.readerFactory(ClassicSession.active, tableSnap, out, pushed)

  /** planFiles memoized per pred state: supportCompletePushDown /
    * pushAggregation / estimateStatistics / partition planning would
    * otherwise each re-walk the manifests during one query's planning. */
  @volatile private var planCache: Option[(graft.scan.Pred, Seq[FileEntry])] = None
  private def plannedFiles(): Seq[FileEntry] = {
    val p = pred
    planCache match {
      case Some((cp, fs)) if cp == p => fs
      case _ =>
        val fs = new graft.scan.TableScan(ClassicSession.active, tableSnap, p, ref).planFiles()
        planCache = Some((p, fs))
        fs
    }
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    val files =
      try Some(plannedFiles())
      catch { case scala.util.control.NonFatal(_) => None }
    // column pruning shrinks what the read materializes; approximate
    // per-column weight uniformly (parquet sizes per column are not in
    // the manifests) with a floor so the estimate never reaches 0
    val frac =
      if (outSchema.fields.isEmpty) 1.0
      else math.max(out.fields.length.toDouble / outSchema.fields.length, 0.1)
    new org.apache.spark.sql.connector.read.Statistics {
      // a metadata failure must report UNKNOWN, not near-zero: a 1-byte
      // estimate would flip join planning to broadcasting a table that
      // is actually arbitrarily large
      override def sizeInBytes(): OptionalLong = files match {
        case Some(fs) =>
          OptionalLong.of(math.max((fs.map(_.sizeBytes).sum * frac).toLong, 1L))
        case None => OptionalLong.empty()
      }
      override def numRows(): OptionalLong = files match {
        case Some(fs) => OptionalLong.of(fs.map(_.recordCount).sum)
        case None => OptionalLong.empty()
      }
    }
  }

  // pruning-only pushdown: every filter stays residual (Spark re-applies
  // them all), the convertible conjunction drives metadata file pruning
  private var pred: graft.scan.Pred = graft.scan.AlwaysTrue
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // column pruning: the parquet readers then read only these columns
  private var out: StructType = outSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    val convertible = filters.flatMap(f => LakeDsv2.toPred(f).map(f -> _))
    pushed = convertible.map(_._1)
    pred = convertible.map(_._2)
      .reduceOption[graft.scan.Pred](graft.scan.And(_, _)).getOrElse(graft.scan.AlwaysTrue)
    filters // all residual: pushdown only prunes files, rows re-filtered
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // changes mode emits the full row + _change_type; Spark projects above.
  // Spark may hand back nested-pruned structs; the readers project whole
  // top-level columns, so the scan reads and declares those (Spark then
  // extracts the nested fields above the scan)
  override def pruneColumns(required: StructType): Unit =
    if (!changes)
      out = StructType(required.fields.map(f =>
        outSchema.fields.find(_.name == f.name).getOrElse(f)))

  override def build(): Scan = this
  override def readSchema(): StructType = out
  override def description(): String =
    if (aggRow.isDefined) s"graft-lake $location metadata-aggregated"
    else s"graft-lake $location pruned-by: ${pred}"

  // ---- aggregate pushdown: COUNT(*)/MIN/MAX answered from manifests —
  // zero data files read (Iceberg-style metadata aggregation). Complete
  // pushdown only, and only when provably exact: global aggregation, no
  // pushed filter (planned files would be a may-match superset), typed
  // numeric/temporal columns only (string/binary bounds are TRUNCATED
  // by the writer; decimal kept out for simplicity), per-file stats
  // present wherever a value is needed, and float/double MAX refused
  // unless every file's NaN count is known zero (footer bounds exclude
  // NaN, but Spark's MAX ranks NaN greatest). MIN stays sound under
  // NaNs: a file whose non-null values are all NaN has no finite bound
  // recorded and is refused via the missing-stats rule.
  private var aggRow: Option[Seq[Any]] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAgg(agg) match {
      case Some((schema, row)) =>
        out = schema
        aggRow = Some(row)
        true
      case None => false
    }

  // supportCompletePushDown and pushAggregation receive the SAME
  // Aggregation back-to-back; cache so the manifests are walked once
  @volatile private var aggCache:
      Option[(AnyRef, Option[(StructType, Seq[Any])])] = None

  private def metadataAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
      Option[(StructType, Seq[Any])] = aggCache match {
    case Some((key, res)) if key eq agg => res
    case _ =>
      val res = metadataAggUncached(agg)
      aggCache = Some((agg, res))
      res
  }

  private def metadataAggUncached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
      Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types._
    if (changes || agg.groupByExpressions.nonEmpty || pred != graft.scan.AlwaysTrue)
      return None
    val table = tableSnap
    val files = plannedFiles().filter(_.recordCount > 0)
    val schema = table.schema
    val idByName = schema.fields.map(f => f.name -> graft.format.FieldIds.of(f)).toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          schema.fields.find(_.name == nr.fieldNames()(0))
        case _ => None
      }
    def parse(dt: DataType, s: String): Option[Any] = dt match {
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType => Some(s.toInt)
      case LongType => Some(s.toLong)
      case FloatType => Some(s.toFloat)
      case DoubleType => Some(s.toDouble)
      case DateType => Some(s.toInt) // canonical = epoch days
      case TimestampType | TimestampNTZType => Some(s.toLong) // epoch micros
      case _ => None // strings/binary truncated; decimal unsupported
    }
    def ord(dt: DataType): Option[Ordering[Any]] = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue()))
      case FloatType | DoubleType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue()))
      case _ => None
    }
    def bound(f: StructField, isMin: Boolean): Option[Any] = {
      val fid = idByName.get(f.name).filter(_ > 0).map(_.toString).getOrElse(return None)
      val ordering = ord(f.dataType).getOrElse(return None)
      if (!isMin && (f.dataType == FloatType || f.dataType == DoubleType) &&
          !files.forall(_.stats.get(fid).exists(_.nanCount.contains(0L))))
        return None // NaN would out-rank the recorded footer max
      val perFile = files.map { fe =>
        fe.stats.get(fid) match {
          case None => return None // unknown file: cannot answer exactly
          case Some(cs) if cs.nullCount == fe.recordCount => None // all-null file
          case Some(cs) =>
            val b = if (isMin) cs.min else cs.max
            b match {
              case None => return None // values exist but no recorded bound
              case Some(s) => Some(parse(f.dataType, s).getOrElse(return None))
            }
        }
      }
      val defined = perFile.flatten
      if (defined.isEmpty) Some(null) // zero rows or all null -> NULL aggregate
      else Some(if (isMin) defined.min(ordering) else defined.max(ordering))
    }
    val resolved: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          files.map(_.recordCount).sum: Any))
      case m: Min => colOf(m.column).flatMap(f =>
        bound(f, isMin = true).map(v => (StructField(s"min_${f.name}", f.dataType), v)))
      case m: Max => colOf(m.column).flatMap(f =>
        bound(f, isMin = false).map(v => (StructField(s"max_${f.name}", f.dataType), v)))
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) None
    else {
      val cols = resolved.flatten
      Some((StructType(cols.map(_._1)), cols.map(_._2)))
    }
  }

  override def toBatch: Batch = {
    if (changes)
      throw new IllegalArgumentException(
        "read-changes is a streaming option; for a batch change feed use " +
          "SQL lake.`t$changes_<fromSnapshot>` or LakeEngine.readChanges")
    aggRow match {
      case Some(row) => new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          Array(LocalRowsPartition(Seq(row)))
        override def createReaderFactory(): PartitionReaderFactory =
          new LocalRowsReaderFactory
      }
      case None => new Batch {
        // Spark builds the reader factory at physical planning (before
        // runtime filters exist) but may call planInputPartitions on a
        // FRESH toBatch() after SupportsRuntimeV2Filtering.filter().
        // Both paths read the scan's single cached table snapshot, so
        // the runtime-filtered file set is always a SUBSET of the
        // factory's schema groups — and the factory is built from the
        // UNFILTERED snapshot exactly once per scan (shared across
        // toBatch instances via the factory cache below).
        private val spark = ClassicSession.active
        override def planInputPartitions(): Array[InputPartition] =
          LakeDsv2.planPartitions(spark, tableSnap, applyLimit(plannedFiles()), out)
        override def createReaderFactory(): PartitionReaderFactory = sharedFactory
      }
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (ref != graft.format.TableRef.Head)
      throw new IllegalArgumentException(
        "time-travel options are batch-read only; streams consume the live table")
    if (changes) {
      // fail fast instead of silently dropping the rate limit: the CDC
      // stream's unit of admission is a commit, not a file count
      if (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)
        throw new IllegalArgumentException(
          "maxFilesPerTrigger/maxBytesPerTrigger are not supported with " +
            "read-changes (CDC batches step per commit); remove one of the options")
      new LakeChangesMicroBatchStream(location)
    } else new LakeMicroBatchStream(location, maxFilesPerTrigger, maxBytesPerTrigger)
  }
}

/** Driver-computed rows shipped to one task — the carrier for
  * metadata-answered aggregates (values are catalyst-internal and
  * Serializable; the partition is a single bounded row). */
private[streaming] final case class LocalRowsPartition(rows: Seq[Seq[Any]])
  extends InputPartition

private[streaming] final class LocalRowsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[LocalRowsPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          cur = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            it.next().toArray)
          true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

final class LakeMicroBatchStream(location: String,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val spark = ClassicSession.active
  private val table = LakeTable.load(location)
  // The consumer's schema is fixed at stream start (inferSchema); every
  // micro-batch must emit THIS layout even if the table evolves while
  // the stream runs. Kept with field-id metadata so files committed
  // under a later schema are projected back by id (added columns drop,
  // removed columns resurface as NULL) instead of leaking a different
  // column count into the running plan.
  private val pinnedSchema = table.schema
  // AvailableNow pins the end offset at start; null = unbounded stream
  @volatile private var availableEnd: Option[LakeOffset] = None
  // the factory matching the LAST planInputPartitions call (Spark builds
  // the factory right after planning each micro-batch)
  @volatile private var lastFactory: PartitionReaderFactory = EmptyReaderFactory

  private def head(): Option[Long] = table.refresh().metadata.currentSnapshotId

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(LakeOffset(head().getOrElse(0L)))

  override def initialOffset(): Offset = LakeOffset(0L)

  override def latestOffset(): Offset =
    availableEnd.getOrElse(LakeOffset(head().getOrElse(0L)))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow):
  // `option("maxFilesPerTrigger", n)` / `option("maxBytesPerTrigger", n)`
  // cap a micro-batch at the last snapshot keeping the batch's
  // appended-file/byte totals within EVERY configured cap, always
  // advancing at least one snapshot so the stream makes progress.
  // Counts come from snapshot summaries — zero manifest reads on the
  // admission path (a legacy snapshot without "added-bytes" counts as
  // unbounded, closing its batch conservatively). AvailableNow's pinned
  // end offset still bounds the overall run; the stream converges to it
  // batch by batch.
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val endCap = latestOffset().asInstanceOf[LakeOffset].snapshotId
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) return LakeOffset(endCap)
    val fromId = start.asInstanceOf[LakeOffset].snapshotId
    if (endCap == 0L || fromId == endCap) return LakeOffset(endCap)
    val m = table.refresh().metadata
    // ascending chain (fromId, endCap]; any walk irregularity
    // (expired history) defers to the planner's own clean error
    var chain = List.empty[graft.format.Snapshot]
    var cur = m.snapshotById(endCap)
    while (cur.isDefined && cur.get.id != fromId) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(m.snapshotById)
    }
    if (cur.isEmpty && fromId != 0L) return LakeOffset(endCap)
    var files = 0L; var bytes = 0L
    var end = fromId
    var first = true
    var stopped = false
    chain.foreach { s =>
      if (!stopped) {
        val addedFiles = s.summary.get("added-files").flatMap(_.toLongOption)
          .getOrElse(s.manifests.map(_.entryCount).sum)
        val addedBytes = s.summary.get("added-bytes").flatMap(_.toLongOption)
          .getOrElse(Long.MaxValue / 4) // unknown: admit only as a batch's first
        val fits = maxFilesPerTrigger.forall(files + addedFiles <= _) &&
          maxBytesPerTrigger.forall(bytes + addedBytes <= _)
        if (first || fits) { files += addedFiles; bytes += addedBytes; end = s.id; first = false }
        else stopped = true // offset ranges are contiguous: stop at first over-cap
      }
    }
    LakeOffset(end)
  }

  override def deserializeOffset(json: String): Offset = LakeOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LakeOffset].snapshotId match {
      case 0L => None
      case id => Some(id)
    }
    val endId = end.asInstanceOf[LakeOffset].snapshotId
    val files =
      if (endId == 0L || from.contains(endId)) Seq.empty
      else table.refresh().appendedFiles(from, endId)
    val (parts, factory) = LakeDsv2.plan(spark, table, files, pinnedSchema)
    lastFactory = factory
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = lastFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Row-level CDC stream (Delta Change-Data-Feed shape): each micro-batch
  * steps SNAPSHOT BY SNAPSHOT through its offset range and emits every
  * commit's file delta as rows tagged `_change_type` = insert | delete
  * plus `_commit_snapshot_id` — the commit the change belongs to, so a
  * consumer can order delete-before-insert when one key is rewritten
  * inside a single micro-batch (Delta CDF's _commit_version plays the
  * same role). Per-commit file sets come from the O(changed-chunks)
  * manifest diff against each snapshot's parent
  * ([[LakeTable.changedFiles]]), so overwrites/deletes stream fine (the
  * append-only stream errors on them by design). Pure rewrites
  * (`operation = "replace"`: compaction, manifest rewrite) change no
  * logical rows and are skipped outright instead of emitting
  * delete+insert churn for every untouched row. The first batch replays
  * the table's current content as inserts attributed to the head
  * snapshot. A snapshot expired out of an unread range fails the stream
  * cleanly rather than misattributing its changes. */
final class LakeChangesMicroBatchStream(location: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val spark = ClassicSession.active
  private val table = LakeTable.load(location)
  private val pinnedSchema = table.schema // see LakeMicroBatchStream
  @volatile private var availableEnd: Option[LakeOffset] = None
  @volatile private var lastFactory: PartitionReaderFactory = EmptyReaderFactory

  private def head(): Option[Long] = table.refresh().metadata.currentSnapshotId

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(LakeOffset(head().getOrElse(0L)))
  override def initialOffset(): Offset = LakeOffset(0L)
  override def latestOffset(): Offset =
    availableEnd.getOrElse(LakeOffset(head().getOrElse(0L)))
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def deserializeOffset(json: String): Offset = LakeOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromId = start.asInstanceOf[LakeOffset].snapshotId
    val endId = end.asInstanceOf[LakeOffset].snapshotId
    if (endId == 0L || fromId == endId) { lastFactory = EmptyReaderFactory; return Array.empty }
    val m = table.refresh().metadata
    val to = m.snapshotById(endId).getOrElse(
      throw new IllegalStateException(s"offset snapshot $endId expired from $location"))

    val parts = Vector.newBuilder[InputPartition]
    val factories = Map.newBuilder[(Long, Boolean), PartitionReaderFactory]
    def planSide(sid: Long, insert: Boolean, files: Seq[FileEntry]): Unit = {
      val (p, f) = LakeDsv2.plan(spark, table, files, pinnedSchema)
      factories += (sid, insert) -> f
      p.foreach(ip => parts += ChangeSidePartition(insert, sid, ip))
    }

    if (fromId == 0L) {
      // initial batch: current content as inserts, attributed to head
      planSide(endId, insert = true, LakeTable.changedFiles(table, None, to)._1)
    } else {
      // ascending chain of snapshots in (fromId, endId]
      var chain = List.empty[graft.format.Snapshot]
      var cur: Option[graft.format.Snapshot] = Some(to)
      while (cur.exists(_.id != fromId)) {
        val s = cur.get
        chain = s :: chain
        cur = s.parentId.map(pid => m.snapshotById(pid).getOrElse(
          throw new IllegalStateException(
            s"snapshot $pid in unread range ($fromId, $endId] expired from $location")))
        if (cur.isEmpty) throw new IllegalStateException(
          s"offset snapshot $fromId is not an ancestor of $endId at $location " +
            "(history rewritten under a running stream)")
      }
      chain.foreach { s =>
        // "replace" rewrites files without changing logical rows — no CDC
        if (s.operation != "replace") {
          val parent = s.parentId.map(pid => m.snapshotById(pid).get) // resolved above
          val (added, removed) = LakeTable.changedFiles(table, parent, s)
          planSide(s.id, insert = true, added)
          planSide(s.id, insert = false, removed)
        }
      }
    }
    lastFactory = ChangesReaderFactory(factories.result(), pinnedSchema.fields.map(_.dataType))
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = lastFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] final case class ChangeSidePartition(
    insert: Boolean, snapshotId: Long, inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Routes a partition to its (snapshot, side) parquet factory and appends
  * the `_change_type` and `_commit_snapshot_id` literal columns per row
  * (projection built lazily executor-side from serializable
  * BoundReference/Literal exprs). */
private[streaming] final case class ChangesReaderFactory(
    factories: Map[(Long, Boolean), PartitionReaderFactory],
    baseTypes: Array[org.apache.spark.sql.types.DataType]) extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[ChangeSidePartition]
    val inner = factories((cp.snapshotId, cp.insert)).createReader(cp.inner)
    val tag = if (cp.insert) "insert" else "delete"
    new PartitionReader[InternalRow] {
      private[this] val proj = UnsafeProjection.create(
        baseTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(i, dt, nullable = true): Expression
        }.toIndexedSeq :+ (Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(tag),
          org.apache.spark.sql.types.StringType): Expression)
          :+ (Literal(cp.snapshotId, org.apache.spark.sql.types.LongType): Expression))
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }
}

final case class LakeOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}
