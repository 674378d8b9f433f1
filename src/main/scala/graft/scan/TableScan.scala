package graft.scan

import graft.format.{FileEntry, LakeTable, TableRef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FullTableScanException(msg: String) extends RuntimeException(msg)
class ScanSizeLimitException(msg: String) extends RuntimeException(msg)

/** Pruning scan: predicate -> (partition + stats) file pruning -> DataFrame
  * assembly with schema-evolution projection and residual filter.
  *
  * Spark rebuild of the reference read path (SURVEY §3.1 steps 2–5):
  * SqlQueryProcessor/IcebergScanExecutor collapse into [[planFiles]], and
  * SchemaEvolution.getSelectSQLForDataFiles (S4) into [[toDF]] — per-schema
  * file groups, field-id projection casting/renaming/NULL-filling, then
  * unionByName. Everything after that is Catalyst: the residual predicate
  * is a plain Column, so pushdown/codegen apply.
  */
final class TableScan(
    spark: SparkSession,
    table: LakeTable,
    pred: Pred = AlwaysTrue,
    ref: TableRef = TableRef.Head,
    allowFullTableScan: Boolean = true,
    sizeLimitMiB: Option[Long] = None,
    withFileColumns: Boolean = false,
    // scan exactly these files, unpruned (DML rebuilds); a non-true
    // `pred` still filters their rows as the residual (see toDF)
    explicitFiles: Option[Seq[FileEntry]] = None) {

  val FileCol = "_file"
  val PosCol = "_pos"

  private lazy val evaluator = new StatsEvaluator(table.schema, table.metadata.specsById)

  /** Scan metrics (reference TableScanMetrics, SURVEY §2.8): how much the
    * metadata pruner saved, with zero data read. */
  final case class ScanMetrics(
      totalFiles: Int, matchedFiles: Int, skippedFiles: Int,
      totalBytes: Long, matchedBytes: Long, matchedRecords: Long)

  def metrics(): ScanMetrics = {
    val all = explicitFiles.getOrElse(table.currentFiles(ref))
    val matched = planFiles()
    ScanMetrics(all.size, matched.size, all.size - matched.size,
      all.map(_.sizeBytes).sum, matched.map(_.sizeBytes).sum,
      matched.map(_.recordCount).sum)
  }

  /** A4: per-partition record counts from manifest metadata only — zero
    * data read (reference IcebergScanExecutor.java:515-570 shape: group
    * planned files by (specId, partition values), sum record counts).
    * Like the reference, counts cover every file the pruner cannot
    * exclude, since both engines take them from the same file metadata. */
  def partitionRecordCounts(): Seq[(Int, Map[String, String], Long)] =
    planFiles().groupBy(f => (f.specId, f.partition)).toSeq
      .map { case ((sid, part), fs) => (sid, part, fs.map(_.recordCount).sum) }
      .sortBy { case (sid, part, _) =>
        (sid, part.toSeq.sortBy(_._1).map(kv => s"${kv._1}=${kv._2}").mkString(",")) }

  /** Manifest-chunk pruning: a chunk whose recorded partition-value set
    * provably excludes the predicate is skipped WITHOUT reading it — at
    * large table sizes a partition-filtered scan touches O(matching)
    * metadata, not O(table). Checked per recorded field via a synthetic
    * single-field entry; the evaluator treats all missing information
    * conservatively, so this is an upper bound of every real entry. */
  private[graft] def manifestMayMatch(m: graft.format.ManifestRef): Boolean =
    m.specId.isEmpty || m.partitionValues.isEmpty || {
      m.partitionValues.forall { case (field, vals) =>
        vals.exists(v => evaluator.mayContain(pred,
          FileEntry("", Map(field -> v), 1L, 0L,
            table.metadata.currentSchemaId, Map.empty, m.specId.get)))
      }
    }

  /** Metadata-only planning: no data read (S1). */
  def planFiles(): Seq[FileEntry] = {
    explicitFiles.foreach(fs => return fs)
    if (!allowFullTableScan && Pred.isTrue(pred))
      throw new FullTableScanException(
        s"full table scan not allowed on ${table.location} (P10 guard)")
    val t0 = System.nanoTime()
    val chunks = table.snapshot(ref).map(_.manifests).getOrElse(Seq.empty)
    val read = chunks.filter(manifestMayMatch)
    val all = read.flatMap(table.readManifest)
    val matched = all.filter(f => evaluator.mayContain(pred, f))
    sizeLimitMiB.foreach { lim =>
      val mib = matched.map(_.sizeBytes).sum / (1024.0 * 1024.0)
      if (mib > lim)
        throw new ScanSizeLimitException(f"scan would read $mib%.1f MiB > limit $lim MiB (P11)")
    }
    graft.metrics.MetricCollectors.emitScan {
      // skipped-chunk file counts come from the chunk summary (entryCount)
      // without reading it; byte totals cover only the chunks actually read
      val total = chunks.map(_.entryCount).sum.toInt
      graft.metrics.ScanEvent(table.location, pred.toString,
        total, matched.size, total - matched.size,
        all.map(_.sizeBytes).sum, matched.map(_.sizeBytes).sum,
        matched.map(_.recordCount).sum, (System.nanoTime() - t0) / 1000000L)
    }
    matched
  }

  def toDF(): DataFrame = {
    TableScan.ensureReadConf(spark)
    val files = planFiles()
    val cur = table.schema
    if (files.isEmpty) return emptyDF(cur)
    val groups = files.groupBy(_.schemaId)
    val parts = groups.toSeq.sortBy(_._1).map { case (sid, fs) =>
      val written = table.schemaFor(sid)
      val clean = StructType(written.fields.map(f => f.copy(metadata = Metadata.empty)))
      val base = spark.read.schema(clean).parquet(fs.map(_.path): _*)
      val projected = project(base, written, cur)
      if (withFileColumns)
        // normalize to the manifest rendering: file:/ URIs strip to
        // plain paths; other schemes collapse the URI's EMPTY-authority
        // form ("gcache:///p") to Hadoop's canonical "gcache:/p" — a
        // real authority ("s3a://bucket/p", exactly two slashes) is
        // meaningful and passes through untouched
        projected.withColumn(FileCol,
            regexp_replace(
              regexp_replace(col("_metadata.file_path"), "^file:/+", "/"),
              "^([a-zA-Z][a-zA-Z0-9+.-]*):/{3,}", "$1:/"))
          .withColumn(PosCol, col("_metadata.row_index"))
      else projected
    }
    val unioned = parts.reduce(_.unionByName(_))
    // explicitFiles + pred (round 21): the changes-mode merge diff scans
    // its candidate files WITH the source-key prune predicate as the
    // residual, so it reaches the parquet scan as PushedFilters and
    // row-group stats skip the non-overlapping groups inside candidate
    // files — rows outside the ranges cannot match any source key, and
    // unmatched target rows are dropped by the diff anyway. Every other
    // explicitFiles caller passes AlwaysTrue (rebuild scans must keep
    // every row) and is unchanged.
    if (Pred.isTrue(pred)) unioned
    else unioned.filter(Pred.toColumn(pred))
  }

  private def emptyDF(cur: StructType): DataFrame = {
    val schema =
      if (!withFileColumns) cur
      else StructType(cur.fields :+ StructField(FileCol, StringType) :+ StructField(PosCol, LongType))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def project(df: DataFrame, written: StructType, cur: StructType): DataFrame =
    df.select(SchemaEvolve.columns(written, cur): _*)
}

object TableScan {

  /** Split bin-packing (Iceberg `read.split.target-size` semantics,
    * spec §Scan Planning): splits are sized by the target split size
    * (`spark.sql.files.maxPartitionBytes`) and file-open cost ONLY —
    * never divided down by core count. Spark's default leaves
    * `spark.sql.files.minPartitionNum` at `defaultParallelism`, which
    * force-splits a small table into one sliver per core: a 2.7 MB
    * table on 32 cores plans ~31 scan tasks of ~87 KB each, so
    * per-task fixed cost (vectorized-reader setup, codegen
    * instantiation) dominates — and a large table of many small files
    * (exactly what streaming ingest + copy-on-write DML produce)
    * over-parallelizes at EVERY scale. With `minPartitionNum=1`,
    * Spark's own `FilePartition` packer bin-packs small files into
    * target-size splits, which is the Iceberg-planner behavior.
    *
    * Applied lazily on first read, and only when the user has not set
    * the conf themselves (a read-only engine must not clobber an
    * explicit user choice). NOTE the conf is session-scoped — Spark has
    * no per-scan split sizing — so in a session shared with non-graft
    * file reads this also gives THOSE reads Iceberg-style target-size
    * splits (a mid-size file that previously split one-sliver-per-core
    * plans fewer, larger partitions). Set
    * `spark.graft.read.tuneSplitPlanning=false` (or any explicit
    * `minPartitionNum`) to keep Spark's default behavior. */
  private[graft] def ensureReadConf(spark: SparkSession): Unit = {
    val key = "spark.sql.files.minPartitionNum"
    val optIn = spark.conf.getOption("spark.graft.read.tuneSplitPlanning")
      .forall(_.toBoolean)
    if (optIn && spark.conf.getOption(key).isEmpty) spark.conf.set(key, "1")
  }
}

/** Field-id based projection from a written schema to the current one:
  * rename via id match, cast widened types, NULL-fill added columns —
  * recursing into structs and arrays-of-struct (S4;
  * reference sql/SchemaEvolution.java:328-457). Shared by the batch
  * read path ([[TableScan]]) and the DSv2 streaming source (which binds
  * the same projection to raw parquet reader output). */
private[graft] object SchemaEvolve {

  def columns(written: StructType, cur: StructType): Seq[Column] = {
    val byId = written.fields.map(f => graft.format.FieldIds.of(f) -> f).toMap
    cur.fields.toSeq.map { nf =>
      val id = graft.format.FieldIds.of(nf)
      byId.get(id) match {
        case Some(of) => evolve(col(of.name), of.dataType, nf.dataType).as(nf.name)
        case None     => lit(null).cast(nf.dataType).as(nf.name)
      }
    }
  }

  private def evolve(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (f, t) if f == t => c
    case (f: StructType, t: StructType) =>
      val byId = f.fields.map(x => graft.format.FieldIds.of(x) -> x).toMap
      val parts = t.fields.map { nf =>
        val id = graft.format.FieldIds.of(nf)
        byId.get(id) match {
          case Some(of) => evolve(c.getField(of.name), of.dataType, nf.dataType).as(nf.name)
          case None     => lit(null).cast(nf.dataType).as(nf.name)
        }
      }
      when(c.isNull, lit(null).cast(to)).otherwise(struct(parts.toSeq: _*))
    case (ArrayType(fe, _), ArrayType(te, n)) =>
      transform(c, x => evolve(x, fe, te)).cast(ArrayType(te, n))
    // field-id evolution inside map keys/values (reference
    // sql/SchemaEvolution.java:561-587 rewrites via map entries; here the
    // same rewrite is transform_keys/transform_values, which recurse into
    // struct-typed keys/values by id like every other nesting level)
    case (MapType(fk, fv, _), MapType(tk, tv, n)) =>
      val keyed = transform_keys(c, (k, _) => evolve(k, fk, tk))
      val valued = transform_values(keyed, (_, v) => evolve(v, fv, tv))
      valued.cast(MapType(tk, tv, n))
    case _ => c.cast(to)
  }
}
