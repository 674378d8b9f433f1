package graft.perfbench

import graft.commands.LakeEngine
import graft.format.{LakeCatalog, LakeTable, SortField}
import org.apache.spark.sql.DataFrame

/** Lake tables of the workloads. */
object Lakes {
  /** A lake table holding `df` sorted on `key`, written as about `files`
    * files of equal record count. */
  def sorted(catalog: LakeCatalog, engine: LakeEngine, name: String,
      df: DataFrame, key: String, files: Int): LakeTable = {
    val perFile = math.ceil(df.count().toDouble / files).toLong
    val t = catalog.createTable(name, df.schema, sortOrder = Seq(SortField(key)),
      properties = Map("write.max-records-per-file" -> perFile.toString))
    engine.insert(t, df)
    t
  }

  /** Shape of finished tables, for the per-layer record. */
  def describe(catalog: LakeCatalog, names: Seq[String]): Map[String, Any] =
    names.map { n =>
      val t = catalog.loadTable(n)
      val files = t.currentFiles()
      n -> Map(
        "files" -> files.size,
        "bytes" -> files.map(_.sizeBytes).sum,
        "records" -> files.map(_.recordCount).sum,
        "snapshots" -> t.metadata.snapshots.size,
        "manifests" -> t.metadata.currentSnapshot.map(_.manifests.size).getOrElse(0))
    }.toMap
}
