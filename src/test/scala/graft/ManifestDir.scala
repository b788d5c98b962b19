package graft

import org.apache.spark.sql.SparkSession

import graft.sources.FileManifest

/** The on-disk layout of a manifest table, for specs that read it
  * directly: the manifest dir of the current version or of version `v`,
  * and the dv spill dir of version `v`.
  */
object ManifestDir {
  def apply(spark: SparkSession, dir: String): String =
    FileManifest.versionDir(dir,
      FileManifest.versions(spark, dir).lastOption.getOrElse(0L))

  def apply(dir: String, v: Long): String = FileManifest.versionDir(dir, v)

  def dvSpill(spark: SparkSession, dir: String, v: Long): String =
    FileManifest.dvSpillDir(spark, dir, v)
}
