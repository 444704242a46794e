package org.apache.spark.sql.graftbridge

import java.io.File

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.Utils

/** Spark's checkpoint unzip for providers outside the spark namespace
  * (`Utils` is `private[spark]`). It keeps only each entry's file name, so
  * no entry can land outside `dir`.
  */
object CheckpointZip {
  def unzip(fs: FileSystem, zip: Path, dir: File): Unit = Utils.unzipFilesFromFile(fs, zip, dir)
}
