package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** An immutable view of a table: id = 64-bit hash of the sorted file list. */
final case class Snapshot(snapshotId: String, inputDir: String, files: Vector[String])

/** Snapshot-pinned table reads (SURVEY.md §2 Part B "Scans") over a
  * deterministic parquet layout plus a JSON snapshot manifest: a snapshot is
  * the sorted file list captured once, and every (re)read of that snapshot
  * sees exactly those files, so late-arriving files cannot leak into a
  * running or resumed job. This is the contract an Iceberg snapshot id gives
  * (`spark.read.format("iceberg").option("snapshot-id", ...)`); no Iceberg
  * runtime ships with this build.
  */
object ParquetSnapshotIO {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List data files, compute the snapshot id, persist the manifest (idempotent:
    * re-pinning the same file list yields the same snapshot id and manifest).
    */
  def pinSnapshot(spark: SparkSession, inputDir: String,
      manifestDir: String): Snapshot = {
    val dfs = fs(spark, inputDir)
    val files = dfs.listStatus(new Path(inputDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toVector
    require(files.nonEmpty, s"no parquet files under $inputDir")
    val id = java.lang.Long.toUnsignedString(
      files.map(_.hashCode.toLong).reduce((a, b) => a * 1000003L + b))
    val snap = Snapshot(id, inputDir, files)
    val mPath = new Path(manifestDir, s"snapshot-$id.json")
    val mfs = fs(spark, manifestDir)
    if (!mfs.exists(mPath)) {
      val json = s"""{"snapshot_id": "$id", "input_dir": "${inputDir}", "files": [""" +
        files.map(f => "\"" + f + "\"").mkString(", ") + "]}"
      val out = mfs.create(mPath, true)
      out.write(json.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    snap
  }

  /** Read a subset of the snapshot's files (resume path: only unfinished ones). */
  def readSnapshot(spark: SparkSession, snapshot: Snapshot,
      files: Seq[String]): DataFrame = {
    require(files.forall(snapshot.files.contains),
      "attempted to read files outside the pinned snapshot")
    spark.read.parquet(files: _*)
  }
}
