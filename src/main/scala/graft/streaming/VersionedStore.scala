package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once commit layout of every maintained streaming table
  * (the SCD2 dimension, the replica checksums, the reservoir and the
  * centroid statistics): the epoch-keyed idempotent sink of Structured
  * Streaming over plain parquet.
  *
  *   - Batch `id` commits directory `v<id>` and nothing else — no
  *     "current" copy to swap (a plain-parquet overwrite swap is
  *     delete-then-write, and a crash inside that window would lose
  *     the table).
  *   - Only COMMITTED versions count: Spark's parquet committer drops
  *     `_SUCCESS` at job completion, so a crash mid-write (or a reader
  *     racing a replay's overwrite) leaves a directory the listing
  *     ignores.
  *   - A commit folds its batch into the latest committed version
  *     STRICTLY BEFORE its own id: a replayed (crashed-uncommitted)
  *     batch re-reads its predecessor and overwrites its own version —
  *     idempotent; reading `v<id>` itself would double-merge the batch.
  *   - Versions more than [[KeepVersions]] behind the commit are pruned.
  *
  * Versions are listed through the Hadoop FileSystem API, so the layout
  * works on any supported store (HDFS, S3A, local paths and `file:`
  * URIs). On a transactional table format each commit becomes one
  * MERGE INTO. */
object VersionedStore {
  private val KeepVersions = 3

  /** Runs [[commit]] for every micro-batch of `stream`. */
  def maintain(stream: DataFrame, dir: String, checkpointDir: String)(
      fold: (DataFrame, Option[DataFrame], Long) => DataFrame)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commit(batch, dir, batchId)(fold(batch, _, batchId))
      }
      .start()

  /** Commits `v<batchId>` as `fold` of the latest committed version
    * before `batchId` (None when there is none), then prunes. */
  def commit(batch: DataFrame, dir: String, batchId: Long)(
      fold: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = versionIds(dir, conf).filter(_ < batchId).maxOption
      .map(v => spark.read.parquet(s"$dir/v$v"))
    fold(prev).write.mode("overwrite").parquet(s"$dir/v$batchId")
    versionIds(dir, conf).filter(_ < batchId - KeepVersions).foreach {
      old =>
        val p = new HPath(s"$dir/v$old")
        p.getFileSystem(conf).delete(p, true)
    }
  }

  /** The table as of its latest committed version. */
  def latest(spark: SparkSession, dir: String): Option[DataFrame] =
    versionIds(dir, spark.sparkContext.hadoopConfiguration).maxOption
      .map(v => spark.read.parquet(s"$dir/v$v"))

  private def versionIds(dir: String, conf: Configuration): Seq[Long] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v")
        && fs.exists(new HPath(st.getPath, "_SUCCESS")))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.drop(1).toLong).toOption)
  }
}
