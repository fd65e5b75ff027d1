package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads a partitioned parquet store Spark wrote, with its schema
  * taken on the driver instead of by a schema-inference job.
  *
  * Spark stores each part file's row schema in the footer's key-value
  * metadata ([[RowSchemaKey]]). One footer, found by descending into
  * the first partition directory of each level, gives the data
  * columns; the partition columns are typed as the caller's writer
  * typed them. A store whose first part file carries no such entry
  * (written by another engine), or that has no part file yet, is read
  * with inference, as `spark.read.parquet` would.
  */
object ParquetFooter {
  val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  def read(spark: SparkSession, path: String,
           partitions: (String, DataType)*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(p: Path) = !p.getName.startsWith("_") &&
      !p.getName.startsWith(".")
    def first(dir: Path, depth: Int): Option[Path] =
      fs.listStatus(dir).filter(s => visible(s.getPath))
        .sortBy(_.getPath.getName).iterator.flatMap { s =>
          if (depth > 0 && s.isDirectory && s.getPath.getName.contains("="))
            first(s.getPath, depth - 1)
          else if (depth == 0 && s.isFile &&
            s.getPath.getName.endsWith(".parquet")) Some(s.getPath)
          else None
        }.nextOption()
    val rowSchema = (if (fs.isDirectory(root)) first(root,
        partitions.size) else None).flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(RowSchemaKey))
      finally reader.close()
    }
    rowSchema.map(json => DataType.fromJson(json).asInstanceOf[StructType])
      .fold(spark.read)(data =>
        spark.read.schema(partitions.foldLeft(data) {
          case (s, (name, t)) => s.add(name, t) }))
      .parquet(path)
  }
}
