package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 face of the JDK-only xlsx parser:
  * `spark.read.format("xlsx").option("sheet", "Pagos").load(dir)` →
  * the bronze grid schema `(_file, _row, _c0.._cN)` the staging
  * cleaners consume, as a first-class table source: one input
  * partition PER WORKBOOK (files parallelize across
  * executors with no binaryFile detour), column pruning pushed into
  * the reader (a `select(_c0)` materializes one cell per row, not the
  * whole sheet row), and an explicit user schema skips inference.
  *
  * Schema inference parses each workbook's chosen sheet ONCE on the
  * driver to fix the grid width, the widest row of any workbook
  * (pandas' read_excel does the equivalent). For
  * many-workbook directories pass the schema explicitly —
  * `.schema(...)` — and inference is skipped entirely.
  *
  * Options: `sheet` — target sheet name, reference lookup rules
  * (exact case-insensitive, then substring; default: first sheet).
  */
final class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val files = XlsxDataSource.listXlsx(XlsxDataSource.pathOf(options), conf)
    require(files.nonEmpty,
      s"no .xlsx files under ${XlsxDataSource.pathOf(options)}")
    val sheet = Option(options.get("sheet"))
    val width = files.map { f =>
      val wb = Xlsx.read(XlsxDataSource.readBytes(f, conf))
      val g = wb.grid(XlsxDataSource.chooseSheet(wb.sheetNames, sheet))
      if (g.isEmpty) 0 else g.map(_.size).max
    }.max
    XlsxDataSource.gridSchema(width)
  }

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new XlsxTable(schema,
      XlsxDataSource.pathOf(new CaseInsensitiveStringMap(properties)),
      Option(properties.get("sheet")))
}

private[sources] object XlsxDataSource {
  def gridSchema(width: Int): StructType =
    StructType(
      StructField("_file", StringType, nullable = false) +:
        StructField("_row", LongType, nullable = false) +:
        (0 until width).map(i =>
          StructField(s"_c$i", StringType, nullable = true)))

  def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error("xlsx source requires a path: .load(<dir or file>)"))

  /** Sheet choice — the reference's lookup rules via [[Xlsx.findSheet]];
    * no target = first sheet (the transfers-flow fallback). */
  def chooseSheet(names: Seq[String], target: Option[String]): String =
    target match {
      case Some(t) => Xlsx.findSheet(names, t).getOrElse(sys.error(
        s"Sheet like '$t' not found. Available: ${names.mkString(", ")}"))
      case None => names.headOption.getOrElse(sys.error("workbook has no sheets"))
    }

  /** Driver-side only: enumerate workbooks for planning/inference. */
  def listXlsx(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val all =
      if (st.isDirectory) fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
      else Seq(p)
    all.map(_.toString).filter(_.endsWith(".xlsx")).sorted
  }

  def readBytes(file: String, conf: Configuration): Array[Byte] = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }
}

private final class XlsxTable(schema: StructType, path: String,
                              sheet: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"xlsx:$path"
  override def schema(): StructType = schema0
  private val schema0 = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(schema0, path, sheet)
}

private final class XlsxScanBuilder(full: StructType, path: String,
                                    sheet: Option[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new XlsxScan(required, path, sheet)
}

private final class XlsxScan(required: StructType, path: String,
                             sheet: Option[String]) extends Scan with Batch {
  // Captured on the driver at planning time; shipped (serialized) inside
  // the reader factory so executor-side readers never touch SparkSession.
  private val hadoopConf = // Spark's own serializable Hadoop-conf wrapper: executors never
  // touch SparkSession (there is none on a real cluster)
  new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    XlsxDataSource.listXlsx(path, hadoopConf.value)
      .map(f => XlsxFilePartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxReaderFactory(required, sheet, hadoopConf)
}

private final case class XlsxFilePartition(file: String)
    extends InputPartition

private final class XlsxReaderFactory(
    required: StructType,
    sheet: Option[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new XlsxPartitionReader(p.asInstanceOf[XlsxFilePartition].file,
      required, sheet, hadoopConf)
}

/** One workbook = one partition: the zip+StAX parse runs once inside
  * the executor; only the pruned columns materialize per row. */
private final class XlsxPartitionReader(
    file: String, required: StructType, sheet: Option[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val grid: Vector[Vector[String]] = {
    val wb = Xlsx.read(XlsxDataSource.readBytes(file, hadoopConf.value))
    wb.grid(XlsxDataSource.chooseSheet(wb.sheetNames, sheet))
  }
  // required-column accessors resolved once per partition, not per row
  private val getters: Array[(Vector[String], Long) => Any] =
    required.fields.map { f =>
      f.name match {
        case "_file" =>
          val u = UTF8String.fromString(file)
          (_: Vector[String], _: Long) => u
        case "_row" => (_: Vector[String], r: Long) => r
        case c if c.startsWith("_c") =>
          val i = c.drop(2).toInt
          (cells: Vector[String], _: Long) =>
            if (i < cells.size) UTF8String.fromString(cells(i)) else null
        case other => sys.error(s"unknown xlsx grid column $other")
      }
    }
  private var row = -1L
  override def next(): Boolean = { row += 1; row < grid.size }
  override def get(): InternalRow = {
    val cells = grid(row.toInt)
    InternalRow.fromSeq(getters.toIndexedSeq.map(g => g(cells, row)))
  }
  override def close(): Unit = ()
}
