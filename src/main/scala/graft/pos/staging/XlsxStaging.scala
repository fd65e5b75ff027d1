package graft.pos.staging

import graft.pos.DataQualityError
import graft.sources.Xlsx
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one workbook contributes to a staging scan: its sheet and that
  * sheet's layout, the stager's extra cells for each body row, and
  * any rows of its own (given the number of logical columns). */
private[staging] final case class Staged(
    grid: Vector[Vector[String]], layout: Layout,
    extra: Vector[String] => Seq[Any] = _ => Nil,
    more: Int => Iterator[Seq[Any]] = _ => Iterator.empty)

/** The one executor scan behind the xlsx stagers (S6 end-to-end).
  *
  * Header rows, named columns, the sucursal and the eliminations sheet
  * are PER-WORKBOOK facts: a union of raw grids would smear one
  * file's header offset onto another's rows. So every workbook's
  * layout is resolved where it is parsed — inside the `binaryFile`
  * task, by the cleaners' pure head functions — and the task emits
  * body rows already projected to logical columns plus `_file`. The
  * cleaners' Catalyst bodies then run once over all workbooks, with
  * the per-workbook steps scoped by `_file`. A staging call therefore
  * runs the same few Spark jobs whatever the number of workbooks, and
  * parses each workbook once.
  *
  * The output schema comes from the first workbook (by name, in the
  * first directory that has one), read on the driver through the
  * Hadoop FS; a workbook whose logical columns differ fails the scan
  * with a [[DataQualityError]] that names it. `stage` gets each
  * workbook's path with its parse.
  */
private[staging] object WorkbookScan {

  def apply(spark: SparkSession, paths: Seq[String],
            extra: Seq[StructField])(
      stage: (String, Xlsx.Workbook) => Staged): DataFrame = {
    val (first, wb) = Xlsx.firstWorkbook(spark, paths)
    val columns = resolve(first, wb, stage).layout.names
    val schema = StructType(
      ("_file" +: columns).map(StructField(_, StringType)) ++ extra)
    Xlsx.scanWorkbooks(spark, paths, schema) { (file, wb) =>
      val staged = resolve(file, wb, stage)
      val named = staged.layout.named.toMap
      if (named.keySet != columns.toSet)
        throw new DataQualityError(s"workbook $file names columns " +
          s"${staged.layout.names.mkString("[", ", ", "]")}, but the " +
          s"first workbook $first names ${columns.mkString("[", ", ", "]")}")
      val at = columns.map(named)
      (staged.grid.iterator.drop(staged.layout.headerIdx + 1)
        .map(r => at.map(r.lift(_).orNull) ++ staged.extra(r)) ++
        staged.more(at.size)).map(r => Row.fromSeq(file +: r))
    }
  }

  /** A workbook's layout; a workbook that has none (no such sheet,
    * no header row) fails with a [[DataQualityError]] naming it. */
  private def resolve(file: String, wb: Xlsx.Workbook,
                      stage: (String, Xlsx.Workbook) => Staged): Staged =
    try stage(file, wb)
    catch {
      case e: Exception => throw new DataQualityError(
        s"workbook $file: ${e.getMessage}").initCause(e)
    }

  /** A sheet's first `n` rows as the head functions read them. */
  def head(grid: Vector[Vector[String]], n: Int): Seq[Seq[String]] =
    grid.take(n).map(_.map(c => if (c == null) "" else c))
}

/** Payments workbooks (`payments_cleaner.py:282-420`): the detail
  * sheet by the case-insensitive/substring rule, plus the optional
  * "Pagos Eliminados" sheet (its own header scan, block columns
  * B..L), cleaned by [[PaymentsCleaner.typedBody]] and
  * [[PaymentsCleaner.flagBody]]. */
object PaymentsXlsx {

  /** Extra scan columns: eliminations rows ride in the same scan as
    * body rows, flagged by `_elim`; `_hint` is the workbook's
    * normalized sucursal hint. */
  private val Extra = Seq(
    StructField("_elim", BooleanType, nullable = false),
    StructField(PaymentsCleaner.Candidates, ArrayType(StringType)),
    StructField("_efecha", StringType),
    StructField("_eorden", StringType),
    StructField("_hint", StringType, nullable = false))

  /** Clean every payments workbook under `path`. The eliminations
    * join and the modal-sucursal fallback are scoped by `_file`, so
    * each workbook's eliminations flag only its own rows and each
    * falls back to its own modal cashier. */
  def clean(spark: SparkSession, path: String, sucursalHint: String,
            chunkStart: Option[String] = None,
            chunkEnd: Option[String] = None): DataFrame = {
    val hint = Headers.normalizeBranchName(sucursalHint)
    scan(spark, Seq(path), _ => hint, hint.isEmpty, chunkStart, chunkEnd)
  }

  /** Clean every payments workbook under the branch directories `dirs`
    * in one scan, each workbook with its directory's name as the
    * sucursal hint. */
  def cleanBranches(spark: SparkSession, dirs: Seq[String],
                    chunkStart: Option[String] = None,
                    chunkEnd: Option[String] = None): DataFrame = {
    def hint(dir: Path) = Headers.normalizeBranchName(dir.getName)
    scan(spark, dirs, file => hint(new Path(file).getParent),
      dirs.exists(d => hint(new Path(d)).isEmpty), chunkStart, chunkEnd)
  }

  /** `hintOf` maps a workbook's path to its normalized hint; a
    * workbook without one falls back to its modal cashier, and
    * `fallback` says whether any workbook may. */
  private def scan(spark: SparkSession, paths: Seq[String],
                   hintOf: String => String, fallback: Boolean,
                   chunkStart: Option[String],
                   chunkEnd: Option[String]): DataFrame = {
    // body, eliminations and votes all read this one parse
    val scanned = WorkbookScan(spark, paths, Extra) { (file, wb) =>
      stage(wb, hintOf(file))
    }.localCheckpoint(eager = false)
    val names = scanned.columns.toSeq.filterNot(_.startsWith("_"))
    val body = scanned.filter(!col("_elim"))
    val projected = body.select(("_file" +: "_hint" +: names).map(col): _*)
    val elim = scanned.filter(col("_elim")).select(col("_file"),
      col("_efecha").as("Fecha de operación"), col("_eorden").as("Orden"))
    val hint = col("_hint")
    val (withVotes, sucursal) =
      if (!fallback) (projected, hint)
      else {
        val modal = PaymentsCleaner.modalSucursal(body.select(col("_file"),
          col(names.head).as(PaymentsCleaner.FirstCell),
          col(PaymentsCleaner.Candidates)), Seq("_file"))
        (projected.join(broadcast(modal), Seq("_file"), "left"),
          when(hint =!= "", hint)
            .otherwise(coalesce(col(PaymentsCleaner.Sucursal), lit(""))))
      }
    // typed rows are checkpointed too: above the barrier, the chunk
    // filter and the join read the typed columns, where Catalyst would
    // otherwise inline the whole cleanup into the pushed-down filter
    val typed = PaymentsCleaner.typedBody(withVotes, names)
      .localCheckpoint(eager = false)
    PaymentsCleaner.flagBody(typed, names, sucursal, Some(elim),
      Seq("_file"), chunkStart, chunkEnd)
      .drop("_file", "_hint", PaymentsCleaner.Sucursal)
  }

  private def stage(wb: Xlsx.Workbook, hint: String): Staged = {
    val grid = wb.gridLike("Detalle por forma de pago")
    val lay = PaymentsCleaner.layout(WorkbookScan.head(grid, 50))
    val elim = eliminations(wb)
    Staged(grid, lay,
      r => Seq(false,
        if (hint.isEmpty) lay.candidates.map(r.lift(_).orNull) else null,
        null, null, hint),
      n => elim.iterator.map { case (fecha, orden) =>
        Seq.fill(n)(null) ++ Seq(true, null, fecha, orden, hint) })
  }

  /** One workbook's "Pagos Eliminados" sheet → raw (Fecha de
    * operación, Orden) pairs, or none when the sheet (or its required
    * columns) is absent — the reference logs and continues without the
    * flag (payments_cleaner.py:306-420: header row = first of the top
    * 40 containing "Fecha de operación", else row 6; data block =
    * columns B..L below it). */
  private[staging] def eliminations(wb: Xlsx.Workbook)
      : Seq[(String, String)] = {
    def text(c: String) = if (c == null) "" else Headers.stripInvisibles(c)
    val pairs = for {
      name <- Xlsx.findSheet(wb.sheetNames, "Pagos Eliminados")
      grid = wb.grid(name)
      headerIdx = grid.take(40)
        .indexWhere(_.exists(text(_).contains("Fecha de operación"))) match {
          case -1 => 5
          case i => i
        }
      header <- grid.lift(headerIdx)
      block = (1 to 11).filter(_ < header.size)
      fecha <- block.find(i => text(header(i)) == "Fecha de operación")
      orden <- block.find(i => text(header(i)) == "Orden")
    } yield grid.drop(headerIdx + 1).map(r => (r(fecha), r(orden)))
    pairs.getOrElse(Nil).filter { case (f, o) => f != null || o != null }
  }
}

/** Sales workbooks: sheet "Detalle de Ventas" by the same lookup rule
  * (sales_cleaner.py:366-371); each workbook's own header scan and
  * top-left sucursal line, cleaned by [[SalesCleaner.cleanBody]]. */
object SalesXlsx {
  private val Extra = Seq(StructField(PaymentsCleaner.Sucursal, StringType))

  def clean(spark: SparkSession, path: String,
            sucursalHint: Option[String] = None): DataFrame = {
    val scanned = WorkbookScan(spark, Seq(path), Extra) { (_, wb) =>
      val grid = wb.gridLike("Detalle de Ventas")
      val lay = SalesCleaner.layout(WorkbookScan.head(grid, 50),
        sucursalHint)
      Staged(grid, lay, _ => Seq(lay.sucursal))
    }
    val names = scanned.columns.toSeq.filterNot(_.startsWith("_"))
    SalesCleaner.cleanBody(scanned, names, col(PaymentsCleaner.Sucursal))
      .drop("_file", PaymentsCleaner.Sucursal)
  }
}

/** Transfers workbooks: EXACT (case-sensitive) sheet "Transferencias",
  * else the workbook's FIRST sheet — a deliberately different rule
  * than the other cleaners (transfer_cleaner.py:143-149). */
object TransfersXlsx {
  def clean(spark: SparkSession, path: String): DataFrame = {
    val scanned = WorkbookScan(spark, Seq(path), Nil) { (_, wb) =>
      val grid = wb.grid(
        if (wb.sheetNames.contains("Transferencias")) "Transferencias"
        else wb.sheetNames.head)
      Staged(grid, TransfersCleaner.layout(WorkbookScan.head(grid, 40)))
    }
    TransfersCleaner.cleanBody(scanned,
      scanned.columns.toSeq.filterNot(_.startsWith("_"))).drop("_file")
  }
}
