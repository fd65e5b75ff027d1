package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.SparkSession

/** THE SparkSession recipe: the only place in the repo that calls
  * `SparkSession.builder()`. Every entry point (Bench, Verify,
  * Profile, both pos CLIs, the scale and fingerprint mains)
  * gets its session from [[checked]]; every spec shares the one
  * session held by `graft.TestSession` (test sources), which is built
  * by [[checked]] too.
  *
  * [[checked]] exists because `Builder.getOrCreate` hands back any
  * live session it finds and re-applies only the runtime SQL confs:
  * the master, static confs and extensions of the existing session
  * win silently. So it compares the session it returns against the
  * recipe on exactly those settings ([[pinned]]) and throws, naming
  * every key that differs, instead of running under a config the
  * caller did not ask for. It also resolves the session's `file:`
  * filesystems and throws unless they are the recipe's ([[localFs]]).
  *
  * Master/parallelism stay CALLER-CHOSEN: the driver benches at
  * several core counts via SPARK_GRAFT_CPUS, and the plan-snapshot
  * lane is pinned at local[4] so fingerprints are machine-independent.
  */
object Sessions {
  /** Builder with the repo's session-level tuning applied.
    *
    * - `spark.sql.session.timeZone=UTC`: oracle (DuckDB) parity for
    *   every timestamp surface.
    * - `spark.sql.codegen.cache.maxEntries=10000`: the default
    *   100-entry generated-class cache thrashes on this suite —
    *   single composite queries carry 120–230 codegen fragments
    *   (q257/q262/q271 measured in round 11), so every invocation
    *   re-Janino-compiled ~2.5 s of identical source. Scale-neutral:
    *   a driver-side class cache, so the same setting is right on a
    *   real cluster driver.
    * - `spark.sql.extensions`: the engine's native functions and
    *   planner rules, registered by class name so an existing
    *   session's extensions can be compared against the recipe.
    * - `spark.hadoop.fs.file.impl` and
    *   `spark.hadoop.fs.AbstractFileSystem.file.impl`: the local
    *   filesystem ([[sources.GraftLocalFileSystem]]) and its
    *   `FileContext` twin ([[sources.GraftLocalFs]]), which set
    *   permissions and read links with syscalls. Without the native
    *   libhadoop the stock ones start a `chmod` process for every
    *   file and directory they create and a `readlink` process for
    *   every `FileContext` rename, so each local parquet part file,
    *   checksum sidecar, partition directory and streaming checkpoint
    *   file cost a fork. Only the `file:` scheme changes; a cluster
    *   filesystem never takes this path.
    * - `spark.sql.sources.parallelPartitionDiscovery.threshold`: file
    *   listing stays on the driver. Above the default 32 paths (a
    *   partitioned store of more than 32 days) Spark lists with a job,
    *   one task per directory, and each task deserializes the whole
    *   Hadoop conf. On a `local[N]` master those tasks run in the
    *   driver's JVM over the same disk, so the job buys nothing.
    *   Cluster sessions are not built by this recipe.
    * - `spark.sql.legacy.parquet.nanosAsLong`: TIMESTAMP(NANOS)
    *   parquet columns read as longs instead of failing the vectorized
    *   reader; `Tables.events` converts them. A session conf set here
    *   once, so reading a table never changes the caller's session.
    * - UI off: these are headless batch entry points.
    */
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder().config((pinned(cpus) ++ localFs.map {
      case (k, cls) => s"spark.hadoop.$k" -> cls.getName
    } ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
        Int.MaxValue.toString,
      "spark.ui.enabled" -> "false")).toMap)

  /** The recipe's settings that `getOrCreate` will not re-apply to an
    * existing session. */
  private def pinned(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.extensions" -> classOf[functions.GraftExtensions].getName)

  /** The recipe's `file:` filesystem classes, by Hadoop conf key. */
  private val localFs: Seq[(String, Class[_])] = Seq(
    "fs.file.impl" -> classOf[sources.GraftLocalFileSystem],
    "fs.AbstractFileSystem.file.impl" -> classOf[sources.GraftLocalFs])

  /** Each `file:` filesystem that `conf` resolves to another class
    * than the recipe's, as `key=class (recipe: class)`. The
    * `FileSystem` comes from Hadoop's JVM-wide cache, which is keyed
    * by scheme, authority and user, not by conf: one created before
    * the session keeps its class whatever the session's conf says. */
  private[graft] def localFsDiffs(conf: Configuration): Seq[String] = {
    val uri = URI.create("file:///")
    val have = Seq(FileSystem.get(uri, conf).getClass,
      AbstractFileSystem.get(uri, conf).getClass)
    localFs.zip(have).collect {
      case ((k, want), got) if got != want =>
        s"$k=${got.getName} (recipe: ${want.getName})"
    }
  }

  /** The session of [[local]]`(cpus)` plus `conf`, or an
    * IllegalStateException naming each [[pinned]] key on which the
    * session `getOrCreate` returns differs from the recipe, and each
    * `file:` filesystem it resolves to another class ([[localFsDiffs]]).
    * A live session is checked BEFORE `getOrCreate`, which would
    * otherwise overwrite its runtime confs with this caller's first. */
  def checked(cpus: String, conf: (String, String)*): SparkSession = {
    def check(s: SparkSession): SparkSession = {
      val have = s.sparkContext.getConf
      val diffs = pinned(cpus).collect {
        case (k, want) if !have.getOption(k).contains(want) =>
          s"$k=${have.getOption(k).getOrElse("<unset>")} (recipe: $want)"
      }
      if (diffs.nonEmpty) throw new IllegalStateException(
        "existing SparkSession differs from the graft.Sessions recipe " +
          "on settings getOrCreate does not re-apply: " +
          diffs.mkString(", "))
      val fsDiffs = localFsDiffs(s.sparkContext.hadoopConfiguration)
      if (fsDiffs.nonEmpty) throw new IllegalStateException(
        "SparkSession resolves file: to another filesystem than the " +
          "graft.Sessions recipe (Hadoop caches a FileSystem per " +
          "scheme and user, so one made before the session keeps its " +
          "class): " + fsDiffs.mkString(", "))
      s
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped).foreach(check)
    check(local(cpus).config(conf.toMap).getOrCreate())
  }
}
