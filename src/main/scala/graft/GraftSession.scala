package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: every main and the
  * test base get the same session config from here.
  *
  * Every session gets:
  *   - [[GraftExtensions]], unless `spark.sql.extensions` already names
  *     it (a conf-named extension applied twice would register each
  *     optimizer rule and planner strategy twice);
  *   - `spark.sql.session.timeZone=UTC` (EventOps reads timestamp_ntz
  *     as UTC, and the metrics row formats its readable date in the
  *     session zone);
  *   - the UI off and the log level at WARN.
  *
  * Two paths:
  *   - [[local]]: `local[cpus]` with `cpus` shuffle partitions and a
  *     fresh temp warehouse dir; `cpus` defaults to `SPARK_GRAFT_CPUS`
  *     (4 when unset), read here and nowhere else;
  *   - [[submitted]]: sets neither the master nor the shuffle partitions,
  *     so spark-submit's `--master` and `--conf` values win.
  */
object GraftSession {

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** An in-process session on `cpus` cores. */
  def local(appName: String, cpus: Int = defaultCpus): SparkSession =
    create(appName, settings(Some(cpus)) + ("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  /** A session whose master and parallelism come from spark-submit. */
  def submitted(appName: String): SparkSession =
    create(appName, settings(None))

  /** The config a session is built with: `localCpus` = None is the
    * spark-submit path. */
  private[graft] def settings(localCpus: Option[Int]): Map[String, String] =
    Map("spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false") ++
      localCpus.fold(Map.empty[String, String]) { n =>
        Map("spark.master" -> s"local[$n]", "spark.sql.shuffle.partitions" -> n.toString)
      }

  /** Whether a `spark.sql.extensions` value already names GraftExtensions. */
  private[graft] def namesGraft(extensions: String): Boolean =
    extensions.split(',').map(_.trim).contains(classOf[GraftExtensions].getName)

  private def create(appName: String, conf: Map[String, String]): SparkSession = {
    val builder = SparkSession.builder().appName(appName).config(conf)
    // SparkConf picks up spark-submit's --conf values (system properties)
    if (!namesGraft(new SparkConf().get("spark.sql.extensions", "")))
      builder.withExtensions(new GraftExtensions)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
