package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One JVM runs one workload:
  *
  * {{{
  *   perfbench.Main --workload <ingest_bulk|query_mix>
  *                  --seed <n> --seconds <s> --trace <0|1>
  *                  --data <dir with the sfX parquet tables> --work <scratch dir>
  *                  [--cache <dir kept across runs>]
  *                  --expected <recorded digests tsv>
  *   perfbench.Main --manifests --workload ingest_bulk --seed <n> --data <dir> --work <dir>
  *   perfbench.Main --record <out tsv> --data <dir> --work <dir> [--dump <dir>]
  * }}}
  *
  * The last line of standard output is the result object. Everything
  * else (progress, failures) goes to standard error. */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      data: String = "",
      work: String = "",
      cache: String = "",
      expected: String = "",
      record: String = "",
      dump: String = "",
      manifests: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--data" :: v :: rest => parse(rest, o.copy(data = v))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--cache" :: v :: rest => parse(rest, o.copy(cache = v))
    case "--expected" :: v :: rest => parse(rest, o.copy(expected = v))
    case "--record" :: v :: rest => parse(rest, o.copy(record = v))
    case "--dump" :: v :: rest => parse(rest, o.copy(dump = v))
    case "--manifests" :: rest => parse(rest, o.copy(manifests = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  /** The session `graft.Bench` builds: the graft extensions, UTC, one
    * process with `local[min(nproc, 4)]` and as many shuffle partitions
    * as cores. The en-US locale and the JDK module flags are JVM options
    * (run.py passes them). Scratch state stays under `work`. */
  def session(work: String): SparkSession = {
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def main(args: Array[String]): Unit = {
    val parsed = parse(args.toList)
    require(parsed.data.nonEmpty && parsed.work.nonEmpty, "--data and --work are required")
    val o = if (parsed.cache.nonEmpty) parsed else parsed.copy(cache = s"${parsed.work}/cache")
    new File(o.work).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(o.work)
    System.err.println(f"[perfbench] session started in ${Stats.secs(t0)}%.2f s")
    val code =
      try {
        val result =
          if (o.record.nonEmpty) { QueryMix.record(spark, o.data, o.record, o.dump); None }
          else if (o.manifests) { IngestWorkload.printManifests(spark, o); None }
          else Some(o.workload match {
            case "ingest_bulk" => IngestWorkload.run(spark, o, t0)
            case "query_mix" => QueryMix.run(spark, o, t0)
            case w => throw new IllegalArgumentException(s"unknown workload: $w")
          })
        result.foreach(r => println(r.json))
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          1
      } finally {
        try graft.ext.DedupOps.releaseShared() catch { case NonFatal(_) => () }
        spark.stop()
      }
    System.exit(code)
  }
}

/** One run's result line: `correct`, `attempted`, `failed`, `metrics`. */
final case class Result(attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
      s""""$n": {"value": ${BigDecimal(v).toString}, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
