package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** A warm, closed-loop mix of the registered query faces with one client.
  *
  * The mix is a family-stratified sample of `SparkEntry.queries` in a
  * seeded order.
  * Set-up runs the sample once per round, dropping the session caches
  * between rounds, so the last round leaves every cache built; then
  * `warmPasses` untimed passes run with the caches kept. The timed
  * region then runs passes over the mix until the run time is spent. One
  * operation is one pass: the faces one after the other, each built and
  * digested (every column of every row, `(count, sum(xxhash64(row)))`,
  * in a single job) and its digest checked against the record. */
object QueryMix {

  val setupRounds = 3
  /** Untimed passes after set-up: passes keep getting faster for a few
    * passes after the caches are built, as the JVM warms up. */
  val warmPasses = 3
  /** The population: faces whose recorded sf0.1 cold run takes at most
    * `coldMaxSec` and warm run between `warmMinSec` and `warmMaxSec`, so
    * that the set-up rounds and several timed passes fit in one run and
    * every seed's mix has nearly the same cost. */
  val coldMaxSec = 1.0
  val warmMinSec = 0.1
  val warmMaxSec = 0.6

  final case class Recorded(rows: Long, hash: BigInt, coldSec: Double, warmSec: Double)

  /** Columns a hash can take: maps go through `to_json` (Spark refuses
    * to hash maps). */
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def hashable(c: Column, t: DataType): Column = if (hasMap(t)) to_json(c) else c

  def digest(df: DataFrame): (Long, BigInt) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val row = named.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0))).head()
    (row.getLong(0), BigInt(row.getDecimal(1).toBigInteger))
  }

  /** The recorded digests and costs: `sf face rows hash cold_s warm_s`. */
  def loadRecorded(path: String): Map[(String, String), Recorded] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      (f(0), f(1)) -> Recorded(f(2).toLong, BigInt(f(3)), f(4).toDouble, f(5).toDouble)
    }.toMap

  /** The mix, in its seeded run order. The faces are stratified by family
    * (the name prefix: `q`, `ev`, `text`, `sim`, `dedup`, `samp`, `mm`,
    * `cp`): each family gives the face at its median recorded warm time,
    * and the largest family gives the faces at its thirds instead, which
    * makes the mix odd-sized. The set is the same for every seed, so runs
    * compare; the seed orders it, which decides the face that pays each
    * shared cache build during set-up. Costs come from the sf0.1 record. */
  def sample(recorded: Map[(String, String), Recorded], sf: String, seed: Long): Seq[String] = {
    val population = recorded.toSeq.collect {
      case (("sf0.1", face), r) if r.coldSec <= coldMaxSec && r.warmSec >= warmMinSec &&
          r.warmSec <= warmMaxSec && SparkEntry.queries.contains(face) &&
          recorded.contains((sf, face)) => (r.warmSec, face)
    }.sorted
    val families = population.groupBy(_._2.takeWhile(_ != '_')).toSeq.sortBy(_._1)
    val largest = families.maxBy(_._2.size)._1
    val mix = families.flatMap { case (family, faces) =>
      val k = if (family == largest) 2 else 1
      (1 to k).map(i => faces(faces.size * i / (k + 1))._2)
    }
    new scala.util.Random(seed).shuffle(mix)
  }

  def sfName(dataDir: String): String = Paths.get(dataDir).getFileName.toString

  /** The session warm-up `graft.Bench` performs before recording: one
    * small aggregate and a read of every table. */
  def warmSession(spark: SparkSession, dataDir: String): Unit = {
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .limit(1000).groupBy("l_returnflag").count().collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").foreach(_ => ())
    }
  }

  def run(spark: SparkSession, o: Main.Opts, t0: Long): Result = {
    val log = (s: String) => System.err.println(s"[perfbench] $s")
    val sf = sfName(o.data)
    val recorded = loadRecorded(o.expected)
    val faces = sample(recorded, sf, o.seed)
    require(faces.nonEmpty, s"no recorded faces for $sf")
    log(s"mix of ${faces.size}: ${faces.mkString(" ")}")

    var attempted = 0
    var failed = 0
    def runFace(face: String): Double = {
      attempted += 1
      val ts = System.nanoTime()
      val got = try Some(digest(SparkEntry.queries(face)(spark, o.data)))
                catch { case NonFatal(e) => log(s"$face failed: $e"); None }
      val sec = Stats.secs(ts)
      val want = recorded((sf, face))
      if (!got.contains((want.rows, want.hash))) {
        log(s"CHECK FAILED $face: got $got, want (${want.rows},${want.hash})")
        failed += 1
      }
      sec
    }

    // set-up rounds: drop every session cache, then run the mix once
    val builds = mutable.ArrayBuffer.empty[Double]
    val rounds = (0 until setupRounds).map { _ =>
      val ts = System.nanoTime()
      graft.ext.DedupOps.releaseShared()
      spark.catalog.clearCache()
      val b0 = Trace.buildSec()
      faces.foreach(runFace)
      builds += Trace.buildSec() - b0
      Stats.secs(ts)
    }
    val cacheMb = Trace.cacheMb(spark)
    // passes with the caches kept, so that timing starts warm
    (1 to warmPasses).foreach(_ => faces.foreach(runFace))
    log(f"set-up rounds ${rounds.map(s => f"$s%.2f").mkString(" ")} s; session start to timing ${Stats.secs(t0)}%.2f s")

    // timed closed loop: one operation is one pass over the mix; passes
    // run until the run time is spent. A traced run alternates untraced
    // and traced passes.
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val lat = mutable.ArrayBuffer.empty[Double]
    val untracedLat = mutable.ArrayBuffer.empty[Double]
    def pass(): Double = faces.map(runFace).sum
    while (lat.sum + untracedLat.sum < o.seconds || lat.isEmpty) {
      trace match {
        case Some(t) if untracedLat.size > lat.size => t.during { val s = pass(); lat += s; ((), s) }
        case Some(_) => untracedLat += pass()
        case None => lat += pass()
      }
    }
    log(s"passes ${(lat ++ untracedLat).map(s => f"$s%.2f").mkString(" ")} s")

    val metrics = trace match {
      case None => Seq(
        ("setup_s", Stats.median(rounds), "s"),
        ("op_p50_s", Stats.median(lat.toSeq), "s"))
      case Some(t) =>
        Trace.layerMetrics(t.common(Main.cores(spark)) ++ Map(
          "registry.build_s" -> Stats.median(builds.toSeq),
          "registry.cache_mb" -> cacheMb,
          "trace.overhead" -> Trace.overhead(lat.toSeq, untracedLat.toSeq)))
    }
    Result(attempted, failed, metrics)
  }

  /** Record every face's digest and its cold and warm time. Every face
    * starts from empty session caches, so its cold time includes every
    * build it needs. With `dump`, also write each face's output as parquet
    * plus `oracle_sql.json`, the layout `tools/check_correctness.py`
    * compares against DuckDB. */
  def record(spark: SparkSession, dataDir: String, out: String, dump: String): Unit = {
    val sf = sfName(dataDir)
    warmSession(spark, dataDir)
    val lines = SparkEntry.queries.toSeq.flatMap { case (face, fn) =>
      try {
        graft.ext.DedupOps.releaseShared()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val (rows, hash) = digest(fn(spark, dataDir))
        val cold = Stats.secs(t0)
        val t1 = System.nanoTime()
        val again = digest(fn(spark, dataDir))
        val warm = Stats.secs(t1)
        require(again == ((rows, hash)), s"$face digest differs between runs")
        if (dump.nonEmpty)
          fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$face")
        System.err.println(f"[record] $face%-32s rows=$rows cold=$cold%.2f warm=$warm%.2f")
        Some(f"$sf\t$face\t$rows\t$hash\t$cold%.3f\t$warm%.3f")
      } catch {
        case NonFatal(e) => System.err.println(s"[record] $face failed: $e"); None
      }
    }
    Files.write(Paths.get(out),
      ("sf\tface\trows\thash\tcold_s\twarm_s" +: lines).mkString("", "\n", "\n")
        .getBytes(UTF_8))
    if (dump.nonEmpty) {
      def q(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      Files.write(Paths.get(s"$dump/oracle_sql.json"), SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}").getBytes(UTF_8))
    }
  }
}
