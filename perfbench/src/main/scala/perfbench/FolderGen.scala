package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Seeded generator of the pending folders the ingest loop consumes.
  *
  * Rows come from the sf parquet tables (read without Spark), rendered as the plain CSV the
  * ingest reader expects (bare commas, no quoting, no header row). Each
  * entity's sampled rows are cut into chunks; a chunk is gzip-encoded
  * once (java's gzip header carries no mtime, so equal inputs give equal
  * bytes and SHA-256 values) and a folder is a choice of chunks per
  * entity plus the `<entity>_headers.csv.gz` sidecar, the
  * `bulk.txt`/`incremental.txt` marker and, written last, `manifest.json`.
  *
  * Each chunk carries its row count and an order-insensitive hash: the sum
  * of Spark's `xxhash64` over each CSV line, so a sink's content can be
  * checked with `sum(xxhash64(concat_ws(",", columns)))`. */
object FolderGen {

  val entities: Seq[String] = Seq("customer", "supplier", "part", "orders", "lineitem")

  final case class Chunk(entity: String, index: Int, gz: Array[Byte], sha256: String,
                         rows: Long, hash: BigInt) {
    def fileName: String = f"${entity}_$index%03d.csv.gz"
  }

  final case class EntityPool(entity: String, header: String, chunks: IndexedSeq[Chunk])

  /** What one staged folder should land in each sink. */
  final case class Folder(name: String, kind: String,
                          expected: Map[String, (Long, BigInt)],
                          manifest: Seq[(String, String)],
                          gzBytes: Long) {
    def rows: Long = expected.values.map(_._1).sum
  }

  def lineHash(line: String): BigInt =
    BigInt(XxHash64Function.hash(UTF8String.fromString(line), StringType, 42L))

  def gzip(text: String): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bytes, 1 << 16)
    out.write(text.getBytes(UTF_8))
    out.close()
    bytes.toByteArray
  }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** Every row of an entity table as a CSV line, plus the header line.
    * No field is empty (the reader maps empty fields to null) and no
    * field holds a comma (the reader splits on bare commas). Rendering
    * the sf0.1 tables takes seconds, so the lines are kept in `cacheDir`,
    * keyed by the source file's size and mtime. */
  def lines(dataDir: String, entity: String, cacheDir: String): (String, IndexedSeq[String]) = {
    val src = new java.io.File(s"$dataDir/$entity.parquet")
    val cached = Paths.get(cacheDir, s"${Paths.get(dataDir).getFileName}-$entity-${src.length}-${src.lastModified}.csv")
    if (!Files.exists(cached)) {
      val (columns, rows) = ParquetRows.read(src.getPath)
      val text = rows.map(_.map(v => if (v == null || v.isEmpty) "?" else v.replace(',', ';')).mkString(","))
      Files.createDirectories(cached.getParent)
      val tmp = Files.createTempFile(cached.getParent, entity, ".tmp")
      Files.write(tmp, (columns.mkString(",") +: text).asJava, UTF_8)
      Files.move(tmp, cached, StandardCopyOption.ATOMIC_MOVE)
    }
    val all = Files.readAllLines(cached, UTF_8).asScala.toIndexedSeq
    (all.head, all.tail)
  }

  /** Sample `fraction` of each entity table with `seed`, shuffle the rows
    * with the seed and deal them round-robin into `chunks` chunks. */
  def pool(dataDir: String, cacheDir: String, fraction: Double, chunks: Int,
           seed: Long): Seq[EntityPool] =
    entities.map { entity =>
      val (header, rows) = lines(dataDir, entity, cacheDir)
      val rng = new scala.util.Random(seed * 31 + entity.hashCode)
      val sample = rng.shuffle(rows.filter(_ => rng.nextDouble() < fraction))
      val dealt = (0 until chunks).map(i => (i until sample.length by chunks).map(sample))
      val encoded = Parallel.map(dealt.zipWithIndex) { case (ls, i) =>
        val gz = gzip(ls.map(_ + "\n").mkString)
        Chunk(entity, i, gz, sha256(gz), ls.size.toLong, ls.map(lineHash).sum)
      }
      EntityPool(entity, header, encoded.toIndexedSeq)
    }

  /** Write one folder under `bucket/pending/<name>/`, the manifest last. */
  def stage(bucket: String, name: String, kind: String,
            parts: Seq[(EntityPool, Seq[Chunk])]): Folder = {
    val dir = Paths.get(bucket, "pending", name)
    def put(p: Path, bytes: Array[Byte]): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    val manifest = parts.flatMap { case (pool, chunks) =>
      val edir = dir.resolve(pool.entity)
      val header = gzip(pool.header + "\n")
      put(edir.resolve(s"${pool.entity}_headers.csv.gz"), header)
      chunks.foreach(c => put(edir.resolve(c.fileName), c.gz))
      (s"${pool.entity}_headers.csv.gz", sha256(header), header.length.toLong) +:
        chunks.map(c => (c.fileName, c.sha256, c.gz.length.toLong))
    }
    put(dir.resolve(s"$kind.txt"), Array.emptyByteArray)
    put(dir.resolve("manifest.json"), manifest.map { case (f, s, _) =>
      s"""{"FileName": "$f", "SHA256": "$s"}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    Folder(name, kind,
      parts.map { case (pool, cs) => pool.entity -> (cs.map(_.rows).sum, cs.map(_.hash).sum) }.toMap,
      manifest.map { case (f, s, _) => (f, s) },
      manifest.map(_._3).sum)
  }
}

/** A small fixed pool for CPU-bound set-up work (gzip encoding). */
object Parallel {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(Runtime.getRuntime.availableProcessors(), 4))
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
