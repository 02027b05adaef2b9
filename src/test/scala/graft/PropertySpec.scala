package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.Fixtures
import graft.operators.{ListingOps, TimeOps}

/** Property-based tests (SURVEY.md §5.2.3) using ScalaCheck generators
  * with deterministic seeds: oldest-folder selection is the argmin for
  * arbitrary listings; duration formatting is total and shaped;
  * ingest-file collection always includes its prepended keys. */
class PropertySpec extends SparkSuite {

  private val tsGen = Gen.choose(1L, 4102444800L) // 1970..2100 epoch secs
  private val markerGen = Gen.oneOf("bulk.txt", "incremental.txt")
  private val folderGen = for {
    ts <- tsGen
    marker <- markerGen
  } yield (ts, marker)

  private def sample[T](g: Gen[T], i: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(i))

  test("native text kernels match composable forms on arbitrary unicode text") {
    import org.apache.spark.sql.functions._
    import graft.ext.DedupOps
    // whitespace-heavy unicode strings: tabs/newlines are NOT trimmed by
    // Spark's trim (spaces only) — the kernels must agree on that too
    val textGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf(" ", "\t", "\n", "  "),
      Gen.oneOf("héllo", "wörld", "日本語", "émoji🙂", "")))
      .map(_.mkString(" "))
    val texts = (1L to 60L).map(i => Tuple1(sample(textGen, i))) :+
      Tuple1("") :+ Tuple1("   ") :+ Tuple1("\tone two three\n")
    val spark0 = spark
    import spark0.implicits._
    val df = texts.toDF("text")
    assert(df.select(
        DedupOps.shingles(col("text"), 3).as("a"),
        DedupOps.shinglesComposable(col("text"), 3).as("b"))
      .filter(not(col("a") === col("b"))).count() == 0)
    assert(df.select(
        DedupOps.simhash("text").as("a"),
        DedupOps.simhashComposable("text").as("b"))
      .filter(col("a") =!= col("b")).count() == 0)
    assert(df.select(DedupOps.shingles(col("text"), 2).as("sh"))
      .select(
        DedupOps.minhashSig("sh", 16).as("a"),
        DedupOps.minhashSigComposable("sh", 16).as("b"))
      .filter(not(col("a") === col("b"))).count() == 0)
  }

  test("int8_adc_dot equals the composable zip_with fold on arbitrary codes and weights") {
    import org.apache.spark.sql.functions._
    val rowGen = for {
      n <- Gen.choose(0, 64)
      codes <- Gen.listOfN(n, Gen.choose(0L, 255L))
      ws <- Gen.listOfN(n, Gen.choose(-4.0, 4.0))
    } yield (codes, ws)
    val rows = (1L to 50L).map(i => sample(rowGen, i)) :+
      ((List.empty[Long], List.empty[Double]))
    val spark0 = spark
    import spark0.implicits._
    val df = rows.toDF("codes", "w")
    val native = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Int8AdcDot(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("codes")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("w"))))
    val composable = expr(
      "aggregate(zip_with(codes, w, (c, x) -> CAST(c AS DOUBLE) * x), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    // bit-identical: same ascending in-order double accumulation
    assert(df.select(native.as("a"), composable.as("b"))
      .filter(col("a") =!= col("b")).count() == 0)
  }

  test("edit_within1 equals levenshtein<=1 on arbitrary near and far pairs") {
    import org.apache.spark.sql.functions._
    // pairs biased toward the interesting band: equal, d=1 shapes
    // (substitute/insert/delete), d=2 shapes, unicode, empty strings
    val baseGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf("", "a", "ab", "Customer#000014999", "héllo wörld", "日本語abc"))
    val pairGen = for {
      s <- baseGen
      op <- Gen.choose(0, 5)
      i <- Gen.choose(0, math.max(s.length - 1, 0))
      c <- Gen.alphaNumChar
    } yield op match {
      case 0 => (s, s)
      case 1 if s.nonEmpty => (s, s.updated(i, c))                 // substitute
      case 2 => (s, s.patch(i, c.toString, 0))                     // insert
      case 3 if s.nonEmpty => (s, s.patch(i, "", 1))               // delete
      case 4 if s.length > 1 => (s, s.patch(0, "", 1).updated(0, c)) // d~2
      case _ => (s, sample(baseGen, i + 7L))                       // unrelated
    }
    val pairs = (1L to 300L).map(i => sample(pairGen, i)) ++ Seq(
      ("", ""), ("", "x"), ("", "xy"), ("ab", "ba"), ("日本", "日木"),
      ("aab", "ab"), ("x00y", "x01y"), ("🙂ab", "ab"), ("🙂ab", "🙃ab"))
    val spark0 = spark
    import spark0.implicits._
    val df = pairs.toDF("a", "b")
    val diff = df.filter(
      expr("edit_within1(a, b)") =!= (levenshtein(col("a"), col("b")) <= 1))
    assert(diff.count() == 0, diff.collect().mkString(", "))
  }

  test("packed_pairs emits exactly the C(k,2) ordered pairs of arbitrary sorted sets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val setGen = Gen.listOf(Gen.choose(0L, 4294967295L)).map(_.distinct.sorted)
    val sets = (1L to 80L).map(i => Tuple1(sample(setGen, i))) :+
      Tuple1(List.empty[Long]) :+ Tuple1(List(7L)) :+ Tuple1(List(0L, 4294967295L))
    val spark0 = spark
    import spark0.implicits._
    val got = sets.toDF("ps")
      .select(col("ps"), ColumnBridge.column(graft.functions.PackedPairs(
        ColumnBridge.expression(col("ps")))).as("pp"))
      .collect()
      .map(r => r.getAs[scala.collection.Seq[Long]]("ps").toSeq -> r.getAs[scala.collection.Seq[Long]]("pp").toSeq)
    got.foreach { case (ps, pp) =>
      val want = for {
        i <- ps.indices; j <- (i + 1) until ps.size
      } yield (ps(i) << 32) + ps(j)
      assert(pp == want, s"set $ps")
      // every pair unpacks to a < b from the source set
      pp.foreach { p =>
        val a = p >>> 32; val b = p & 0xffffffffL
        assert(a < b, s"pair $a,$b not ordered")
        assert(ps.contains(a) && ps.contains(b))
      }
    }
  }

  test("oldestPendingIngest selects the numeric argmin for arbitrary folder sets") {
    (1L to 20L).foreach { i =>
      val folders = sample(Gen.nonEmptyListOf(folderGen), i)
      val keys = folders.flatMap { case (ts, marker) =>
        Seq(s"pending/$ts/$marker", s"pending/$ts/person/person_headers.csv.gz")
      }
      val got = ListingOps.oldestPendingIngest(Fixtures.listing(spark, keys))
        .collect()
      val expectTs = folders.map(_._1).min
      assert(got.head.getString(0) == expectTs.toString, s"seed $i: $folders")
      // the reported type is the marker of SOME folder with the min ts
      val typesAtMin = folders.filter(_._1 == expectTs)
        .map(_._2.stripSuffix(".txt")).toSet
      assert(typesAtMin.contains(got.head.getString(1)), s"seed $i")
    }
  }

  test("formatDuration is total and always matches the duration grammar") {
    (1L to 100L).foreach { i =>
      val seconds = sample(Gen.choose(0L, 10000000L), i)
      val s = TimeOps.formatDuration(Some(0L), Some(seconds))
      assert(s.matches("\\d+h:\\d{2}mins"), s"seed $i: $s")
      val h = s.takeWhile(_ != 'h').toLong
      val m = s.dropWhile(_ != ':').drop(1).takeWhile(_.isDigit).toLong
      assert(h == (seconds / 3600) % 24, s"seed $i")
      assert(m == (seconds / 60) % 60, s"seed $i")
    }
  }

  test("ingestFiles always prepends exactly the manifest and folder keys") {
    (1L to 10L).foreach { i =>
      val ts = sample(tsGen, i)
      val rows = ListingOps.ingestFiles(
          Fixtures.listing(spark, Fixtures.tsFolderKeys), ts.toString)
        .collect().map(_.getString(0)).toSeq
      assert(rows.take(2) == Seq(s"pending/$ts/manifest.json", s"pending/$ts"))
    }
  }

  test("binary media parsers are total on arbitrary bytes and all fixture truncations") {
    import graft.ext.MultimodalOps
    val fix = MultimodalOps.Fixtures
    def parseAll(p: Array[Byte]): Unit = {
      MultimodalOps.parseImageDims(p)
      MultimodalOps.parseWavMeta(p)
      MultimodalOps.parseMp4Meta(p)
      ()
    }
    // random byte soup, including payloads opening with each magic
    val byteGen = Gen.listOf(Gen.choose(-128, 127).map(_.toByte)).map(_.toArray)
    val magics = Seq(
      Array(0x89, 'P', 'N', 'G').map(_.toByte),
      Array(0xFF, 0xD8).map(_.toByte),
      "RIFF".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes("US-ASCII"))
    (1L to 200L).foreach { i =>
      val tail = sample(byteGen, i)
      parseAll(tail)
      magics.foreach(m => parseAll(m ++ tail))
    }
    // EVERY truncation of every valid fixture must parse or decline
    // cleanly — the honest-failure contract for cut-off uploads
    val fixtures = Seq(fix.png64x48, fix.jpeg320x240, fix.wavStereo8k,
      fix.wavMono44k, fix.mp4Video)
    fixtures.foreach { f =>
      (0 to f.length).foreach(n => parseAll(f.take(n)))
      // and corrupted single bytes at every offset
      f.indices.foreach { j =>
        val c = f.clone(); c(j) = (c(j) ^ 0x5A).toByte; parseAll(c)
      }
    }
  }

  test("grouped prefix-sum rewrite equals the naive window on arbitrary mixes") {
    // tokenBudgetOver's range-partitioned offset computation must equal
    // a plain per-source running-sum window for ANY (source, tokens)
    // distribution: skewed sources, single-row sources, all-one-source,
    // token counts at and around the budget boundary
    import org.apache.spark.sql.functions._
    import graft.ext.SampleOps
    val spark0 = spark
    import spark0.implicits._
    val rowGen = for {
      src <- Gen.frequency(6 -> Gen.const("hot"), 2 -> Gen.oneOf("a", "b"),
        1 -> Gen.alphaLowerStr.map(s => "s" + s.take(3)))
      w <- Gen.frequency(5 -> Gen.choose(1L, 9L), 1 -> Gen.choose(90L, 110L))
    } yield (src, w)
    (1L to 5L).foreach { trial =>
      val rows = sample(Gen.listOfN(300, rowGen), trial).zipWithIndex
        .map { case ((s, w), ix) => (s, ix.toLong, w) }
      val base = rows.toDF("source", "doc_id", "n_tokens")
      val budget = 100L
      val got = SampleOps.tokenBudgetOver(spark, base, budget, "prop-seed")
        .collect().map(_.toSeq).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("pri"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val naive = base
        .withColumn("pri", md5(concat(lit("prop-seed:"), col("doc_id").cast("string"))))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
        .collect().map(_.toSeq).toSeq
      assert(got == naive, s"trial $trial diverged")
    }
  }
}
