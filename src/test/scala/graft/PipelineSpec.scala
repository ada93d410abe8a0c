package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{MediaOps, PipelineOps}

/** Pipeline-operator tests on the driver's sf0.001 tables: hash-based scale
  * paths (MinHash-LSH, SimHash, vector LSH) are validated against their
  * exact counterparts; the multimodal stub plumbing is exercised through
  * the typed mapPartitions path.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pipeline-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  }
  private def emb = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  test("exact dedup groups partition the table; keepers are min ids") {
    val g = PipelineOps.exactDupGroups(docs).collect()
    assert(g.map(_.getLong(2)).sum == docs.count())
    assert(g.forall(_.getLong(2) >= 1))
  }

  test("minhash-LSH pairs are a subset of exact n-gram Jaccard pairs, " +
    "with high recall on strong (J≥0.9) duplicates") {
    val exact = PipelineOps.ngramJaccardPairs(docs, 3, 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = PipelineOps.minhashLshPairs(docs, 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact.keySet),
      s"LSH emitted non-duplicates: ${lsh -- exact.keySet}")
    val strong = exact.filter(_._2 >= 0.9).keySet
    if (strong.nonEmpty) {
      val recall = strong.count(lsh.contains).toDouble / strong.size
      assert(recall >= 0.9, s"LSH recall on J≥0.9 pairs: $recall")
    }
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
  }

  test("MinHashSig native expression == exploded shingle min-agg, " +
    "bit-for-bit, incl. multi-byte and consecutive-space docs") {
    import graft.functions.OracleHash._
    val n = 3; val numPerms = 32
    // fixture docs PLUS adversarial rows: multi-byte codepoints, doubled
    // spaces (empty tokens), leading/trailing spaces
    val extra = spark.createDataFrame(Seq(
      (100001L, "héllo wörld żółć 漢字 spark spark join"),
      (100002L, "a  b  c  d  e  f"),
      (100003L, " leading and trailing spaces here "),
      (100004L, "exactly three toks"))).toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").union(extra)
    // the formulation minhashBands replaced, inlined as the oracle
    val sigCols = (0 until numPerms).map(p =>
      min(affine(col("sh31"), permA(p), permB(p))).as(s"h$p"))
    val expected = PipelineOps.shingles(d, n)
      .withColumn("sh31", polyHash31(col("shingle")))
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to numPerms).map(r.getLong).toVector)
      .toMap
    val got = d.where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), minhashSig(col("text"), n, numPerms).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, sig) =>
      assert(sig == expected(id), s"signature mismatch for doc $id")
    }
    assert(got.contains(100001L) && got.contains(100002L) &&
      got.contains(100004L))
  }

  test("ShingleHash31s native expression == sorted-distinct exploded " +
    "shingle hashes, bit-for-bit, incl. multi-byte and empty-token docs") {
    import graft.functions.OracleHash._
    val n = 3
    val extra = spark.createDataFrame(Seq(
      (100001L, "héllo wörld żółć 漢字 spark spark join"),
      (100002L, "a  b  c  d  e  f"),
      (100003L, " leading and trailing spaces here "),
      (100004L, "exactly three toks"),
      (100005L, "rep rep rep rep rep"))). // duplicate shingles collapse
      toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").union(extra)
    // the representation it replaces: exploded distinct shingles, hashed
    val expected = PipelineOps.shingles(d, n)
      .withColumn("sh31", polyHash31(col("shingle")))
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(collect_list(col("sh31")))).as("hs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val got = d.where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), shingleHash31s(col("text"), n).as("hs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, hs) =>
      assert(hs == expected(id), s"hash-set mismatch for doc $id")
      assert(hs == hs.distinct.sorted, s"not sorted-distinct for doc $id")
    }
    assert(got(100005L).length < 3) // duplicate shingles collapsed
  }

  test("simhash: exact near-duplicates have small Hamming distance, " +
    "random pairs do not") {
    val fp = PipelineOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dupPairs = PipelineOps.ngramJaccardPairs(docs, 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (dupPairs.nonEmpty) {
      val dupHam = dupPairs.map { case (a, b) => ham(fp(a), fp(b)) }
      assert(dupHam.sum.toDouble / dupHam.size <= 10.0,
        s"near-dups should have small simhash distance: ${dupHam.toSeq}")
    }
    val ids = fp.keys.toArray.sorted
    val randHam = (0 until 200).map { i =>
      ham(fp(ids(i % ids.length)), fp(ids((i * 7 + 13) % ids.length)))
    }.filter(_ > 0)
    assert(randHam.sum.toDouble / randHam.size >= 15.0,
      "random pairs should be far apart in simhash space")
  }

  test("StrHash31 native expression == HOF fold == local codepoint fold " +
    "(incl. non-BMP), inside whole-stage codegen") {
    import spark.implicits._
    import graft.functions.{OracleHash, StrHash31}
    val fixtures = Seq("abc", "", "key agg row", "a😀b", "日本語 text")
      .toDF("s")
    // the column-API fold StrHash31 replaced (kept here as the semantic twin)
    val hof = aggregate(
      filter(split(col("s"), ""), c => length(c) > 0),
      lit(0L), (h, c) => (h * lit(31L) + ascii(c)) % lit(OracleHash.P31))
    val rows = fixtures
      .select(col("s"), OracleHash.polyHash31(col("s")).as("native"),
        hof.as("hofv"))
      .collect()
    rows.foreach { r =>
      val s = r.getString(0)
      val local = s.codePoints().toArray.foldLeft(0L)((h, c) =>
        (h * 31 + c) % OracleHash.P31)
      assert(r.getLong(1) == local, s"native mismatch on '$s'")
      // HOF path splits UTF-16 units, so it only agrees on BMP input — the
      // native expression follows DuckDB's codepoint semantics
      if (!s.exists(Character.isSurrogate))
        assert(r.getLong(2) == local, s"HOF twin mismatch on '$s'")
    }
    assert(StrHash31.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")) == 96354L)
    // stays in whole-stage codegen on a real scan (a local Seq collapses
    // to LocalTableScan with interpreted eval — not the hot path)
    val plan = docs.select(OracleHash.polyHash31(col("text")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [strhash31"), plan)
  }

  test("StrHash31 is bounds-safe and deterministic on MALFORMED UTF-8 " +
    "(truncated multi-byte tails, lone continuation bytes)") {
    import graft.functions.StrHash31
    import org.apache.spark.unsafe.types.UTF8String
    // every malformed shape the decoder special-cases: values must be
    // stable across calls (no over-read of adjacent memory) and the call
    // must never throw
    val malformed = Seq(
      Array(0xf0.toByte),                       // 4-byte lead, no tail
      Array('a'.toByte, 0xe2.toByte),           // 3-byte lead, truncated
      Array(0xc3.toByte),                       // 2-byte lead, truncated
      Array(0x80.toByte),                       // lone continuation byte
      Array('x'.toByte, 0x9f.toByte, 'y'.toByte), // continuation mid-string
      Array(0xf0.toByte, 0x9f.toByte)           // 4-byte lead, partial tail
    )
    malformed.foreach { bytes =>
      val s = UTF8String.fromBytes(bytes)
      val h1 = StrHash31.hash(s)
      val h2 = StrHash31.hash(UTF8String.fromBytes(bytes.clone()))
      assert(h1 == h2, s"unstable hash on ${bytes.map(_ & 0xff).mkString(",")}")
      assert(h1 >= 0 && h1 < StrHash31.P31)
    }
    // and valid input still matches String.codePointAt exactly
    Seq("abc", "a😀b", "日本語").foreach { s =>
      val local = s.codePoints().toArray.foldLeft(0L)((h, c) =>
        (h * 31 + c) % StrHash31.P31)
      assert(StrHash31.hash(UTF8String.fromString(s)) == local)
    }
  }

  test("ArrayDotLL native expression == HOF fold (negatives, zeros, " +
    "64-dim), mismatched dims fail loudly, codegen on real scans") {
    import spark.implicits._
    import graft.functions.ArrayDotLL
    import org.apache.spark.sql.graft.ColumnShim
    def dotCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ColumnShim.column(ArrayDotLL(
        ColumnShim.expression(a), ColumnShim.expression(b)))
    val rnd = new scala.util.Random(7)
    val fixtures = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextLong() % 2000L),
        Array.fill(64)(rnd.nextLong() % 2000L))
    }.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    fixtures.select(dotCol(col("a"), col("b")).as("native"), hof.as("hofv"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // dimension mismatch is an error, not a silent truncation
    val bad = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
    intercept[Exception] {
      bad.select(dotCol(col("a"), col("b"))).collect()
    }
    // whole-stage codegen in the shape the ANN plans use it: the dot runs
    // on plain long-array ATTRIBUTES (post-shuffle), not fused with the
    // interpreted transform() lambda (a CodegenFallback HOF would exclude
    // any project it sits in)
    val iv = transform(col("embedding"), x =>
      floor(x.cast("double") * lit(1000.0)).cast("long"))
    val dotDf = emb.select(iv.as("iv")).repartition(2)
      .select(dotCol(col("iv"), col("iv")).as("d"))
    dotDf.collect() // finalize the adaptive plan before inspecting it
    val plan = dotDf.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("Project [array_dot_ll") && l.trim.contains("*(")), plan)
  }

  test("winnowing fingerprints: the shared-substring guarantee holds, " +
    "duplicates collide fully, disjoint docs do not") {
    import spark.implicits._
    import graft.pipeline.PipelineOps.fingerprints
    val (k, w) = (16, 8)
    val shared = "the quick brown fox jumps over the lazy dog again"
    require(shared.length >= w + k - 1)
    val fixture = Seq(
      (1L, s"aaaa bbbb cccc $shared dddd eeee"),
      (2L, s"zzzz yyyy $shared xxxx wwww vvvv"),
      (3L, (1L to 12L).map(i => s"w${i * 7 % 97}q${i}").mkString(" ")),
      (4L, s"aaaa bbbb cccc $shared dddd eeee") // exact dup of 1
    ).toDF("doc_id", "text")
    val fp = fingerprints(fixture, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: a shared substring of length >= w+k-1 forces >= 1 shared
    // fingerprint (Schleimer et al. 2003, theorem 1)
    assert((fp(1L) & fp(2L)).nonEmpty, "winnowing guarantee violated")
    // byte-identical docs fingerprint identically
    assert(fp(1L) == fp(4L))
    // disjoint content: no collisions expected at 31-bit hashes / this size
    assert((fp(1L) & fp(3L)).isEmpty)
    // density: winnowing keeps roughly 2/(w+1) of gram positions, far
    // fewer fingerprints than grams
    val nGrams1 = fixture.where(col("doc_id") === 1L)
      .select(length(col("text"))).collect()(0).getInt(0) - k + 1
    assert(fp(1L).size < nGrams1 / 2)
  }

  test("winnowing fingerprints: in-row WinnowFps equals the exploded " +
    "window-min formulation bit-for-bit, multibyte input included") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.OracleHash
    val (k, w) = (16, 8)
    // the sf docs corpus plus adversarial rows: multibyte codepoints,
    // exactly-one-window length, one-below-a-window length, repeats
    val extra = Seq(
      (9001L, "héllo wörld ünïcode ærger ßtraße 文字化けテスト end"),
      (9002L, "x" * (k + w - 1)),     // exactly one full window
      (9003L, "y" * (k + w - 2)),     // one short of a full window: empty
      (9004L, "ab" * 40),             // periodic: heavy duplicate minima
      (9005L, "é" + "z" * 30)    // multibyte at position 0
    ).toDF("doc_id", "text")
    val fixture = docs.select("doc_id", "text").union(extra)
    // the previous formulation, verbatim: posexplode every gram position,
    // sliding MIN over a doc-partitioned window, full windows only
    val grams = fixture
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("text")) - lit(k - 1)),
          i => OracleHash.polyHash31(col("text").substr(i, lit(k))))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    val exploded = grams
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("fp", min("h").over(win))
      .where(col("p") <= col("n") - w)
      .select("doc_id", "fp").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val native = PipelineOps.fingerprints(fixture, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == exploded,
      "in-row winnowing diverged from the exploded window-min oracle")
    // the plan is shuffle-free: winnowing is doc-local, so no Exchange
    // (and no Window) may appear — the round-6 verdict's zero-shuffle rule
    val fpd = PipelineOps.fingerprints(fixture, k, w)
    fpd.collect()
    val plan = fpd.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fingerprints plan shuffles:\n$plan")
    assert(!plan.contains("Window"), s"fingerprints plan has a window:\n$plan")
  }

  test("token stats agree with a local recount") {
    val got = PipelineOps.tokenStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      assert(got(id) == (text.length.toLong, text.split(' ').length.toLong))
    }
  }

  test("langId is deterministic and total") {
    val a = PipelineOps.langId(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = PipelineOps.langId(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq == b.toSeq)
    assert(a.length == docs.count())
    assert(a.forall(x => PipelineOps.langProfiles.contains(x._2)))
  }

  test("annCosine and annTopKInt agree on the easy top-1 (self-match)") {
    val cosTop1 = PipelineOps.annCosine(emb, 10, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val intTop1 = PipelineOps.annTopKInt(emb, 10, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // a vector's nearest neighbor under cosine is itself
    (0L until 10L).foreach { q => assert(cosTop1(q) == q) }
    assert(intTop1.keySet == cosTop1.keySet)
  }

  test("vector LSH buckets: identical vectors share buckets; bucket ids " +
    "span multiple values (not degenerate)") {
    val b = PipelineOps.annLshBuckets(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(b.length == emb.count())
    assert(b.map(_._2).distinct.length > 4, "degenerate LSH bucketing")
    // deterministic
    val b2 = PipelineOps.annLshBuckets(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(b.toSeq == b2.toSeq)
  }

  test("cleanCorpus: composed dedup + quality + language pipeline keeps a " +
    "duplicate-free, gated corpus with text untouched") {
    import org.apache.spark.sql.functions.{col, length}
    val out = PipelineOps.cleanCorpus(docs, minChars = 50, minTokens = 8,
      nearDupThreshold = 0.9, langs = Seq("en", "de", "fr")).cache()
    val n = out.count()
    assert(n > 0 && n < docs.count())
    // survivors: allowed languages only, gates hold
    assert(out.where(!col("lang").isin("en", "de", "fr")).count() == 0)
    assert(out.where(length(col("text")) < 50).count() == 0)
    // no surviving exact duplicates
    val dups = out.groupBy("text").count().where(col("count") > 1).count()
    assert(dups == 0)
    // no surviving strong near-duplicate pairs
    assert(PipelineOps.ngramJaccardPairs(out, 3, 0.9).count() == 0)
    // survivors' text is byte-identical to the source rows (anti-corruption)
    val src = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.select("doc_id", "text").collect().foreach { r =>
      assert(src(r.getLong(0)) == r.getString(1))
    }
    out.unpersist()
  }

  test("REAL image decode: distributed PNG encode -> javax.imageio decode " +
    "round-trips dimensions and every pixel") {
    import spark.implicits._
    // JVM-local ground truth (no Spark): decode must see the exact raster
    def expected(id: Long): (Long, Long, Long) = {
      val w = 8 + (id % 16); val h = 8 + (id % 12)
      var s = 0L
      for (y <- 0L until h; x <- 0L until w)
        s += (x * 7 + y * 13 + id) % 256 +
          (x * 3 + y * 5 + 2 * id) % 256 + (x * 11 + y * 2 + 3 * id) % 256
      (w, h, s)
    }
    val got = MediaOps.decodeImages(MediaOps.pngTable(docs)).collect()
    assert(got.length == docs.count())
    got.foreach { m =>
      val (w, h, s) = expected(m.media_id)
      assert((m.width, m.height, m.pix_sum) == ((w, h, s)),
        s"decode mismatch for ${m.media_id}")
    }
    // the payloads really are PNG containers (magic bytes), not headers
    val magic = MediaOps.pngTable(docs).take(3)
    magic.foreach { r =>
      assert((r.payload(0) & 0xff) == 0x89 && r.payload(1) == 'P'.toByte &&
        r.payload(2) == 'N'.toByte && r.payload(3) == 'G'.toByte)
    }
  }

  test("REAL multi-format image decode: PNG/BMP/GIF round-trip exactly; " +
    "JPEG decodes to a raster near the source (lossy by design)") {
    import spark.implicits._
    def rgbSum(id: Long): Long = {
      val w = 8 + (id % 16); val h = 8 + (id % 12)
      var s = 0L
      for (y <- 0L until h; x <- 0L until w)
        s += (x * 7 + y * 13 + id) % 256 +
          (x * 3 + y * 5 + 2 * id) % 256 + (x * 11 + y * 2 + 3 * id) % 256
      s
    }
    def graySum(id: Long): Long = {
      val w = 8 + (id % 16); val h = 8 + (id % 12)
      var s = 0L
      for (y <- 0L until h; x <- 0L until w)
        s += 3 * ((x * 7 + y * 13 + id) % 256)
      s
    }
    val rows = MediaOps.imageFormatsTable(docs).cache()
    val got = MediaOps.decodeImageFormats(rows).collect()
    assert(got.length == docs.count())
    got.foreach { m =>
      val w = 8 + (m.media_id % 16); val h = 8 + (m.media_id % 12)
      assert((m.width, m.height) == ((w, h)),
        s"dims mismatch for ${m.fmt} ${m.media_id}")
      m.fmt match {
        case "png" | "bmp" =>
          assert(m.pix_sum == rgbSum(m.media_id),
            s"lossless ${m.fmt} checksum mismatch for ${m.media_id}")
        case "gif" =>
          assert(m.pix_sum == graySum(m.media_id),
            s"gif palette checksum mismatch for ${m.media_id}")
        case "jpg" =>
          // lossy: decoded raster must be NEAR the source — mean abs error
          // per channel-sample well under a gray step; a header-sniffing
          // fake would be off by ~85 (uniform-vs-pattern expectation)
          val n = 3L * w * h
          val mae = math.abs(m.pix_sum - rgbSum(m.media_id)).toDouble / n
          assert(mae < 48.0, s"jpeg raster too far off for ${m.media_id}: $mae")
      }
    }
    // JPEG per-pixel: sum differences can cancel — decode a sample locally
    // and bound the TRUE per-sample mean abs error against the source
    rows.filter(_.fmt == "jpg").take(5).foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      val id = r.media_id
      var err = 0L; var n = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        err += math.abs(((rgb >> 16) & 0xff) - (x * 7 + y * 13 + id) % 256) +
          math.abs(((rgb >> 8) & 0xff) - (x * 3 + y * 5 + 2 * id) % 256) +
          math.abs((rgb & 0xff) - (x * 11 + y * 2 + 3 * id) % 256)
        n += 3
      }
      assert(err.toDouble / n < 64.0,
        s"jpeg per-pixel MAE too high for $id: ${err.toDouble / n}")
    }
    // the payloads really are the advertised containers (magic bytes)
    rows.collect().take(40).foreach { r =>
      r.fmt match {
        case "png" => assert((r.payload(0) & 0xff) == 0x89 &&
          r.payload(1) == 'P'.toByte)
        case "bmp" => assert(r.payload(0) == 'B'.toByte &&
          r.payload(1) == 'M'.toByte)
        case "gif" => assert(new String(r.payload.take(4), "US-ASCII") == "GIF8")
        case "jpg" => assert((r.payload(0) & 0xff) == 0xff &&
          (r.payload(1) & 0xff) == 0xd8)
      }
    }
    rows.unpersist()
  }

  test("REAL audio decode: distributed WAV encode -> javax.sound.sampled " +
    "decode round-trips frame count, rate, and every sample") {
    import spark.implicits._
    def expected(id: Long): (Long, Long) = {
      val n = 400 + (id % 256)
      var s = 0L
      for (i <- 0L until n) s += (id * 31 + i * 17) % 65536 - 32768
      (n, s)
    }
    val got = MediaOps.decodeAudio(MediaOps.wavTable(docs)).collect()
    assert(got.length == docs.count())
    got.foreach { m =>
      val (n, s) = expected(m.media_id)
      assert((m.n_samples, m.sample_rate, m.amp_sum) == ((n, 8000L, s)),
        s"audio decode mismatch for ${m.media_id}")
    }
    // the payloads really are RIFF/WAVE containers, not raw PCM
    val magic = MediaOps.wavTable(docs).take(3)
    magic.foreach { r =>
      assert(new String(r.payload.take(4), "US-ASCII") == "RIFF" &&
        new String(r.payload.slice(8, 12), "US-ASCII") == "WAVE")
    }
  }

  test("REAL video decode: distributed Y4M encode -> container parse " +
    "round-trips geometry, frame count, and every sample byte") {
    import spark.implicits._
    def params(id: Long): (Long, Long, Long) =
      (16 + 2 * (id % 8), 8 + 2 * (id % 6), 3 + (id % 4))
    def expectedSum(id: Long): Long = {
      val (w, h, fr) = params(id)
      val nb = fr * w * h * 3 / 2
      var s = 0L
      for (k <- 0L until nb) s += (id + k) % 256
      s
    }
    val got = MediaOps.decodeVideo(MediaOps.y4mTable(docs)).collect()
    assert(got.length == docs.count())
    got.foreach { m =>
      val (w, h, fr) = params(m.media_id)
      assert((m.width, m.height, m.n_frames, m.samp_sum) ==
        ((w, h, fr, expectedSum(m.media_id))),
        s"video decode mismatch for ${m.media_id}")
    }
    // the payloads really are Y4M containers (magic + FRAME markers)
    val magic = MediaOps.y4mTable(docs).take(3)
    magic.foreach { r =>
      assert(new String(r.payload.take(9), "US-ASCII") == "YUV4MPEG2")
      assert(new String(r.payload, "US-ASCII").contains("FRAME\n"))
    }
    // frame sampling reads the decoded LUMA plane, every 2nd frame
    val frames = MediaOps.sampleVideoFrames(MediaOps.y4mTable(docs), 2)
      .collect()
    val byMedia = frames.groupBy(_.media_id)
    got.foreach { m =>
      val fs = byMedia(m.media_id)
      assert(fs.length == (m.n_frames + 1) / 2)
      fs.foreach { f =>
        val (w, h, _) = params(m.media_id)
        val frameBytes = w * h * 3 / 2
        val k0 = f.frame_idx * frameBytes // luma plane leads each frame
        var s = 0L
        for (k <- k0 until (k0 + w * h)) s += (m.media_id + k) % 256
        assert(f.luma_sum == s,
          s"luma mismatch media ${m.media_id} frame ${f.frame_idx}")
      }
    }
  }

  /** Reference labels for connectedComponents: driver-side union-find. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are not guaranteed minimal by rank-free union order alone;
    // normalize: label = min member per root
    val members = parent.keys.toSeq.groupBy(find)
    members.flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }.toMap
  }

  private def ccCheck(edges: Seq[(Long, Long)], tag: String): Unit = {
    import spark.implicits._
    val got = PipelineOps.connectedComponents(
        edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(edges)
    assert(got == want, s"$tag: got ${got.toSeq.sorted.take(20)} " +
      s"want ${want.toSeq.sorted.take(20)}")
  }

  test("connectedComponents: large-star/small-star == union-find on " +
    "adversarial shapes (chain, star, cliques, random, dups, self-loops)") {
    // long path: worst case for naive propagation, log rounds here
    ccCheck((0L until 40L).map(i => (i, i + 1)), "path-asc")
    ccCheck((0L until 40L).map(i => (i + 1, i)).reverse, "path-desc")
    // star centered at the LARGEST id (root must still be the min)
    ccCheck((0L until 20L).map(i => (100L, i)), "star-high-center")
    // two cliques bridged, plus an isolated pair
    val k5a = for (i <- 0 until 5; j <- i + 1 until 5)
      yield (i.toLong, j.toLong)
    val k5b = for (i <- 10 until 15; j <- i + 1 until 15)
      yield (i.toLong, j.toLong)
    ccCheck(k5a ++ k5b ++ Seq((4L, 10L), (500L, 501L)), "cliques-bridge")
    // duplicate and reversed edges, self-loops mixed in
    ccCheck(Seq((3L, 7L), (7L, 3L), (3L, 7L), (5L, 5L), (7L, 9L)),
      "dups-selfloops")
    // seeded random graphs across densities
    val rnd = new scala.util.Random(42)
    for (n <- Seq(30, 120); m <- Seq(n / 2, n, 3 * n)) {
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      ccCheck(es, s"random-n$n-m$m")
    }
    // empty edge set converges to an empty labeling
    import spark.implicits._
    assert(PipelineOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
  }

  test("dupClusters: every minhash pair lands in one cluster; labels are " +
    "component minima; csize counts members") {
    val cl = PipelineOps.dupClusters(docs, 3, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lbl = cl.map(c => c._1 -> c._2).toMap
    val pairs = PipelineOps.minhashLshPairs(docs, 3, 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // fixture sanity: the corpus has near-dups
    pairs.foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
    }
    // label = min member of its cluster; csize = member count
    cl.groupBy(_._2).foreach { case (root, ms) =>
      assert(ms.map(_._1).min == root, s"cluster $root not labeled by min")
      assert(ms.forall(_._3 == ms.length), s"cluster $root csize wrong")
    }
    // and the labeling matches union-find over the pair graph exactly
    assert(lbl == unionFind(pairs.toSeq), "cluster labeling != union-find")
  }

  test("tokenBpe: regex piece count and bounded-piece BPE-ish count " +
    "match a brute Scala tokenization") {
    val got = PipelineOps.tokenBpe(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val pieces = "[a-z]+|[0-9]+|[^a-z0-9 ]+".r.findAllIn(text).toSeq
      val nBpe = pieces.map(w => (w.length + 3) / 4).sum.toLong
      assert(got(id) == ((pieces.length.toLong, nBpe)), s"doc $id")
    }
    // a doc with digits and punctuation splits into class runs
    import spark.implicits._
    val mixed = Seq((1L, "abc12 de-f!! ghijklmno")).toDF("doc_id", "text")
    val row = PipelineOps.tokenBpe(mixed).collect()(0)
    // pieces: abc|12|de|-|f|!!|ghijklmno = 7; bpe: 1+1+1+1+1+1+3 = 9
    assert((row.getLong(1), row.getLong(2)) == ((7L, 9L)))
  }

  test("resizeImages: re-decoded output equals an independent JVM box " +
    "filter of the ORIGINAL decoded raster (not the synthetic formula)") {
    import spark.implicits._
    val table = MediaOps.pngTable(docs.limit(40)).localCheckpoint(true)
    val resizedBytes = MediaOps.resizeImages(table, 2).collect()
      .map(r => r.media_id -> r.payload).toMap
    table.collect().foreach { row =>
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.payload))
      val out = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(resizedBytes(row.media_id)))
      assert(out.getWidth == src.getWidth / 2)
      assert(out.getHeight == src.getHeight / 2)
      for (y <- 0 until out.getHeight; x <- 0 until out.getWidth) {
        var r = 0; var g = 0; var b = 0
        for (dy <- 0 to 1; dx <- 0 to 1) {
          val rgb = src.getRGB(2 * x + dx, 2 * y + dy)
          r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff
        }
        val want = ((r / 4) << 16) | ((g / 4) << 8) | (b / 4)
        assert((out.getRGB(x, y) & 0xffffff) == want,
          s"pooled pixel ($x,$y) of media ${row.media_id}")
      }
    }
  }

  test("entityCells: gazetteer mention/doc counts match a brute token " +
    "scan; geocodes land in-domain and cells agree with the grid") {
    val grid = graft.index.CellGrid.lonLat(4)
    val rows = PipelineOps.entityCells(docs, grid).collect()
    // brute-force reference counts from the raw text
    val raw = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val gaz = PipelineOps.defaultGazetteer.toSet
    val wantMentions = scala.collection.mutable.Map.empty[String, Long]
    val wantDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    raw.foreach { case (id, text) =>
      text.split(" ").foreach { w =>
        if (gaz.contains(w)) {
          wantMentions(w) = wantMentions.getOrElse(w, 0L) + 1
          wantDocs(w) = wantDocs.getOrElse(w, Set.empty) + id
        }
      }
    }
    assert(rows.nonEmpty && rows.length == wantMentions.size)
    rows.foreach { r =>
      val (cell, entity, x, y) =
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))
      assert(r.getLong(4) == wantMentions(entity), s"mentions($entity)")
      assert(r.getLong(5) == wantDocs(entity).size.toLong, s"docs($entity)")
      assert(x >= -180.0 && x < 180.0 && y >= -85.0 && y < 85.0)
      assert(cell == grid.cellId(x, y), s"cell($entity)")
    }
    // distinct entities geocode to distinct locations (hash spread)
    assert(rows.map(r => (r.getDouble(2), r.getDouble(3))).distinct.length
      == rows.length)
  }

  test("perceptualHash: matches an independent local recompute; banded " +
    "pair join is EXACT for d<=3 (pigeonhole); resized copies recalled") {
    import spark.implicits._
    import graft.pipeline.MediaOps
    val ids = (0L until 200L).toDS()
    val base = ids.map(id => MediaOps.ImageRow(id, MediaOps.syntheticPng(id)))
    val resized = MediaOps.resizeImages(base, 2)
      .map(r => MediaOps.ImageRow(r.media_id + (1L << 30), r.payload))
    val all = base.unionByName(resized)
    val hashes = MediaOps.perceptualHash(all).collect()
      .map(h => h.media_id -> h.phash).toMap
    assert(hashes.size == 400)
    assert(hashes.values.forall(h => h >= 0L && h < (1L << 24)))

    // independent recompute: decode locally, pool, gradient bits — a
    // from-scratch implementation of the declared hash, not the operator
    def localHash(payload: Array[Byte]): Long = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      val w = img.getWidth; val h = img.getHeight
      def cell(i: Int, j: Int): Long = {
        val xs = ((i * w + 2) / 4) until (((i + 1) * w + 2) / 4)
        val ys = ((j * h + 2) / 4) until (((j + 1) * h + 2) / 4)
        val grays = for (y <- ys; x <- xs) yield {
          val rgb = img.getRGB(x, y)
          (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toLong
        }
        grays.sum / grays.length
      }
      val c = Array.tabulate(4, 4)(cell)
      (for (j <- 0 until 4; i <- 0 until 3; if c(i + 1)(j) > c(i)(j))
        yield 1L << (j * 3 + i)).sum +
        (for (i <- 0 until 4; j <- 0 until 3; if c(i)(j + 1) > c(i)(j))
          yield 1L << (12 + i * 3 + j)).sum
    }
    all.collect().take(60).foreach { r =>
      assert(hashes(r.media_id) == localHash(r.payload), s"id ${r.media_id}")
    }

    // pigeonhole exactness: banded output == brute all-pairs cut
    val got = MediaOps.phashDupPairs(
      MediaOps.perceptualHash(all).toDF(), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = hashes.toArray.sortBy(_._1)
    val want = (for {
      ai <- hs.indices; bi <- (ai + 1) until hs.length
      d = java.lang.Long.bitCount(hs(ai)._2 ^ hs(bi)._2)
      if d <= 3
    } yield (hs(ai)._1, hs(bi)._1, d.toLong)).toSet
    assert(got == want, s"banded join must be exact: got ${got.size} want ${want.size}")

    // recall: a 2x box-filtered copy is a near-dup of its original
    val recalled = got.count(p => p._2 - p._1 == (1L << 30))
    assert(recalled >= 170,
      s"resized-duplicate recall $recalled/200 below 0.85")
  }

  test("tokenBpe2: counts equal a symbol-level reference BPE; merge ORDER " +
    "changes the count; real docs diverge from the ceil bound") {
    import spark.implicits._
    // symbol-level reference: one non-overlapping left-to-right pass per
    // merge, rank order — an independent implementation of the declared
    // semantics (lists of symbols, no string-delimiter machinery)
    def bpeRef(text: String, merges: Seq[(String, String)]): Long = {
      var syms: List[String] = text.replace(' ', '_').map(_.toString).toList
      merges.foreach { case (x, y) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) rest match {
          case a :: b :: t if a == x && b == y => out += (x + y); rest = t
          case a :: t => out += a; rest = t
          case Nil =>
        }
        syms = out.toList
      }
      syms.count(_ != "_").toLong
    }

    val real = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = PipelineOps.tokenBpe2(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    real.foreach { case (id, text) =>
      assert(got(id) == bpeRef(text, PipelineOps.defaultBpeMerges),
        s"doc $id")
    }

    // merge order is load-bearing: with (a,b) ranked before (ab,c) the
    // doc "abc" fully merges to ONE token; rank-inverted, (ab,c) runs
    // before any "ab" symbol exists and the count is TWO
    val tiny = Seq((0L, "abc")).toDF("doc_id", "text")
    def count(ms: Seq[(String, String)]): Long =
      PipelineOps.tokenBpe2(tiny, ms).collect()(0).getLong(1)
    assert(count(Seq(("a", "b"), ("ab", "c"))) == 1L)
    assert(count(Seq(("ab", "c"), ("a", "b"))) == 2L)

    // and the iterative count is NOT the ceil approximation: some real
    // doc must differ from tokenBpe's bound (e.g. "the" is one merge
    // chain = 1 token, the ceil bound also says 1 — but "customer" is
    // c|u|st?... the merge list only compresses what it knows)
    val ceil = PipelineOps.tokenBpe(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(real.exists { case (id, _) => got(id) != ceil(id) },
      "iterative BPE must diverge from the ceil bound somewhere")
  }

  test("decontaminate: a planted eval copy is flagged at frac 1.0, a " +
    "disjoint-vocabulary doc never; counts match a brute gram scan") {
    import spark.implicits._
    val evalSet = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim eval copy — the classic contamination case
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // partial overlap: shares the grams of a 4-token eval span
      (2L, "xx yy one two three four zz ww"),
      // single-gram overlap: below minOverlap = 2, must NOT be flagged
      (3L, "qq rr alpha beta gamma ss tt"),
      // disjoint vocabulary: never flagged
      (4L, "cat dog bird fish lion tiger bear wolf"),
      // too short for a 3-gram at all
      (5L, "hi yo"))
      .toDF("doc_id", "text")
    val got = PipelineOps.decontaminate(corpus, evalSet, n = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)

    // brute reference over string 3-grams (no 31-bit collisions at this
    // vocabulary size, so hashed and string gram spaces agree)
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val evGrams = evalSet.collect().flatMap(r => grams(r.getString(1))).toSet
    val want = corpus.collect().map { r =>
      val g = grams(r.getString(1))
      (r.getLong(0), g.size.toLong, g.count(evGrams.contains).toLong)
    }.filter(_._3 >= 2)
      .map(t => (t._1, t._2, t._3, t._3.toDouble / t._2)).sortBy(_._1)

    assert(got.toSeq == want.toSeq)
    assert(got.map(_._1).toSet == Set(1L, 2L), s"flagged ${got.mkString(",")}")
    assert(got.find(_._1 == 1L).get._4 == 1.0, "verbatim copy must be frac 1.0")
  }

  test("repetitionStats: in-row sorted-fold counts equal a brute local " +
    "gram recount on fixtures and the corpus") {
    val sp = spark
    import sp.implicits._
    val fix = Seq(
      (1L, "a b a b a b c"),            // top bigram "a b" x3
      (2L, "x x x x"),                  // "x x" x3, trigram "x x x" x2
      (3L, "p q r"),                    // no repetition: top_bi 1, dup 0
      (4L, "w w"),                      // below the 3-word gate: dropped
      (5L, "m n m n m n m n m n")       // heavy looping
    ).toDF("doc_id", "text")
    def brute(text: String): Option[(Long, Long, Long, Long, Double)] = {
      val w = text.split(" ")
      if (w.length < 3) None else {
        val bi = w.sliding(2).map(_.mkString(" ")).toSeq
        val tri = w.sliding(3).map(_.mkString(" ")).toSeq
        val top = bi.groupBy(identity).values.map(_.size).max.toLong
        Some((bi.size.toLong, top, tri.size.toLong,
          (tri.size - tri.distinct.size).toLong, top.toDouble / bi.size))
      }
    }
    for (df <- Seq(fix, docs.select("doc_id", "text"))) {
      val got = PipelineOps.repetitionStats(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))).toMap
      val want = df.collect()
        .flatMap(r => brute(r.getString(1)).map(r.getLong(0) -> _)).toMap
      assert(got == want)
    }
    val fixGot = PipelineOps.repetitionStats(fix).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixGot == Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 5L -> 5L))
  }

  test("asofJoin: window construction equals a brute per-row scan, incl. " +
    "equal-ts inclusive match and no-match nulls") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val rights = (0 until 60).map(i =>
      (100L + i, rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, i * 1.5))
    // lefts share the ts domain; ids disjoint from rights; include EXACT
    // right-ts collisions (inclusive semantics) and pre-history rows
    val lefts = (0 until 40).map { i =>
      val ts = if (i % 5 == 0) rights(i % rights.size)._3
               else rnd.nextInt(55).toLong - 2
      (1000L + i, rnd.nextInt(5).toLong, ts)
    }
    val rdf = rights.toDF("event_id", "user_id", "ts", "value")
    val ldf = lefts.toDF("event_id", "user_id", "ts")
    val got = PipelineOps.asofJoin(ldf, rdf, "user_id", "ts",
        "event_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    val want = lefts.map { case (lid, u, ts) =>
      val cand = rights.filter(r => r._2 == u && r._3 <= ts)
      val best = if (cand.isEmpty) None
        else Some(cand.maxBy(r => (r._3, r._1))) // latest ts, largest id tie
      lid -> ((best.map(_._1), best.map(_._4)))
    }.toMap
    assert(got == want)
    assert(want.values.exists(_._1.isEmpty), "fixture needs no-match rows")
    assert(lefts.exists { case (_, u, ts) =>
      rights.exists(r => r._2 == u && r._3 == ts) },
      "fixture needs an equal-ts inclusive match")
  }

  test("sessionize: window construction equals a brute per-user split; " +
    "a gap of EXACTLY gapSec stays in-session") {
    val sp = spark
    import sp.implicits._
    val gap = 1800L
    val rnd = new scala.util.Random(11)
    var t = 0L
    val rows = (0 until 200).map { i =>
      // mix sub-gap steps, exact-gap steps (same session), and gap+1
      t += (i % 7 match {
        case 0 => gap * 1000000L + 1L       // breaks the session
        case 1 => gap * 1000000L            // exactly gapSec: same session
        case _ => rnd.nextInt(1000000).toLong + 1L
      })
      (rnd.nextInt(4).toLong, i.toLong, t)
    }
    val df = rows.toDF("user_id", "event_id", "tus")
      .withColumn("ts", timestamp_micros(col("tus")))
      .select("user_id", "event_id", "ts")
    val got = PipelineOps.sessionize(df, gap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = rows.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      var idx = 0L
      var prev = Long.MinValue
      val sess = sorted.map { e =>
        if (prev == Long.MinValue || e._3 - prev > gap * 1000000L) idx += 1
        prev = e._3
        (idx, e._3)
      }
      sess.groupBy(_._1).map { case (si, ts) =>
        (u, si) -> ((ts.size.toLong, ts.map(_._2).min,
          ts.map(_._2).max - ts.map(_._2).min))
      }
    }.toMap
    assert(got == want)
    assert(want.keys.groupBy(_._1).values.exists(_.size > 1),
      "fixture needs multi-session users")
  }

  test("hashSample: membership equals a local hash recompute, is invariant " +
    "under repartitioning, and is monotone in the rate") {
    import org.apache.spark.unsafe.types.UTF8String
    val d = docs
    val rates = Map("en" -> 37, "de" -> 80)
    def slotOf(lang: String, id: Long): Long =
      graft.functions.StrHash31.hash(
        UTF8String.fromString(s"$lang:$id")) % 100
    val got = PipelineOps.hashSample(d, rates, 100).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = d.select("doc_id", "lang").collect().flatMap { r =>
      val (id, lang) = (r.getLong(0), r.getString(1))
      val s = slotOf(lang, id)
      if (s < rates.getOrElse(lang, 100)) Some((id, lang, s)) else None
    }.toSet
    assert(got == want)
    assert(want.size < d.count(), "fixture must actually downsample")
    val reparted = PipelineOps.hashSample(d.repartition(7), rates, 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(reparted == got)
    val raised = PipelineOps.hashSample(d, Map("en" -> 60, "de" -> 80), 100)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).subsetOf(raised ++ got.filter(_._2 != "en").map(_._1)))
    assert(got.filter(_._2 == "en").map(_._1).subsetOf(raised))
  }

  test("piiScrub: hand-built fixture — counts, redaction order, and the " +
    "hash of the exact redacted string; clean rows byte-identical") {
    import org.apache.spark.unsafe.types.UTF8String
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      (1L, "plain word soup no pii at all"),
      (2L, "reach me at bob.smith@mail99.com or 555-0199 today"),
      (3L, "two mails a@b.io and c_d@e.org plus 123-4567 and 999-0000"),
      (4L, "almost an email foo@bar dot com and short 12-3456")
    ).toDF("doc_id", "text")
    val expRed = Map(
      1L -> "plain word soup no pii at all",
      2L -> "reach me at <EMAIL> or <PHONE> today",
      3L -> "two mails <EMAIL> and <EMAIL> plus <PHONE> and <PHONE>",
      4L -> "almost an email foo@bar dot com and short 12-3456")
    val expCnt = Map(1L -> (0L, 0L), 2L -> (1L, 1L), 3L -> (2L, 2L),
      4L -> (0L, 0L))
    val got = PipelineOps.piiScrub(rows, "doc_id", "text").collect()
    assert(got.length == 4)
    got.foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(1), r.getLong(2)) == expCnt(id), s"counts doc $id")
      assert(r.getLong(3) == expRed(id).length.toLong, s"red length doc $id")
      assert(r.getLong(4) == graft.functions.StrHash31.hash(
        UTF8String.fromString(expRed(id))), s"red hash doc $id")
    }
  }

  test("piiScrub query: planted PII detected exactly on the planted rows") {
    val r = PipelineQueries.piiScrub(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val id = row.getLong(0)
      assert(row.getLong(1) == (if (id % 5 == 0) 1L else 0L),
        s"email count doc $id")
      assert(row.getLong(2) == (if (id % 7 == 0) 1L else 0L),
        s"phone count doc $id")
    }
  }

  test("jsonProps: typed extraction on a hand fixture; malformed rows " +
    "survive as a NULL-decade group instead of vanishing") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("click", """{"k": 12}"""),
      ("click", """{"k": 17}"""),
      ("view", """{"k": 103}"""),
      ("view", """not json"""),
      ("view", """{"j": 5}""")
    ).toDF("event_type", "props")
    val got = PipelineOps.jsonProps(rows).collect().map { r =>
      (r.getString(0),
        if (r.isNullAt(1)) Long.MinValue else r.getLong(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
    }.toMap
    assert(got(("click", 10L)) == ((2L, 29L)))
    assert(got(("view", 100L)) == ((1L, 103L)))
    assert(got(("view", Long.MinValue)) == ((2L, Long.MinValue)))
    assert(got.size == 3)
  }

  test("intervalJoin: bucketed rewrite equals the naive inequality join, " +
    "each matched pair exactly once, incl. intervals spanning many buckets") {
    val facts = spark.range(200).select(col("id").as("fid"),
      (col("id") * 37L % 1000L).as("tus"))
    val ivs = spark.range(40).select(col("id").as("wid"),
      (col("id") * 23L % 700L).as("start_us"),
      (col("id") * 23L % 700L + (col("id") % 11L + 1L) * 40L).as("end_us"))
    // bucket width 64, lengths up to 440: intervals span up to 8 buckets
    val joined = PipelineOps.intervalJoin(facts, "tus", ivs, 64L)
    val got = joined.select("fid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = facts.crossJoin(ivs)
      .where(col("tus") >= col("start_us") && col("tus") < col("end_us"))
      .select("fid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
    assert(got.length == want.size, "a pair matched in more than one bucket")
    assert(want.nonEmpty)
  }

  test("exactQuantiles: histogram ranks equal a local full sort, incl. " +
    "duplicate-heavy values and the integer-ceil rank rule") {
    val sp = spark
    import sp.implicits._
    // duplicate-heavy fixture: rank arithmetic must not be fooled by ties
    val fix = Seq.tabulate(100)(i => ("a", (i % 7).toDouble)) ++
      Seq.tabulate(10)(i => ("b", i.toDouble))
    val df = fix.toDF("k", "v")
    val got = PipelineOps.exactQuantiles(df, "k", "v",
      Seq((1, 2), (9, 10), (99, 100))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    def brute(vs: Seq[Double], nu: Int, de: Int): Double = {
      val s = vs.sorted
      s(((vs.size.toLong * nu + de - 1) / de - 1).toInt)
    }
    for ((k, vs) <- fix.groupBy(_._1).view.mapValues(_.map(_._2))) {
      val (n, p50, p90, p99) = got(k)
      assert(n == vs.size.toLong)
      assert(p50 == brute(vs, 1, 2), s"p50 key $k")
      assert(p90 == brute(vs, 9, 10), s"p90 key $k")
      assert(p99 == brute(vs, 99, 100), s"p99 key $k")
    }
    // and on the real events table
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val gotEv = PipelineOps.exactQuantiles(ev, "event_type", "value",
      Seq((1, 2), (9, 10), (99, 100))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val local = ev.select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2))
    for ((k, vs) <- local) {
      val (n, p50, p90, p99) = gotEv(k)
      assert(n == vs.size.toLong && p50 == brute(vs, 1, 2) &&
        p90 == brute(vs, 9, 10) && p99 == brute(vs, 99, 100), s"events $k")
    }
  }

  test("rarityScore: two-pass corpus-frequency equals a brute local count") {
    val sp = spark
    import sp.implicits._
    val data = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "zyx qwv"),
      (4L, "the the the"))
    val df = data.toDF("doc_id", "text")
    val cf = data.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val got = PipelineOps.rarityScore(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val want = data.map { case (id, text) =>
      val ws = text.split(" ").toSeq
      val sum = ws.map(cf).sum
      id -> ((ws.size.toLong, sum, ws.map(cf).min,
        sum.toDouble / ws.size))
    }.toMap
    assert(got == want)
    assert(cf("the") == 6L)
  }

  test("langBalance: smallest language survives whole, no language " +
    "exceeds its own count, and the selection is partition-invariant") {
    val d = docs
    val nL = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = nL.values.min
    val kept = PipelineOps.langBalance(d).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keptL = kept.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val smallest = nL.minBy(_._2)._1
    assert(keptL(smallest) == nMin, "rate for the smallest language is 1.0")
    nL.foreach { case (l, n) =>
      assert(keptL.getOrElse(l, 0L) <= n)
      // rate n_min/n_l targets n_min docs; allow binomial noise
      assert(math.abs(keptL.getOrElse(l, 0L) - nMin) <=
        4 * math.sqrt(nMin.toDouble) + 1,
        s"lang $l kept ${keptL.getOrElse(l, 0L)}, expected ≈ $nMin")
    }
    val kept2 = PipelineOps.langBalance(d.repartition(7, col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept2.toSet, "hash selection is deterministic")
  }

  test("chunkDedup: first occurrence wins corpus-wide, exact-duplicate " +
    "docs vanish, and the window rule is partition-invariant") {
    import spark.implicits._
    def words(tag: String) = (1 to 16).map(i => s"$tag$i").mkString(" ")
    val a = words("a"); val b = words("b"); val c = words("c")
    val fixture = Seq(
      (1L, s"$a $b"),  // chunks A, B — both first occurrences
      (2L, s"$a $c"),  // chunk A duplicates doc 1's; C survives
      (3L, s"$a $b"),  // exact copy of doc 1 — every chunk subsumed
      (4L, c)          // whole doc duplicates doc 2's surviving chunk
    ).toDF("doc_id", "text")
    val got = PipelineOps.chunkDedup(fixture, 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 2L)), "doc 1 keeps both chunks")
    assert(got(2L) == ((2L, 1L)), "doc 2 keeps only chunk C")
    assert(!got.contains(3L), "exact duplicate doc drops out entirely")
    assert(!got.contains(4L), "chunk-subsumed doc drops out entirely")
    val onReal = PipelineOps.chunkDedup(docs, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val onRepart = PipelineOps.chunkDedup(docs.repartition(7), 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(onReal.toSet == onRepart.toSet)
    assert(onReal.forall { case (_, nc, nk, _) => nk <= nc })
  }

  test("chunkDedup: hot boilerplate chunk partial-aggregates map-side — " +
    "no Window in the plan, keeper rule exact under 30% duplication") {
    import spark.implicits._
    def words(tag: String) = (1 to 16).map(i => s"$tag$i").mkString(" ")
    val boiler = words("cookiebanner") // the hot chunk: 30% of docs carry it
    val fixture = (1L to 1000L).map { id =>
      val own = (1 to 16).map(i => s"u${id}w$i").mkString(" ")
      (id, if (id % 10 < 3) s"$boiler $own" else own)
    }.toDF("doc_id", "text").repartition(8)
    val out = PipelineOps.chunkDedup(fixture, 16)
    val got = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // brute keeper rule: hot chunk kept once, by its first carrier (the
    // lowest id with id % 10 < 3, at pos 0); every unique chunk kept
    val firstHot = (1L to 1000L).find(_ % 10 < 3).get
    (1L to 1000L).foreach { id =>
      val hasBoiler = id % 10 < 3
      val (nc, nk, _) = got(id)
      assert(nc == (if (hasBoiler) 2L else 1L))
      val expectKept = if (!hasBoiler) 1L else if (id == firstHot) 2L else 1L
      assert(nk == expectKept, s"doc $id kept $nk, expected $expectKept")
    }
    // plan shape: the keeper is a min-struct AGGREGATE (map-side partial
    // collapse of the hot chunk before the exchange), never a row_number
    // window whose exchange a hot chunk would serialize (AQE skew split
    // does not apply to window exchanges)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"chunkDedup plans a window:\n$plan")
    assert(plan.contains("partial_min") || plan.toLowerCase.contains("partial"),
      s"chunkDedup keeper aggregate does not partial-aggregate:\n$plan")
  }

  test("MisraGries sketch: superset guarantee under forced decrements and " +
    "merges; estimates never exceed true counts and honor the error bound") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnShim
    // skewed stream: one hot token, a warm band, a long cold tail — with
    // k=16 the cold tail forces the O(k) decrement branch in update() and
    // the (k+1)-th-largest subtraction in merge() across 8 partitions
    val rows = Seq.fill(500)("hot") ++
      (1 to 5).flatMap(i => Seq.fill(120)(s"warm$i")) ++
      (1 to 2000).map(i => s"cold$i")
    val df = rows.toDF("w").repartition(8)
    val k = 16
    val mg = ColumnShim.column(
      graft.functions.MisraGries(ColumnShim.expression(col("w")), k)
        .toAggregateExpression())
    val sk = df.agg(mg.as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.w"), col("e.est")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.size <= k, s"summary holds at most k=$k counters")
    val truth = rows.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = rows.size.toLong
    val bound = n.toDouble / (k + 1)
    truth.filter(_._2 > bound).keys.foreach { w =>
      assert(sk.contains(w), s"token $w (count ${truth(w)} > $bound) " +
        "must survive the merged sketch")
    }
    sk.foreach { case (w, est) =>
      assert(est <= truth(w), s"estimate for $w exceeds true count")
      assert(truth(w) - est <= bound + 1, s"estimate for $w out of bound")
    }
  }

  test("heavyHitters: sketch-then-verify output equals direct exact " +
    "counts and is partition-invariant") {
    val exact = {
      val grams = docs
        .withColumn("ws", split(col("text"), " "))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"))
          .as("w"))
      val n = grams.count()
      val t = math.max(1L, n / 1500L)
      grams.groupBy("w").count().where(col("count") >= t)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val got = PipelineOps.heavyHitters(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
    val got2 = PipelineOps.heavyHitters(docs.repartition(3)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == exact, "verified output is independent of partitioning")
    assert(got.nonEmpty)
  }

  test("BloomAgg/BloomMightContain: zero false negatives across merged " +
    "partitions, false-positive rate within theory, semi-join exact") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnShim
    import graft.functions.{BloomAgg, BloomMightContain, BloomFilter64}
    val bits = 1 << 17; val hashes = 5
    val keys = (0L until 10000L).map(_ * 7919L + 13L)
    val bloomCol = ColumnShim.column(
      BloomAgg(ColumnShim.expression(col("k")), bits, hashes)
        .toAggregateExpression())
    val bitmap = keys.toDF("k").repartition(8)
      .agg(bloomCol.as("bf")).head().getAs[Array[Byte]](0)
    val words = BloomFilter64.fromBytes(bitmap)
    keys.foreach { k =>
      assert(BloomFilter64.contains(words, k, hashes),
        s"false negative for inserted key $k")
    }
    val probes = (0L until 100000L).map(_ * 104729L + 5L)
      .filterNot(keys.toSet)
    val fp = probes.count(BloomFilter64.contains(words, _, hashes))
    // m/n ≈ 13.1 bits/key, k=5 → theoretical fpp ≈ 0.3%; assert well
    // under 2% so the bound has margin but a broken hash still fails
    assert(fp.toDouble / probes.size < 0.02,
      s"false-positive rate ${fp.toDouble / probes.size} out of bound")
    // end-to-end: bloom-pre-filtered semi-join == plain semi-join
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = PipelineOps.bloomFlaggedUserStats(ev, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val flagged = ev.where(col("event_type") === "error")
      .groupBy("user_id").count().where(col("count") >= 2)
      .select("user_id")
    val want = ev.join(flagged, Seq("user_id"), "left_semi")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("event_id"), max("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == want.toSet)
    assert(got.length == want.length)
    assert(got.nonEmpty)
  }
}
