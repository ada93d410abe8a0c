package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.PipelineOps

/** Similarity-search operators: the exact IVF-pruned top-k must be
  * bit-identical to brute force on ANY data (its bound is a theorem, not a
  * heuristic); the multiprobe LSH top-k must reach high recall on
  * clustered embeddings — the regime LSH exists for (on the driver's
  * random-vector tables angular LSH degenerates by design: qualifying
  * pairs sit at cos ≈ 0.45 where hyperplanes collide on ~65% of bits);
  * the blocked embedding-dup join must equal the all-pairs loop.
  */
class AnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ann-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  /** Deterministic clustered unit vectors: nClusters tight caps (~0.99
    * intra-cluster cosine) — the shape of a real near-dup embedding corpus.
    */
  private def clustered(nClusters: Int, perCluster: Int, dims: Int = 64) = {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(
      unit(Array.fill(dims)(rnd.nextGaussian())))
    val rows = for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield {
      val v = unit(centers(c).map(x => x + 0.05 * rnd.nextGaussian()))
      ((c + m * nClusters).toLong, v.map(_.toFloat))
    }
    // interleaved ids so queries (vec_id < nQueries) span all clusters
    rows.toDF("vec_id", "embedding")
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("annIvfTopK is bit-identical to brute force on the driver tables " +
    "(exact bound pruning, recall 1.0)") {
    val brute = asSet(PipelineOps.annTopKInt(emb, 10, 10)
      .withColumn("rn", col("rn").cast("long")))
    val ivf = asSet(PipelineOps.annIvfTopK(emb, 10, 10, nClusters = 32))
    assert(ivf == brute)
    assert(brute.size == 100)
  }

  test("annIvfTopK stays exact on clustered data (where pruning bites)") {
    val df = clustered(8, 50)
    val brute = asSet(PipelineOps.annTopKInt(df, 16, 5)
      .withColumn("rn", col("rn").cast("long")))
    val ivf = asSet(PipelineOps.annIvfTopK(df, 16, 5, nClusters = 16))
    assert(ivf == brute)
  }

  test("annIvfTopK with seed centers PRUNES on clustered data: " +
    "pass B touches a small fraction of query x corpus, exactness intact") {
    val df = clustered(8, 100) // 800 vectors, 8 tight caps
    val n = 800L
    val nQ = 16
    val (res, candB) = PipelineOps.annIvfPassB(df, nQ, 5, nClusters = 16)
    // exactness first (the bound must hold through double centers)
    val brute = asSet(PipelineOps.annTopKInt(df, nQ, 5)
      .withColumn("rn", col("rn").cast("long")))
    assert(asSet(res) == brute)
    // pruning: brute force scans nQ x n pairs; IVF must probe far fewer
    // (tight caps -> small radii -> most clusters fail the dk bound)
    val probed = candB.count()
    val frac = probed.toDouble / (nQ * n)
    info(f"IVF pass-B probed fraction on clustered data: $frac%.3f")
    assert(frac <= 0.5, f"IVF pruned nothing on clustered data: $frac%.3f")
    // and with ~√n clusters, a count that does not divide the caps
    assert(asSet(PipelineOps.annIvfTopK(df, nQ, 5, nClusters = 29)) == brute)
  }

  test("annLshTopK recall >= 0.9 vs exact top-k on clustered embeddings") {
    val df = clustered(10, 40)
    val k = 5
    val exact = PipelineOps.annTopKInt(df, 20, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = PipelineOps.annLshTopK(df, 20, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      (lsh.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"multiprobe LSH recall on clustered data: $recall")
  }

  test("annLshTopK never invents results: every returned dot is the true " +
    "integer dot, ranked correctly within the candidate set") {
    val lsh = PipelineOps.annLshTopK(emb, 10, 10).collect()
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(1000.0)).cast("long")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    lsh.foreach { r =>
      val (q, id, dot) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val want = vecs(q).zip(vecs(id)).map { case (a, b) => a * b }.sum
      assert(dot == want)
    }
    // per query: ranks are 1..n without gaps and dots descend
    lsh.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getLong(2) >= b.getLong(2)
        case _ => true
      })
    }
  }

  test("embedDupPairs (blocked distributed join) == all-pairs loop") {
    val got = PipelineOps.embedDupPairs(emb, 450000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(1000.0)).cast("long")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toArray
      .sortBy(_._1)
    val want = (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      dot = vecs(i)._2.zip(vecs(j)._2).map { case (a, b) => a * b }.sum
      if dot >= 450000L
    } yield (vecs(i)._1, vecs(j)._1, dot)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture should contain qualifying pairs")
    // and with a block size that forces many cross-block pairs
    val got2 = PipelineOps.embedDupPairs(emb, 450000L, blockSize = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == want)
  }
}
