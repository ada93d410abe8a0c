package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.PagesGen
import graft.functions.SpatialFunctions._

/** Proof that the engine's predicates reach the storage layer: range
  * selections over a materialized entity table must appear as
  * `PushedFilters` on the Parquet scan (the distributed analog of the
  * reference's envelope-based subtree pruning — row-group min/max skipping
  * is free once geometry is columns, SURVEY.md §4).
  */
class PushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pushdown-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("range predicate and column pruning reach the parquet scan") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_push").toString
    spark.range(10000).map { id =>
      (id, PagesGen.uniform(id, 1) * 360 - 180, PagesGen.uniform(id, 2) * 170 - 85)
    }.toDF("id", "x", "y").write.mode("overwrite").parquet(dir)

    val q = spark.read.parquet(dir)
      .where(col("x") >= -10.0 && col("x") <= 10.0 &&
        col("y") >= 0.0 && col("y") <= 20.0)
      .select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(x,-10.0)"),
      s"filters not pushed:\n$plan")
    // column pruning: html-sized payloads must not be read for an id-only
    // projection — ReadSchema carries only the referenced columns
    assert(plan.contains("ReadSchema") && !plan.contains("struct<id:bigint,x:double,y:double>")
      || plan.split("ReadSchema:")(1).takeWhile(_ != '\n').contains("x:double"))
    val n = q.count()
    assert(n > 0 && n < 10000)

    // the point-in-box predicate built from st_* compiles to the same
    // pushable conjunction
    val q2 = spark.read.parquet(dir).where(stContainsPoint(
      lit(-10.0), lit(0.0), lit(10.0), lit(20.0), col("x"), col("y")))
    val plan2 = q2.queryExecution.executedPlan.toString
    assert(plan2.contains("PushedFilters") && plan2.contains("LessThanOrEqual(x,10.0)"))
    assert(q2.count() == n)
  }

  test("persisted index probe pushes the covered-cells IN predicate to the " +
    "tree table's parquet scan (partition pruning over stored trees)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow}
    import graft.index.CellGrid
    val grid = CellGrid.lonLat(4)
    val root = java.nio.file.Files.createTempDirectory("graft_push_idx").toString
    val pts = spark.range(4000).map { id =>
      PointRow(id, PagesGen.uniform(id, 1) * 360 - 180,
        PagesGen.uniform(id, 2) * 170 - 85)
    }
    IndexStore.build(spark, pts, grid, root, nGroups = 4)
    val probe = IndexStore.rangeQuery(spark, root, grid, -10.0, 0.0, 10.0, 20.0)
    val plan = probe.queryExecution.executedPlan.toString
    // the IN(cell, ...) filter must reach the scan so only covered cells'
    // tree blobs are ever read — the persisted analog of subtree pruning
    assert(plan.contains("PushedFilters") && plan.contains("In(cell"),
      s"cell pruning not pushed:\n$plan")
    assert(probe.count() > 0)
  }

  test("exact IVF top-k plan: cluster stats are broadcast, no cartesian " +
    "product over the data side") {
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.pipeline.PipelineOps.annIvfTopK(emb, 10, 10, nClusters = 32)
      .queryExecution.executedPlan.toString
    // queries x clusters and vectors x seeds are bounded broadcast
    // cross-products (the histogram analog); the DATA side must only ever
    // meet candidates through hash joins on cluster/qid
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      s"unbroadcast cartesian over data:\n${plan.take(2000)}")
  }

  test("third-wave plan shapes: langBalance joins the rate table by " +
    "broadcast, heavyHitters partial-aggregates the sketch and broadcasts " +
    "candidates, bloom probe filters with no exchange below it") {
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    // langBalance: the corpus must meet the per-language rate table
    // through a broadcast hash join — a sort-merge join here would
    // shuffle the whole corpus to meet 5 rows
    val lbPlan = graft.pipeline.PipelineOps.langBalance(docs)
      .queryExecution.executedPlan.toString
    assert(lbPlan.contains("BroadcastHashJoin"), lbPlan.take(2000))
    assert(!lbPlan.contains("SortMergeJoin"), lbPlan.take(2000))

    // heavyHitters: the MisraGries sketch must run as a two-stage
    // object aggregate (partial per partition BEFORE the exchange — the
    // bounded-summary property), and the verify pass must meet the
    // candidate set through a broadcast join
    val hhPlan = graft.pipeline.PipelineOps.heavyHitters(docs)
      .queryExecution.executedPlan.toString
    assert(hhPlan.contains("ObjectHashAggregate") ||
      hhPlan.contains("SortAggregate"), hhPlan.take(2000))
    assert(hhPlan.contains("BroadcastHashJoin"), hhPlan.take(2000))

    // bloom probe: the membership filter must sit directly on the scan
    // side with no exchange between them (map-side pre-filtering is the
    // operator's entire point)
    val bj = graft.pipeline.PipelineOps.bloomFlaggedUserStats(events, 2L)
    val bjPlan = bj.queryExecution.executedPlan.toString
    assert(bjPlan.contains("bloom_might_contain"), bjPlan.take(3000))
    val probeFilterIdx = bjPlan.indexOf("bloom_might_contain")
    val scanBelow = bjPlan.indexOf("FileScan", probeFilterIdx)
    val exchangeBetween = {
      val ex = bjPlan.indexOf("Exchange", probeFilterIdx)
      ex >= 0 && scanBelow >= 0 && ex < scanBelow
    }
    assert(scanBelow >= 0 && !exchangeBetween,
      s"bloom probe not map-side on the scan:\n${bjPlan.take(3000)}")
  }
}
