package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Checkpoint + lineage for long multi-stage jobs (north_rule: every stage
  * writes per-partition lineage + row-count metrics so a killed job resumes
  * at partition granularity).
  *
  * Iceberg is unavailable offline (SURVEY.md §4.5), so its role is emulated
  * with primitives that are just as atomic on a real distributed FS:
  *   - a stage's output is split into `nGroups` cell-hash groups, each
  *     written to `<root>/<stage>/group=<g>/` via a tmp-dir + atomic-rename
  *     commit (never a partially-visible group);
  *   - completion markers `_done_<g>` form the manifest — a directory
  *     listing, immune to torn writes;
  *   - per-group lineage rows (stage, group, rows, envelope, wall_ms,
  *     attempt) append to `<root>/_lineage/` parquet. The rows and the
  *     envelope are observed inside the group's write (`Dataset.observe`),
  *     and the driver writes the one-row file itself, so a committed group
  *     costs exactly its write job.
  *
  * Resume = rerun the same stage call: groups with markers are skipped and
  * their parquet re-read; only missing groups recompute. Group granularity
  * is the resume granularity — at 100 TB one group ≈ one cell-hash bucket
  * of partitions, so a kill loses at most one group's work.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] resolved
  * from the root's scheme (`file:`, `hdfs:`, `s3a:`, …) — the store lives
  * wherever the cluster's data lives, never on driver-local POSIX paths.
  * `rename` is atomic on HDFS (and on the local FS via POSIX rename);
  * object stores without atomic rename still converge because the marker,
  * not the rename, is the commit point: a reader only trusts `group=<g>`
  * after `_done_<g>` exists, and markers are single small files.
  */
final class Checkpoint(spark: SparkSession, root: String) {

  private val fs: FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stageDir(stage: String): HPath = new HPath(root, stage)
  private def marker(stage: String, g: Int): HPath =
    new HPath(stageDir(stage), s"_done_$g")

  def completedGroups(stage: String): Set[Int] = {
    val d = stageDir(stage)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("_done_"))
      .map(_.stripPrefix("_done_").toInt)
      .toSet
  }

  /** Run (or resume) a stage: `compute(g)` must return group `g`'s slice —
    * rows whose `pmod(hash-ish group key) == g`; the caller guarantees the
    * slices partition the stage output. Returns the full stage output
    * reading every group's committed parquet. `beforeCommit(g)` runs once
    * group `g`'s data is in place and before its marker, so whatever it
    * writes beside the group commits with it.
    *
    * Reads back take the schema of the DataFrame just written, which saves
    * the footer-reading job of parquet schema inference; only a call that
    * ran no group infers it (asking `compute` for a schema could run jobs).
    *
    * The per-group row count and envelope (min/max of `xCol`/`yCol`, when
    * present) are observed in the write and go into the lineage row,
    * mirroring the reference's parent-envelope bookkeeping
    * (rstar/src/node.rs:98-102) at the stage tier.
    */
  def runStage(
      stage: String, nGroups: Int,
      compute: Int => DataFrame,
      xCol: String = "", yCol: String = "",
      beforeCommit: Int => Unit = _ => ()): DataFrame = {
    fs.mkdirs(stageDir(stage))
    val done = completedGroups(stage)
    var written: Option[StructType] = None
    (0 until nGroups).foreach { g =>
      if (!done.contains(g)) {
        val t0 = System.nanoTime()
        val df = compute(g)
        val withEnv = xCol.nonEmpty && df.columns.contains(xCol)
        val obs = Observation()
        val observed =
          if (withEnv) df.observe(obs, count(lit(1)).as("rows"),
            min(xCol).as("min_x"), min(yCol).as("min_y"),
            max(xCol).as("max_x"), max(yCol).as("max_y"))
          else df.observe(obs, count(lit(1)).as("rows"))
        val tmp = new HPath(stageDir(stage), s".tmp_group_$g")
        val fin = new HPath(stageDir(stage), s"group=$g")
        fs.delete(tmp, true)
        observed.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        fs.delete(fin, true)
        require(fs.rename(tmp, fin), s"rename $tmp -> $fin failed")
        val wallMs = (System.nanoTime() - t0) / 1000000L
        written = Some(df.schema)
        val m = obs.get // filled by the write above, so this never waits
        // a stage without xCol records a NaN envelope; an empty group's
        // min/max are null
        writeLineage(stage, g, m("rows").asInstanceOf[Long], wallMs, k =>
          if (!withEnv) Some(Double.NaN)
          else Option(m(k)).map(_.asInstanceOf[Number].doubleValue))
        beforeCommit(g)
        fs.create(marker(stage, g), false).close() // commit point
      }
    }
    written.fold(spark.read)(spark.read.schema).parquet(
      (0 until nGroups).map(g =>
        new HPath(stageDir(stage), s"group=$g").toString): _*)
  }

  /** Appends one lineage row to `<root>/_lineage/`: a one-row parquet file
    * in [[Checkpoint.LineageSchema]], written by the driver to a hidden
    * temp name (readers skip dot-files) and renamed into place, so no
    * Spark job runs and no reader sees a partial file.
    */
  private def writeLineage(stage: String, g: Int, rows: Long, wallMs: Long,
      envelope: String => Option[Double]): Unit = {
    val dir = new HPath(root, "_lineage")
    fs.mkdirs(dir)
    val name = java.util.UUID.randomUUID().toString
    val tmp = new HPath(dir, s".tmp-$name.parquet")
    val fin = new HPath(dir, s"part-$name.parquet")
    // one clock read: committed_at (human-facing ISO) and committed_ms
    // (ordering key) must denote the same instant
    val now = java.time.Instant.now()
    val row = new SimpleGroupFactory(Checkpoint.LineageSchema).newGroup()
      .append("stage", stage).append("grp", g).append("rows", rows)
    Seq("min_x", "min_y", "max_x", "max_y")
      .foreach(k => envelope(k).foreach(row.append(k, _))) // None: null
    row.append("wall_ms", wallMs)
      .append("committed_at", now.toString)
      // fixed-width ordering key: Instant.toString emits 0/3/6/9
      // fractional digits, and at a shared prefix the SHORTER string
      // sorts lexicographically after the longer one ("...00Z" >
      // "...00.500Z"), so the ISO column is for humans only — ordering
      // uses epoch millis, which compare correctly across JVM restarts.
      .append("committed_ms", now.toEpochMilli)
      // attempt id: a crash between lineage append and marker creation
      // makes resume recompute the group and append a second row;
      // lineage() keeps only the latest attempt per (stage, grp) so
      // metrics never double-count.
      .append("attempt", System.nanoTime())
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(Checkpoint.LineageSchema).build()
    try w.write(row) finally w.close()
    require(fs.rename(tmp, fin), s"rename $tmp -> $fin failed")
  }

  /** One row per (stage, grp): the latest attempt only (earlier attempts of
    * a group whose commit marker never landed are superseded, not summed).
    * Ordered by wall-clock `committed_ms` first (a fixed-width LONG —
    * epoch millis compare chronologically across JVM restarts, unlike the
    * variable-precision ISO string or per-JVM nanoTime origins), with the
    * in-JVM `attempt` as the tiebreak for same-millisecond retries.
    */
  def lineage(): DataFrame = {
    val raw0 = spark.read.parquet(new HPath(root, "_lineage").toString)
    // Migration: checkpoints written before committed_ms existed must stay
    // resumable (roots are caller-named, not versioned). If the inferred
    // schema lacks the column, or mixed old/new files leave nulls, derive
    // the millis from the ISO committed_at — the same instant, just
    // variable-precision — so ordering is total over every attempt row.
    val fromIso = unix_millis(to_timestamp(col("committed_at")))
    val raw =
      if (raw0.columns.contains("committed_ms"))
        raw0.withColumn("committed_ms", coalesce(col("committed_ms"), fromIso))
      else raw0.withColumn("committed_ms", fromIso)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stage", "grp")
      .orderBy(col("committed_ms").desc, col("attempt").desc)
    raw.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }
}

object Checkpoint {

  /** The `_lineage` row's parquet schema: the columns and types Spark
    * wrote the lineage with, every column optional as Spark writes them,
    * so older Spark-written files and driver-written ones read as one table.
    */
  private val LineageSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary stage (STRING);
      |  optional int32 grp;
      |  optional int64 rows;
      |  optional double min_x;
      |  optional double min_y;
      |  optional double max_x;
      |  optional double max_y;
      |  optional int64 wall_ms;
      |  optional binary committed_at (STRING);
      |  optional int64 committed_ms;
      |  optional int64 attempt;
      |}""".stripMargin)

  /** The checkpointed flagship build (C2 at scale): pages → extracted
    * entities with cell ids, committed group-by-group so a killed build
    * resumes where it stopped. Group key: cell id mod nGroups (cells stay
    * whole within a group, so per-cell trees never straddle groups).
    */
  def buildEntityIndex(
      spark: SparkSession, pages: DataFrame, grid: graft.index.CellGrid,
      root: String, nGroups: Int = 8): DataFrame = {
    import graft.functions.SpatialFunctions.stCell
    val cp = new Checkpoint(spark, root)
    val entities = pages
      .withColumn("e", explode(graft.data.PagesGen.entities(col("text"))))
      .select(col("url"),
        col("e.lon").as("x"), col("e.lat").as("y"))
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
    cp.runStage("entities", nGroups,
      g => entities.where(pmod(col("cell"), lit(nGroups)) === g),
      xCol = "x", yCol = "y")
  }
}
