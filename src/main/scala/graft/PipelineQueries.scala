package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.engine.IndexStore
import graft.functions.OracleHash
import graft.index.CellGrid
import graft.pipeline.{MediaOps, PipelineOps}
import graft.streaming.{StreamMetrics, StreamOps}
import TpchGeo.load

/** Training-data-pipeline operators exposed through SparkEntry, over the
  * driver's `documents` / `embeddings` / `events` tables. EVERY entry now
  * carries a DuckDB oracle: the hash-dependent scale paths
  * (MinHash/SimHash/vector-LSH) run on OracleHash's 31-bit modular
  * arithmetic, whose SQL twins are generated here from the same constants,
  * so the driver hash-compares them bit-exactly (round 1 left them
  * rows-only on xxhash64).
  */
object PipelineQueries {

  /** The documents table with scan parallelism leveled. The sandbox table
    * is ONE small parquet file — one split — which would run every
    * downstream shingle explode / HOF projection single-threaded (measured
    * 6x on the shingle stage). At 100 TB the scan has thousands of splits
    * and the guard makes this a no-op; the repartition only fires on
    * under-split inputs, where the shuffled bytes are trivial by the same
    * token.
    */
  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
    val cores = spark.sparkContext.defaultParallelism
    if (d.queryExecution.toRdd.getNumPartitions < cores) d.repartition(cores)
    else d
  }

  // ------------------------------------------------- SQL twin generators

  /** CTE chain producing minhash-LSH verified near-dup `<p>pairs` (a, b,
    * jac) over `srcTable` — the SQL twin of PipelineOps.minhashLshPairs,
    * generated from the same OracleHash constants; the verify Jaccard is
    * computed over the DISTINCT 31-bit hashed shingle space (`shd`), the
    * same representation the engine's ShingleHash31s arrays carry. `p`
    * prefixes the CTE names so two instantiations can coexist in one
    * query.
    */
  def minhashPairsCtes(srcTable: String, numPerms: Int, bands: Int,
      threshold: Double, p: String): String = {
    val rows = numPerms / bands
    val sigCols = (0 until numPerms).map(i =>
      s"MIN(${OracleHash.affineSql("sh31", OracleHash.permA(i), OracleHash.permB(i))}) AS h$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val bh = OracleHash.combine62Sql((0 until rows).map(r => s"h${b * rows + r}"))
      s"SELECT doc_id, $b AS band, $bh AS band_hash FROM ${p}sig"
    }.mkString("\n    UNION ALL ")
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS l FROM $srcTable
       |           WHERE len(string_split(text, ' ')) >= 3),
       |${p}sh AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, len(l) - 1),
       |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle FROM ${p}t),
       |${p}shh AS (SELECT doc_id, shingle,
       |  ${OracleHash.polyHash31Sql("shingle")} AS sh31 FROM ${p}sh),
       |${p}sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM ${p}shh GROUP BY doc_id),
       |${p}bands AS (
       |    $bandSelects),
       |${p}cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM ${p}bands x JOIN ${p}bands y
       |  ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |${p}shd AS (SELECT DISTINCT doc_id, sh31 FROM ${p}shh),
       |${p}cnt AS (SELECT doc_id, COUNT(*) AS n FROM ${p}shd GROUP BY doc_id),
       |${p}inter AS (SELECT c.a, c.b, COUNT(*) AS cc FROM ${p}cand c
       |  JOIN ${p}shd sa ON sa.doc_id = c.a
       |  JOIN ${p}shd sb ON sb.doc_id = c.b AND sb.sh31 = sa.sh31
       |  GROUP BY c.a, c.b),
       |${p}pairs AS (SELECT i.a, i.b,
       |  CAST(i.cc AS DOUBLE) / (ca.n + cb.n - i.cc) AS jac
       |  FROM ${p}inter i JOIN ${p}cnt ca ON ca.doc_id = i.a
       |  JOIN ${p}cnt cb ON cb.doc_id = i.b
       |  WHERE CAST(i.cc AS DOUBLE) / (ca.n + cb.n - i.cc) >= $threshold)""".stripMargin
  }

  /** SQL for the table-`t`, `nBits`-bit LSH bucket of `vecCol` (float
    * array) — the twin of PipelineOps.bucketCol, hyperplane constants
    * rendered as exact double literals.
    */
  def bucketSql(vecCol: String, nBits: Int, table: Int, dims: Int = 64): String = {
    val bits = (0 until nBits).map { j =>
      val cs = OracleHash.hyperplane(table, j, dims)
        .map(OracleHash.dbl).mkString("[", ", ", "]::DOUBLE[]")
      val fold = s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform(list_zip($vecCol, $cs), " +
        s"p -> CAST(p[1] AS DOUBLE) * p[2])), (a, x) -> a + x)"
      s"CASE WHEN $fold >= 0 THEN ${1L << j} ELSE 0 END"
    }
    "CAST(" + bits.mkString("(", " + ", ")") + " AS BIGINT)"
  }

  // ------------------------------------------------------------- dedup

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.exactDupGroups(docs(spark, dir)).orderBy("h")

  val dedupExactSql: String =
    """SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS dup_cnt
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  def ngramDup(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.ngramJaccardPairs(docs(spark, dir), 3, 0.7)
      .orderBy("a", "b")

  /** Same function as the Spark plan BY CONSTRUCTION: candidates come only
    * from shingles with df in [2, 128] (the operator's declared df cap),
    * Jaccard is then exact over all shingles — so operator and oracle agree
    * on every input, not just low-df fixtures.
    */
  val ngramDupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, len(l) - 1),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle FROM t),
      |rare AS (SELECT shingle FROM sh GROUP BY shingle
      |         HAVING COUNT(*) BETWEEN 2 AND 128),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  JOIN rare r ON r.shingle = x.shingle),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT p.a, p.b, COUNT(*) AS c
      |  FROM cand p JOIN sh x ON x.doc_id = p.a
      |  JOIN sh y ON y.doc_id = p.b AND y.shingle = x.shingle
      |  GROUP BY p.a, p.b)
      |SELECT i.a, i.b, CAST(i.c AS DOUBLE) / (ca.n + cb.n - i.c) AS jac
      |FROM inter i JOIN cnt ca ON ca.doc_id = i.a JOIN cnt cb ON cb.doc_id = i.b
      |WHERE CAST(i.c AS DOUBLE) / (ca.n + cb.n - i.c) >= 0.7
      |ORDER BY a, b""".stripMargin

  def minhashDup(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.minhashLshPairs(docs(spark, dir), 3, 0.7)
      .orderBy("a", "b")

  val minhashDupSql: String =
    s"""WITH ${minhashPairsCtes("documents", 16, 4, 0.7, "m_")}
       |SELECT a, b, jac FROM m_pairs ORDER BY a, b""".stripMargin

  /** Near-dup clusters — connected components over the SAME verified
    * MinHash-LSH pair graph as q_minhash_dup (alternating large-star /
    * small-star, O(log n) rounds; PipelineOps.connectedComponents). The
    * DuckDB twin closes the pair graph with a recursive CTE and labels
    * each doc with its component's minimum id, so a green row certifies
    * the distributed CC fixpoint itself, not just the pair stage.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.dupClusters(docs(spark, dir), 3, 0.7)
      .select(col("doc_id"), col("cluster").cast("long"),
        col("csize").cast("long").as("csize"))
      .orderBy("doc_id")

  val dupClustersSql: String =
    s"""WITH RECURSIVE ${minhashPairsCtes("documents", 16, 4, 0.7, "m_")},
       |und AS (SELECT a AS u, b AS v FROM m_pairs
       |        UNION ALL SELECT b AS u, a AS v FROM m_pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.u AS id, reach.r FROM und e JOIN reach ON reach.id = e.v),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |sz AS (SELECT cluster, COUNT(*) AS csize FROM comp GROUP BY cluster)
       |SELECT CAST(c.id AS BIGINT) AS doc_id,
       |  CAST(c.cluster AS BIGINT) AS cluster,
       |  CAST(s.csize AS BIGINT) AS csize
       |FROM comp c JOIN sz s ON s.cluster = c.cluster
       |ORDER BY doc_id""".stripMargin

  /** North-star seam as a driver hard signal: geo-entities EXTRACTED FROM
    * TEXT (gazetteer mentions over the token stream), geocoded by exact
    * integer arithmetic, and assigned to grid tiles — the text→entity→tile
    * path the bench headline runs on pages (`PagesGen.entities` is the
    * regex-marker sibling), here over the documents table with a full
    * DuckDB twin.
    */
  def entityCells(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.entityCells(docs(spark, dir), Queries.grid)
      .select(col("cell"), col("entity"), col("x"), col("y"),
        col("mentions"), col("docs").cast("long").as("docs"))
      .orderBy("cell", "entity")

  val entityCellsSql: String = {
    val gaz = PipelineOps.defaultGazetteer
      .map(w => s"'$w'").mkString("(", ", ", ")")
    val ph = OracleHash.polyHash31Sql("entity")
    val hx = OracleHash.affineSql(ph, OracleHash.permA(70), OracleHash.permB(70))
    val hy = OracleHash.affineSql(ph, OracleHash.permA(71), OracleHash.permB(71))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |             FROM documents),
       |m AS (SELECT doc_id, w AS entity FROM tok WHERE w IN $gaz),
       |g AS (SELECT entity, COUNT(*) AS mentions,
       |  COUNT(DISTINCT doc_id) AS docs FROM m GROUP BY entity),
       |geo AS (SELECT entity, mentions, docs,
       |  ($hx % 3600000) / 10000.0 - 180.0 AS x,
       |  ($hy % 1700000) / 10000.0 - 85.0 AS y FROM g)
       |SELECT ${Queries.cellSql("x", "y")} AS cell, entity, x, y,
       |  mentions, docs
       |FROM geo ORDER BY cell, entity""".stripMargin
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.simhash(docs(spark, dir)).orderBy("doc_id")

  val simhashSql: String = {
    val (a1, b1) = PipelineOps.simhashPermHi
    val (a2, b2) = PipelineOps.simhashPermLo
    def votes(g: String, tag: String) = (0 until 31).map(b =>
      s"SUM(CASE WHEN (($g >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS $tag$b")
      .mkString(",\n    ")
    def pack(tag: String) = (0 until 31).map(b =>
      s"CASE WHEN $tag$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
       |h AS (SELECT doc_id, ${OracleHash.polyHash31Sql("tok")} AS ph FROM tok),
       |g AS (SELECT doc_id, ${OracleHash.affineSql("ph", a1, b1)} AS g1,
       |  ${OracleHash.affineSql("ph", a2, b2)} AS g2 FROM h),
       |v AS (SELECT doc_id,
       |    ${votes("g1", "a")},
       |    ${votes("g2", "c")}
       |  FROM g GROUP BY doc_id)
       |SELECT doc_id, CAST((${pack("a")}) * ${OracleHash.SHIFT31}
       |  + (${pack("c")}) AS BIGINT) AS simhash
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Composed corpus cleaner. Deterministic output ordering by doc_id;
    * full DuckDB twin now that the near-dup stage is OracleHash-based.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.cleanCorpus(docs(spark, dir),
      langs = Seq("en", "de", "fr", "es"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  val cleanCorpusSql: String =
    s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
       |              GROUP BY md5(text)),
       |d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
       |${minhashPairsCtes("d1", 32, 8, 0.9, "c_")},
       |losers AS (SELECT DISTINCT b AS doc_id FROM c_pairs),
       |d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
       |qual AS (SELECT doc_id,
       |    CAST(LENGTH(text) AS BIGINT) AS chars,
       |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS spaces
       |  FROM d2),
       |g AS (SELECT doc_id FROM qual
       |  WHERE chars >= 50 AND spaces + 1 >= 8
       |    AND CAST(chars - spaces AS DOUBLE) / (spaces + 1) <= 12.0)
       |SELECT d2.doc_id, d2.lang, d2.n_chars FROM d2 JOIN g USING (doc_id)
       |WHERE d2.lang IN ('en', 'de', 'fr', 'es')
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- fingerprinting

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.fingerprints(docs(spark, dir))
      .orderBy("doc_id", "fp")

  val fingerprintsSql: String = {
    val (k, w) = (16, 8)
    s"""WITH t AS (SELECT doc_id, text,
       |    unnest(range(1, LENGTH(text) - $k + 2)) AS p
       |  FROM documents WHERE LENGTH(text) >= $k),
       |g AS (SELECT doc_id, p,
       |  ${OracleHash.polyHash31Sql(s"substr(text, p::BIGINT, $k)")} AS h FROM t),
       |win AS (SELECT doc_id, p, MIN(h) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
       |  COUNT(*) OVER (PARTITION BY doc_id) AS n FROM g)
       |SELECT DISTINCT doc_id, fp FROM win WHERE p <= n - $w + 1
       |ORDER BY doc_id, fp""".stripMargin
  }

  // -------------------------------------------------- decontamination

  /** Benchmark decontamination over the documents table: docs with
    * doc_id ≡ 0 (mod 37) stand in for the held-out eval set; every other
    * doc is corpus. Flag corpus docs sharing ≥ 2 distinct hashed 3-grams
    * with any eval doc.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    PipelineOps.decontaminate(
      d.where(col("doc_id") % 37 =!= 0),
      d.where(col("doc_id") % 37 === 0),
      n = 3, minOverlap = 2)
      .orderBy("doc_id")
  }

  /** Twin of [[PipelineOps.decontaminate]]: the same distinct 31-bit
    * hashed shingle space (`shd`), eval grams = the union over eval docs,
    * overlap = corpus-gram ∩ eval-gram count per doc.
    */
  val decontaminateSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, len(l) - 1),
       |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle FROM t),
       |shd AS (SELECT DISTINCT doc_id,
       |  ${OracleHash.polyHash31Sql("shingle")} AS sh31 FROM sh),
       |ev AS (SELECT DISTINCT sh31 FROM shd WHERE doc_id % 37 = 0),
       |cg AS (SELECT doc_id, sh31 FROM shd WHERE doc_id % 37 <> 0),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id),
       |ov AS (SELECT c.doc_id, COUNT(*) AS n_overlap FROM cg c
       |  JOIN ev ON ev.sh31 = c.sh31 GROUP BY c.doc_id)
       |SELECT o.doc_id, cnt.n_grams, o.n_overlap,
       |  CAST(o.n_overlap AS DOUBLE) / cnt.n_grams AS frac
       |FROM ov o JOIN cnt ON cnt.doc_id = o.doc_id
       |WHERE o.n_overlap >= 2 ORDER BY o.doc_id""".stripMargin

  // --------------------------------------------------------- text stats

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.tokenStats(docs(spark, dir)).orderBy("doc_id")

  /** BPE-ish token counting (the brief's second counting mode): regex
    * pre-tokenization + bounded piece length, exact integer twin.
    */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.tokenBpe(docs(spark, dir)).orderBy("doc_id")

  val tokenBpeSql: String =
    """WITH p AS (SELECT doc_id,
      |  regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+') AS pieces
      |  FROM documents)
      |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
      |  CAST(COALESCE(list_sum(list_transform(pieces,
      |    w -> (length(w) + 3) // 4)), 0) AS BIGINT) AS n_bpe
      |FROM p ORDER BY doc_id""".stripMargin

  /** Real iterative BPE (the merge table actually applied, rank order
    * load-bearing) — twin generated from the SAME merge list as the
    * engine plan, as a nested replace() chain.
    */
  def tokenBpe2(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.tokenBpe2(docs(spark, dir)).orderBy("doc_id")

  val tokenBpe2Sql: String = {
    val seed = """'  ' || regexp_replace(replace(text, ' ', '_'), '(.)', '\1  ', 'g')"""
    val merged = PipelineOps.defaultBpeMerges.foldLeft(seed) {
      case (s, (x, y)) => s"replace($s, ' $x  $y ', ' $x$y ')"
    }
    s"""WITH m AS (SELECT doc_id, text, $merged AS s FROM documents)
       |SELECT doc_id,
       |  CAST((length(s) - length(replace(s, ' ', ''))) // 2 - 1
       |    - (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
       |    AS n_bpe2
       |FROM m ORDER BY doc_id""".stripMargin
  }

  val tokenStatsSql: String =
    """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
      | CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def repStats(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.repetitionStats(docs(spark, dir)).orderBy("doc_id")

  /** Twin of [[PipelineOps.repetitionStats]]: grouped counts over the
    * same gram multisets (the operator folds sorted in-row arrays — the
    * max-multiplicity and distinct counts agree on any plan; the
    * fraction is one correctly-rounded division both sides).
    */
  val repStatsSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |  i -> l[i] || ' ' || l[i+1])) AS g FROM t),
      |bic AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
      |bim AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bi,
      |  CAST(SUM(c) AS BIGINT) AS n_bi FROM bic GROUP BY doc_id),
      |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
      |  i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g FROM t),
      |trw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
      |  CAST(COUNT(*) - COUNT(DISTINCT g) AS BIGINT) AS dup_tri
      |  FROM tri GROUP BY doc_id)
      |SELECT b.doc_id, b.n_bi, b.top_bi, t2.n_tri, t2.dup_tri,
      |  CAST(b.top_bi AS DOUBLE) / b.n_bi AS top_bi_frac
      |FROM bim b JOIN trw t2 USING (doc_id) ORDER BY doc_id""".stripMargin

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.textQuality(docs(spark, dir)).orderBy("doc_id")

  val textQualitySql: String =
    """WITH s AS (SELECT doc_id,
      |  CAST(LENGTH(text) AS BIGINT) AS chars,
      |  CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS spaces,
      |  CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) / 3 AS BIGINT) AS the_cnt
      |  FROM documents)
      |SELECT doc_id, chars AS n_chars, spaces + 1 AS n_tokens,
      |  CAST(chars - spaces AS DOUBLE) / (spaces + 1) AS avg_tok_len,
      |  CAST(the_cnt AS DOUBLE) / (spaces + 1) AS stop_ratio
      |FROM s ORDER BY doc_id""".stripMargin

  def langId(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.langId(docs(spark, dir)).orderBy("doc_id")

  val langIdSql: String = {
    def score(lang: String): String = {
      val set = PipelineOps.langProfiles(lang).toSeq.sorted
        .map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))"
    }
    val langs = PipelineOps.langProfiles.keys.toSeq.sorted // de, en, es, fr
    val scores = langs.map(l => s"${score(l)} AS s_$l").mkString(",\n  ")
    val desc = langs.reverse // ties break to the greatest language
    val caseChain = desc.init.map(l => s"WHEN s_$l = m THEN '$l'")
      .mkString(" ") + s" ELSE '${desc.last}'"
    s"""WITH s AS (SELECT doc_id,
       |  $scores
       |  FROM documents),
       |g AS (SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  GREATEST(${langs.map(l => s"s_$l").mkString(", ")}) AS m FROM s)
       |SELECT doc_id, CASE $caseChain END AS pred_lang
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- ANN

  def annTopK(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.annTopKInt(load(spark, dir, "embeddings"), nQueries = 10, k = 10)
      .orderBy("qid", "rn")

  val annTopKSql: String =
    """WITH q AS (SELECT vec_id AS qid,
      |  list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qe
      |  FROM embeddings WHERE vec_id < 10),
      |d AS (SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS de
      |  FROM embeddings),
      |j AS (SELECT q.qid, d.id,
      |  CAST(list_sum(list_transform(list_zip(q.qe, d.de), p -> p[1] * p[2])) AS BIGINT) AS dot
      |  FROM q CROSS JOIN d),
      |r AS (SELECT qid, id, dot,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, id) AS rn FROM j)
      |SELECT qid, id, dot, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  /** Embedding-cosine near-duplicate pairs, integer-exact: pairs (a < b)
    * whose floor-scaled dot product clears the threshold (the int dot is a
    * monotone proxy for cosine on these unit-ish vectors; the float-cosine
    * variant is `annCosine`). Distributed block-pair exact join — nothing
    * is collected to the driver (see PipelineOps.embedDupPairs for why an
    * exact cos≈0.45 threshold join is inherently quadratic and why LSH
    * candidates cannot prune it on this corpus).
    */
  def embedDup(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.embedDupPairs(load(spark, dir, "embeddings"), 450000L)
      .orderBy("a", "b")

  val embedDupSql: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
      |  FROM embeddings)
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |  CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS BIGINT) AS dot
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS BIGINT) >= 450000
      |ORDER BY a, b""".stripMargin

  def annCosine(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.annCosine(load(spark, dir, "embeddings"), nQueries = 10, k = 10)
      .orderBy("qid", "rn")

  /** Float path oracle: +, *, /, sqrt are all IEEE-correctly-rounded, and
    * both engines fold the array in identical textual order (Spark
    * `aggregate` left-fold ≡ DuckDB `list_reduce` with a prepended init),
    * so even the double cosines hash-match bit-exactly.
    */
  val annCosineSql: String = {
    val sq = "list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      "embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)"
    val dot = "list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      "list_zip(q.embedding, d.embedding), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, x) -> a + x)"
    s"""WITH n AS (SELECT vec_id, embedding, sqrt($sq) AS nrm FROM embeddings),
       |j AS (SELECT q.vec_id AS qid, d.vec_id AS id,
       |  $dot / (q.nrm * d.nrm) AS cos
       |  FROM n q CROSS JOIN n d WHERE q.vec_id < 10),
       |r AS (SELECT qid, id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM j)
       |SELECT qid, id, cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 10
       |ORDER BY qid, rn""".stripMargin
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.annLshBuckets(load(spark, dir, "embeddings")).orderBy("vec_id")

  val annLshSql: String =
    s"""SELECT vec_id, ${bucketSql("embedding", 8, 0)} AS bucket
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** EXACT IVF-pruned top-k — bit-identical to the brute-force `annTopK`,
    * so it reuses that oracle (recall is 1.0 by construction).
    *
    * The 32 centers are the lowest-id seeds, unrefined: correctness is
    * center-independent (the two-pass proof holds for any centers), and
    * this query builds its index and serves 10 queries in one shot, so a
    * Lloyd refinement pass could never amortize here — it cost a full
    * extra assignment + an n×dims explode per iteration for the same
    * output rows (measured at sf0.1: 1.6 s with one pass, 1.0 s without,
    * rows identical).
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.annIvfTopK(load(spark, dir, "embeddings"), nQueries = 10,
      k = 10, nClusters = 32)
      .orderBy("qid", "rn")

  /** Multiprobe LSH bucketed top-k, end-to-end, with its own exact SQL
    * twin (the LSH result is deterministic, so the oracle replicates the
    * bucket → probe → top-k semantics, not the brute-force answer).
    */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.annLshTopK(load(spark, dir, "embeddings"), nQueries = 10,
      k = 10)
      .orderBy("qid", "rn")

  val annLshTopKSql: String = {
    val tables = 4
    val intv = "list_transform(embedding, x -> " +
      "CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    val bucketCols = (0 until tables).map(t =>
      s"${bucketSql("embedding", 8, t)} AS b$t").mkString(",\n  ")
    def caseT(qual: String): String =
      "CASE tt.t " + (0 until tables - 1).map(t =>
        s"WHEN $t THEN ${qual}b$t").mkString(" ") + s" ELSE ${qual}b${tables - 1} END"
    val tvals = (0 until tables).map(t => s"($t)").mkString(", ")
    val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 2)
      .map(m => s"$m::BIGINT").mkString(", ")
    s"""WITH b AS (SELECT vec_id, $intv AS v,
       |  $bucketCols
       |  FROM embeddings),
       |d AS (SELECT tt.t AS t, ${caseT("")} AS bucket, vec_id AS id, v
       |  FROM b, (VALUES $tvals) tt(t)),
       |p AS (SELECT q.vec_id AS qid, tt.t AS t,
       |    xor(${caseT("q.")}, mm.m) AS bucket
       |  FROM b q, (VALUES $tvals) tt(t),
       |    (SELECT unnest([$masks]) AS m) mm
       |  WHERE q.vec_id < 10),
       |c AS (SELECT DISTINCT p.qid, d.id FROM p
       |  JOIN d ON d.t = p.t AND d.bucket = p.bucket),
       |j AS (SELECT c.qid, c.id,
       |  CAST(list_sum(list_transform(list_zip(qq.v, dd.v),
       |    p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM c JOIN b qq ON qq.vec_id = c.qid JOIN b dd ON dd.vec_id = c.id),
       |r AS (SELECT qid, id, dot,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, id) AS rn FROM j)
       |SELECT qid, id, dot, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 10
       |ORDER BY qid, rn""".stripMargin
  }

  // ------------------------------------------------------------- events

  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min("value").as("min_v"), max("value").as("max_v"))
      .orderBy("hour", "event_type")

  val eventsWindowSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
      | MIN(value) AS min_v, MAX(value) AS max_v
      |FROM events GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY hour, event_type""".stripMargin

  /** As-of join over the events table: each click's latest preceding
    * purchase by the same user (inclusive at equal ts, largest rid on
    * exact ties — ts are synthesized distinct, so the tiebreak is
    * determinism armor, not load-bearing).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    PipelineOps.asofJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"),
      key = "user_id", ts = "ts", leftId = "event_id",
      rightId = "event_id", rightVal = "value")
      .withColumnRenamed("lid", "event_id")
      .orderBy("event_id")
  }

  /** Twin of [[PipelineOps.asofJoin]]: the same union + running
    * last-non-null construction (DuckDB's native ASOF JOIN can't pin the
    * equal-ts id tiebreak, so the twin mirrors the declared semantics
    * directly).
    */
  val asofJoinSql: String =
    """WITH r AS (SELECT user_id, ts, 0 AS side, NULL::BIGINT AS lid,
      |  event_id AS rid, value AS rval FROM events
      |  WHERE event_type = 'purchase'),
      |l AS (SELECT user_id, ts, 1 AS side, event_id AS lid,
      |  NULL::BIGINT AS rid, NULL::DOUBLE AS rval FROM events
      |  WHERE event_type = 'click'),
      |u AS (SELECT * FROM r UNION ALL SELECT * FROM l),
      |w AS (SELECT *,
      |  last_value(rid IGNORE NULLS) OVER win AS asof_id,
      |  last_value(rval IGNORE NULLS) OVER win AS asof_val
      |  FROM u WINDOW win AS (PARTITION BY user_id
      |    ORDER BY ts, side, coalesce(rid, lid)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT lid AS event_id, user_id, ts, asof_id, asof_val
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Gap-based sessions over the events table (30-minute gap — the
    * classic web-analytics default).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.sessionize(load(spark, dir, "events"), gapSec = 1800L)
      .orderBy("user_id", "sess_idx")

  /** Shared session CTEs (lag + running-sum on microsecond BIGINTs,
    * grouped to one row per session) — the batch twin reads `g` whole,
    * the streaming twin drops each user's last (still-open) session.
    */
  private val sessionCtes: String =
    """e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |m AS (SELECT *, CASE WHEN lag(tus) OVER win IS NULL
      |    OR tus - lag(tus) OVER win > 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM m),
      |g AS (SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_events, MIN(tus) AS start_us,
      |  MAX(tus) - MIN(tus) AS dur_us
      |FROM s GROUP BY user_id, sess_idx)""".stripMargin

  /** Twin of [[PipelineOps.sessionize]]: the same lag + running-sum
    * construction on microsecond BIGINTs (ties pinned by event_id; the
    * synthesized ts are distinct per user, so that's determinism armor).
    */
  val sessionizeSql: String =
    s"""WITH $sessionCtes
       |SELECT user_id, sess_idx, n_events, start_us, dur_us FROM g
       |ORDER BY user_id, sess_idx""".stripMargin

  /** Interval (range) join of the events table against synthetic
    * maintenance windows: 30-minute stride, 10–70-minute lengths — the
    * lengths exceed the stride on most windows, so intervals OVERLAP and
    * an event can land in several (what makes this a real range join, not
    * a bucketing). Aggregates are integer-exact (count / id-sum /
    * exact distinct), so the inequality-join twin hash-matches.
    */
  val IntervalT0: Long = 1704067200000000L // 2024-01-01T00:00:00Z, micros
  val IntervalStrideUs: Long = 1800000000L
  val IntervalLenUnitUs: Long = 600000000L
  val IntervalCount: Int = 2000

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ivs = spark.range(IntervalCount.toLong).select(
      col("id").as("wid"),
      (lit(IntervalT0) + col("id") * lit(IntervalStrideUs)).as("start_us"),
      (lit(IntervalT0) + col("id") * lit(IntervalStrideUs)
        + (pmod(col("id"), lit(7L)) + lit(1L)) * lit(IntervalLenUnitUs))
        .as("end_us"))
    val ev = load(spark, dir, "events").select(
      col("event_id"), col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("tus"))
    // bucket width = the max interval length (7 units), so an interval
    // replicates to at most 2 buckets
    PipelineOps.intervalJoin(ev, "tus", ivs, bucketUs = 7L * IntervalLenUnitUs)
      .groupBy("wid")
      .agg(count(lit(1)).as("n_events"), sum("event_id").as("sum_eid"),
        countDistinct("user_id").as("n_users"))
      .orderBy("wid")
  }

  /** Twin of [[PipelineOps.intervalJoin]]: the same windows generated by
    * `range()`, matched by the direct inequality join the bucketed rewrite
    * replaces.
    */
  val intervalJoinSql: String =
    s"""WITH w AS (SELECT range AS wid,
       |  $IntervalT0 + range * $IntervalStrideUs AS start_us,
       |  $IntervalT0 + range * $IntervalStrideUs
       |    + (range % 7 + 1) * $IntervalLenUnitUs AS end_us
       |  FROM range(0, $IntervalCount)),
       |e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events)
       |SELECT wid, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(event_id) AS BIGINT) AS sum_eid,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM e JOIN w ON tus >= start_us AND tus < end_us
       |GROUP BY wid ORDER BY wid""".stripMargin

  /** JSON metadata extraction over the events table (`props` is a JSON
    * sidecar string, the shape crawl records carry).
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.jsonProps(load(spark, dir, "events"))
      .orderBy("event_type", "k_decade")

  /** Twin of [[PipelineOps.jsonProps]]: DuckDB's JSON extension reading
    * the same path; integer stats, so the parse engines can't disagree.
    * The engine's PERMISSIVE parse yields NULL on malformed rows — the
    * twin mirrors that (json_valid guard + TRY_CAST instead of erroring)
    * and pins the NULL group's sort position to Spark's NULLS FIRST.
    */
  val jsonPropsSql: String =
    """WITH e AS (SELECT event_type,
      |  CASE WHEN json_valid(props)
      |       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |  END AS k FROM events)
      |SELECT event_type, k - k % 10 AS k_decade,
      |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM e GROUP BY event_type, k - k % 10
      |ORDER BY event_type, k_decade NULLS FIRST""".stripMargin

  /** PII scrub over the documents table. The corpus is digit-free word
    * soup, so deterministic pseudo-PII is planted first — an email derived
    * from doc_id on every 5th doc, a phone-shaped digit run on every 7th —
    * which makes the detection load-bearing both ways: planted rows must
    * count and redact, clean rows must come back byte-identical (their
    * red_hash is the hash of the raw text).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = docs(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    PipelineOps.piiScrub(aug, "doc_id", "text").orderBy("doc_id")
  }

  /** Twin of [[PipelineOps.piiScrub]]: same planting, same regexes (RE2
    * and Java agree on these character-class patterns), same redaction
    * order, and the redacted string pinned by the shared 31-bit hash.
    */
  val piiScrubSql: String = {
    val e = PipelineOps.EmailRe
    val p = PipelineOps.PhoneRe
    s"""WITH a AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
       |       || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       |  || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
       |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    AS t FROM documents),
       |r AS (SELECT doc_id, t, regexp_replace(
       |    regexp_replace(t, '$e', '<EMAIL>', 'g'),
       |    '$p', '<PHONE>', 'g') AS red FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_phones,
       |  CAST(length(red) AS BIGINT) AS n_chars_red,
       |  ${OracleHash.polyHash31Sql("red")} AS red_hash
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Exact per-type value quantiles over the events table (discrete
    * 2-decimal value domain — the histogram path's home turf).
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.exactQuantiles(load(spark, dir, "events"), "event_type",
      "value", Seq((1, 2), (9, 10), (99, 100)))
      .select(col("event_type"), col("n"), col("p1_2").as("p50"),
        col("p9_10").as("p90"), col("p99_100").as("p99"))
      .orderBy("event_type")

  /** Twin of [[PipelineOps.exactQuantiles]]: the same histogram +
    * cumulative-sum + integer-ceil rank construction (percentile_disc
    * semantics — the chosen values are actual data, never interpolated,
    * so the doubles pass through untouched).
    */
  val quantilesSql: String =
    """WITH h AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  SUM(c) OVER (PARTITION BY event_type) AS tot FROM h)
      |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
      |  MIN(CASE WHEN cum >= (tot * 1 + 1) // 2 THEN value END) AS p50,
      |  MIN(CASE WHEN cum >= (tot * 9 + 9) // 10 THEN value END) AS p90,
      |  MIN(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN value END) AS p99
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Corpus-frequency rarity score over the documents table. */
  def rarityScore(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.rarityScore(docs(spark, dir)).orderBy("doc_id")

  /** Twin of [[PipelineOps.rarityScore]]: the same two-pass count/join
    * on exact integers; the average is one correctly-rounded division.
    */
  val rarityScoreSql: String =
    """WITH dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |c AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM dw GROUP BY 1, 2),
      |f AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cf FROM c GROUP BY w)
      |SELECT c.doc_id, CAST(SUM(c.c) AS BIGINT) AS n_words,
      |  CAST(SUM(c.c * f.cf) AS BIGINT) AS sum_cf, MIN(f.cf) AS min_cf,
      |  CAST(CAST(SUM(c.c * f.cf) AS BIGINT) AS DOUBLE)
      |    / CAST(SUM(c.c) AS BIGINT) AS avg_cf
      |FROM c JOIN f USING (w) GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Stratified hash sample over the documents table: keep 37% of `en`,
    * 80% of `de`, everything else whole.
    */
  val sampleRates: Map[String, Int] = Map("en" -> 37, "de" -> 80)

  def hashSample(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.hashSample(docs(spark, dir), sampleRates, defaultRate = 100)
      .orderBy("doc_id")

  /** Twin of [[PipelineOps.hashSample]]: the same 31-bit hash of the same
    * key string, the same slot rule (OracleHash constants shared).
    */
  val hashSampleSql: String = {
    val slot = graft.functions.OracleHash
      .polyHash31Sql("lang || ':' || CAST(doc_id AS VARCHAR)") + " % 100"
    val rate = sampleRates.toSeq.sortBy(_._1)
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 100 END")
    s"""WITH s AS (SELECT doc_id, lang, $slot AS slot FROM documents)
       |SELECT doc_id, lang, slot FROM s
       |WHERE slot < ($rate) ORDER BY doc_id""".stripMargin
  }

  /** Language-balanced resample: every language down-sampled to ≈ the
    * smallest language's document count, membership hash-deterministic.
    */
  def langBalance(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.langBalance(docs(spark, dir)).orderBy("doc_id")

  /** Twin of [[PipelineOps.langBalance]]: the same counting CTE, the same
    * integer fixed-point threshold `(n_min * P31) // n_l`, the same 31-bit
    * hash of the same `bal:`-prefixed key.
    */
  val langBalanceSql: String = {
    import graft.functions.OracleHash
    val p = OracleHash.P31
    val slot = OracleHash.affineSql(
      OracleHash.polyHash31Sql("'bal:' || CAST(doc_id AS VARCHAR)"),
      OracleHash.permA(97), OracleHash.permB(97))
    s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
       |           FROM documents GROUP BY 1),
       |m AS (SELECT MIN(n_l) AS n_min FROM c),
       |s AS (SELECT doc_id, lang, $slot AS slot FROM documents)
       |SELECT s.doc_id, s.lang FROM s
       |JOIN c USING (lang) CROSS JOIN m
       |WHERE s.slot < (m.n_min * $p) // c.n_l
       |ORDER BY doc_id""".stripMargin
  }

  /** Chunk-granularity exact dedup (16-word chunks), first occurrence
    * wins corpus-wide.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.chunkDedup(docs(spark, dir), 16).orderBy("doc_id")

  /** Twin of [[PipelineOps.chunkDedup]]: the same 16-word slicing, the
    * same 31-bit chunk hash, the same first-occurrence window rule.
    * DuckDB list slices are 1-based inclusive (`ws[a:b]`), matching
    * Spark's 1-based `slice(ws, a, n)`.
    */
  val chunkDedupSql: String = {
    val ch = graft.functions.OracleHash
      .polyHash31Sql("array_to_string(ws[i*16+1 : i*16+16], ' ')")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |x AS (SELECT doc_id, (len(ws) + 15) // 16 AS nc,
       |  unnest(range(0, (len(ws) + 15) // 16)) AS i, ws FROM t),
       |ch AS (SELECT doc_id, nc, i AS pos, $ch AS ch FROM x),
       |f AS (SELECT *, ROW_NUMBER()
       |        OVER (PARTITION BY ch ORDER BY doc_id, pos) AS rn FROM ch)
       |SELECT doc_id, MAX(nc) AS n_chunks,
       |  CAST(COUNT(*) AS BIGINT) AS n_kept,
       |  CAST(SUM(ch * (pos + 1)) AS BIGINT) AS sig
       |FROM f WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Bloom-pre-filtered semi-join: event stats for users flagged by ≥ 14
    * error events; the bloom is a pure shuffle reducer, output exact.
    */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.bloomFlaggedUserStats(load(spark, dir, "events"), 14L)
      .orderBy("user_id")

  /** Twin of [[PipelineOps.bloomFlaggedUserStats]]: the bloom never
    * excludes a true match and the exact semi-join removes every false
    * positive, so the twin is the plain semi-join + aggregate. `events`
    * rows are unique, `f` holds distinct users — the inner join IS the
    * semi-join.
    */
  val bloomJoinSql: String =
    """WITH f AS (SELECT user_id FROM events WHERE event_type = 'error'
      |           GROUP BY user_id HAVING COUNT(*) >= 14)
      |SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events e JOIN f USING (user_id)
      |GROUP BY e.user_id ORDER BY user_id""".stripMargin

  /** Frequent word bigrams: Misra–Gries candidates + exact verify; output
    * is exact, so the twin is the plain GROUP BY/HAVING.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.heavyHitters(docs(spark, dir)).orderBy("w")

  /** Twin of [[PipelineOps.heavyHitters]]: the sketch is a candidate
    * filter that provably never excludes a qualifier, so the exact-verified
    * output equals the direct exact counts with the same data-dependent
    * support threshold.
    */
  val heavyHittersSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |x AS (SELECT ws, unnest(range(0, len(ws) - 1)) AS i FROM t),
      |g AS (SELECT ws[i+1] || ' ' || ws[i+2] AS w FROM x),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY w)
      |SELECT c.w, c.cnt FROM c CROSS JOIN n
      |WHERE c.cnt >= GREATEST(1, n.n // 1500) ORDER BY w""".stripMargin

  // -------------------------------------------------------- multimodal

  /** Column-tier media stats (binary payload derived from text); the typed
    * mapPartitions decode path is exercised in PipelineSpec.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        length(encode(col("text"), "UTF-8")).cast("long").as("b"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        sum(lit(320L) + col("b") % 320L).as("sum_w"),
        sum(lit(240L) + col("b") % 240L).as("sum_h"))
      .orderBy("lang")

  val mediaMetaSql: String =
    """WITH m AS (SELECT lang, CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS b
      |           FROM documents)
      |SELECT lang, COUNT(*) AS cnt, CAST(SUM(320 + b % 320) AS BIGINT) AS sum_w,
      | CAST(SUM(240 + b % 240) AS BIGINT) AS sum_h
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin

  /** REAL image decode, end-to-end: per-doc deterministic PNGs are encoded
    * distributed, then parsed back by the JDK's javax.imageio in the
    * batched mapPartitions pass; the oracle recomputes the dimensions and
    * the full-raster pixel checksum ARITHMETICALLY (every pixel is an
    * integer function of doc_id), so a match proves the engine decoded the
    * actual bytes — width, height, and all w×h pixels.
    */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame =
    MediaOps.decodeImages(MediaOps.pngTable(docs(spark, dir)))
      .toDF().orderBy("media_id")

  /** REAL image resize, end-to-end: decode → 2×2 integer box filter →
    * PNG re-encode → decode AGAIN for evidence. The oracle recomputes the
    * pooled dims and the pooled-raster checksum arithmetically (floor
    * channel averages over each 2×2 block of the deterministic pixel
    * rule), so a green row certifies the whole
    * decode-resize-reencode-decode loop pixel-exactly.
    */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    MediaOps.decodeImages(
      MediaOps.resizeImages(MediaOps.pngTable(docs(spark, dir)), 2))
      .toDF().orderBy("media_id")

  /** Resized copies carry media_id + 2^30 — disjoint from any doc_id at
    * every test scale, same literal in the SQL twin.
    */
  private val PhashOffset = 1L << 30

  /** Image perceptual near-dup: every 17th document's PNG plus its 2×
    * box-filter-resized copy, dHash-pooled ([[MediaOps.perceptualHash]])
    * and paired through the 12-bit Hamming bands. The oracle recomputes
    * the 24-bit hash ARITHMETICALLY from the deterministic pixel rule
    * (original and box-filtered grids), then applies the same bands and
    * Hamming cut — so a green row certifies decode → pool → gradient
    * bits → banding → verify end-to-end, integer-exactly.
    */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).where(col("doc_id") % 17 === 0)
    val base = MediaOps.pngTable(d)
    val resized = MediaOps.resizeImages(base, 2)
      .map(r => MediaOps.ImageRow(r.media_id + PhashOffset, r.payload))
    val hashes = MediaOps.perceptualHash(base.unionByName(resized)).toDF()
    MediaOps.phashDupPairs(hashes, maxDist = 3).orderBy("a", "b")
  }

  val mediaPhashSql: String = {
    val grayOrig =
      "((x*7 + y*13 + id) % 256) + ((x*3 + y*5 + 2*id) % 256) + " +
        "((x*11 + y*2 + 3*id) % 256)"
    def ch(a: Int, b: Int, idMul: Int): String = {
      val terms = for (dx <- 0 to 1; dy <- 0 to 1)
        yield s"((2*x+$dx)*$a + (2*y+$dy)*$b + $idMul*id) % 256"
      s"(${terms.mkString(" + ")}) // 4"
    }
    val grayRs = s"${ch(7, 13, 1)} + ${ch(3, 5, 2)} + ${ch(11, 2, 3)}"
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 0),
       |img AS (
       |  SELECT doc_id AS media_id, doc_id AS id, 8 + doc_id % 16 AS w,
       |         8 + doc_id % 12 AS h, 0 AS rs FROM ids
       |  UNION ALL
       |  SELECT doc_id + $PhashOffset, doc_id, (8 + doc_id % 16) // 2,
       |         (8 + doc_id % 12) // 2, 1 FROM ids),
       |bi AS (SELECT media_id, id, w, h, rs, unnest(range(0, 4)) AS i FROM img),
       |bij AS (SELECT *, unnest(range(0, 4)) AS j FROM bi),
       |cx AS (SELECT *, unnest(range((i*w+2)//4, ((i+1)*w+2)//4)) AS x FROM bij),
       |cxy AS (SELECT *, unnest(range((j*h+2)//4, ((j+1)*h+2)//4)) AS y FROM cx),
       |cells AS (SELECT media_id, i, j,
       |    SUM(CASE WHEN rs = 0 THEN $grayOrig ELSE $grayRs END)
       |      // COUNT(*) AS c
       |  FROM cxy GROUP BY media_id, i, j),
       |bits AS (
       |  SELECT a.media_id, (1::BIGINT << CAST(a.j*3 + a.i AS INT)) AS v
       |  FROM cells a JOIN cells b ON b.media_id = a.media_id
       |    AND b.i = a.i + 1 AND b.j = a.j
       |  WHERE a.i <= 2 AND b.c > a.c
       |  UNION ALL
       |  SELECT a.media_id, (1::BIGINT << CAST(12 + a.i*3 + a.j AS INT)) AS v
       |  FROM cells a JOIN cells b ON b.media_id = a.media_id
       |    AND b.i = a.i AND b.j = a.j + 1
       |  WHERE a.j <= 2 AND b.c > a.c),
       |hsh AS (SELECT i2.media_id, CAST(COALESCE(s.s, 0) AS BIGINT) AS phash
       |  FROM img i2 LEFT JOIN (SELECT media_id, SUM(v) AS s FROM bits
       |    GROUP BY media_id) s USING (media_id)),
       |bb AS (SELECT media_id, phash,
       |    unnest(range(0, 4)) AS band FROM hsh),
       |bb2 AS (SELECT media_id, phash, band,
       |    (phash >> CAST(band*6 AS INT)) & 63 AS bh FROM bb),
       |pairs AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b,
       |    CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS dist
       |  FROM bb2 x JOIN bb2 y ON x.band = y.band AND x.bh = y.bh
       |    AND x.media_id < y.media_id)
       |SELECT a, b, dist FROM pairs WHERE dist <= 3 ORDER BY a, b""".stripMargin
  }

  val mediaResizeSql: String = {
    def ch(a: Int, b: Int, idMul: Int): String = {
      // floor-average over the 2x2 block of ((px*a + py*b + idMul*doc_id) % 256)
      val terms = for (dx <- 0 to 1; dy <- 0 to 1)
        yield s"((2*x+$dx)*$a + (2*y+$dy)*$b + $idMul*doc_id) % 256"
      s"(${terms.mkString(" + ")}) // 4"
    }
    s"""WITH ids AS (SELECT doc_id, (8 + doc_id % 16) // 2 AS wo,
       |                    (8 + doc_id % 12) // 2 AS ho FROM documents),
       |xs AS (SELECT doc_id, wo, ho, unnest(range(0, wo)) AS x FROM ids),
       |px AS (SELECT doc_id, wo, ho, x, unnest(range(0, ho)) AS y FROM xs)
       |SELECT doc_id AS media_id, CAST(wo AS BIGINT) AS width,
       | CAST(ho AS BIGINT) AS height,
       | CAST(SUM(${ch(7, 13, 1)} + ${ch(3, 5, 2)} + ${ch(11, 2, 3)})
       |   AS BIGINT) AS pix_sum
       |FROM px GROUP BY doc_id, wo, ho ORDER BY media_id""".stripMargin
  }

  // ------------------------------------------------ streaming replays

  /** Shuffle partitions for the stateful stream queries. Spark bakes the
    * count into the state store at the first micro-batch (the checkpoint
    * then pins it), and every micro-batch commits one delta file per
    * partition: a 32-partition session would commit 8× the checkpoint
    * files of 4 for a few-thousand-row keeper or session state.
    */
  private val StreamShufflePartitions = "spark.sql.shuffle.partitions" -> "4"

  /** One [[replayStream]] invocation as its sink and result see it: `name`
    * is unique per invocation (it names a memory-sink table) and
    * `dir(child)` is a path under the replay's temp root.
    */
  private[graft] final case class Replay(name: String, root: String) {
    def dir(child: String): String = s"$root/$child"
  }

  /** The two-micro-batch replay behind every `q_stream_*` query. Each
    * `(batch1, batch2)` pair is one file source: batch 1 is written to it
    * and the stream opened with batch 1's schema. Under the `conf`
    * overrides the harness starts `sink(streams, replay)` with its own
    * checkpoint, drains micro-batch 1, feeds every batch 2, drains again,
    * records [[StreamMetrics]] and materializes `result` into one
    * partition, so the returned frame holds no stream state (Bench
    * re-invokes these queries).
    *
    * Batch 2 is staged: each source's batch 2 is written to a sibling dir
    * (a child would be listed by the live source), then its part files
    * are moved in with `ATOMIC_MOVE`, which throws instead of degrading to
    * copy + delete (the source could list a half-copied file). A direct
    * write lets a trigger fire mid-write and split batch 2 (the two-source
    * join showed 5 batches, one of pure overhead). A trigger can still
    * fire between two moves, e.g. between two sources': the join's
    * emitted set does not depend on that split, so staging trims
    * lifecycles, never its results.
    *
    * Every dir lives under one temp root. One teardown stops the query,
    * restores the conf, drops the memory table and deletes the root, also
    * when the sink, the feed or `result` throws.
    */
  private[graft] def replayStream(spark: SparkSession, tag: String,
      conf: Seq[(String, String)], sources: Seq[(DataFrame, DataFrame)])(
      sink: (Seq[DataFrame], Replay) => DataStreamWriter[Row])(
      result: Replay => DataFrame): DataFrame = {
    val saved = conf.map { case (k, _) => k -> spark.conf.get(k) }
    val name = s"${tag}_${System.nanoTime()}"
    val r = Replay(name, Files.createTempDirectory(name).toString)
    var q: StreamingQuery = null
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val streams = sources.zipWithIndex.map { case ((b1, _), i) =>
        b1.write.parquet(r.dir(s"source$i"))
        spark.readStream.schema(b1.schema).parquet(r.dir(s"source$i"))
      }
      q = sink(streams, r)
        .option("checkpointLocation", r.dir("checkpoint")).start()
      q.processAllAvailable() // micro-batch 1
      sources.zipWithIndex.foreach { case ((_, b2), i) =>
        b2.write.parquet(r.dir(s"stage$i"))
      }
      sources.indices.foreach { i =>
        new File(r.dir(s"stage$i")).listFiles()
          .filter(_.getName.startsWith("part-")).foreach { f =>
            Files.move(f.toPath, Paths.get(r.dir(s"source$i"), f.getName),
              StandardCopyOption.ATOMIC_MOVE)
          }
      }
      q.processAllAvailable() // micro-batch 2
      StreamMetrics.record(q)
      q.stop()
      val out = result(r)
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.collect().toSeq, 1), out.schema)
    } finally {
      if (q != null && q.isActive) q.stop()
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      if (spark.catalog.tableExists(name)) spark.catalog.dropTempView(name)
      rmrfTemp(r.root)
    }
  }

  /** [[replayStream]] into an append-mode memory sink: `op` turns the
    * streams into the query, whose table is read back ordered by `order`.
    */
  private[graft] def replayToMemory(spark: SparkSession, tag: String,
      conf: Seq[(String, String)], sources: Seq[(DataFrame, DataFrame)],
      order: String*)(op: Seq[DataFrame] => DataFrame): DataFrame =
    replayStream(spark, tag, conf, sources)((streams, r) =>
      op(streams).writeStream.format("memory").queryName(r.name)
        .outputMode("append"))(
      r => spark.table(r.name).orderBy(order.map(col): _*))

  /** Bounded recursive delete of a replay's temp root (a
    * `Files.createTempDirectory` child, never a user path).
    */
  private def rmrfTemp(p: String): Unit = {
    val f = new File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrfTemp(c.getPath))
    f.delete()
  }

  /** Streaming exact dedup ([[StreamOps.dedupStreamDocs]], keeper state in
    * `flatMapGroupsWithState`) over the documents table. Batch 2 repeats
    * every third document under a strictly larger id: the state written
    * in batch 1 must swallow each repeat, so the emitted keepers equal the
    * batch min id per content. A broken cross-batch lookup re-emits them.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = load(spark, dir, "documents").select("doc_id", "text")
    val dups = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    replayToMemory(spark, "qsd", Seq(StreamShufflePartitions),
        Seq(base -> dups), "h", "keeper")(
      s => StreamOps.dedupStreamDocs(spark, s.head))
  }

  /** Streaming sessionization ([[StreamOps.sessionizeStream]], open-session
    * state) over events split at a day boundary. The emitted closed
    * sessions must equal the batch sessionization minus each user's open
    * last session. Sessions spanning the cut emit whole only if the open
    * session survived batch 1 in state; dropped state splits them.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").select(col("user_id"),
      col("event_id"), col("ts").cast("timestamp").as("ts"))
    val cutUs = 1704153600000000L // 2024-01-02T00:00:00Z — day-1 boundary
    // per-user event time stays monotone across the cut (the operator's
    // ordering contract)
    replayToMemory(spark, "qss", Seq(StreamShufflePartitions),
        Seq(ev.where(unix_micros(col("ts")) < cutUs) ->
          ev.where(unix_micros(col("ts")) >= cutUs)),
        "user_id", "sess_idx")(
      s => StreamOps.sessionizeStream(spark, s.head, gapSec = 1800L))
  }

  /** Stream-stream interval join ([[StreamOps.intervalJoinStream]],
    * watermarked two-sided state): clicks and views replay as two file
    * sources. A batch-2 click pairs with a batch-1 view only if the view
    * survived batch 1 in join state, so the emitted set equals the batch
    * interval join only when that state works.
    */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").select(col("event_id"),
      col("ts").cast("timestamp").as("ts"), col("user_id"), col("event_type"))
    // the batch boundary is chosen so at least one (view, click) pair
    // STRADDLES it at every test scale — those pairs only emit if the
    // view survived batch 1 in the join state, which is the property
    // this query certifies (a boundary with no straddling pair would
    // pass on a stateless per-batch join too)
    val cutUs = 1704979170113231L
    def leg(tpe: String): (DataFrame, DataFrame) = {
      val e = ev.where(col("event_type") === tpe).drop("event_type")
      e.where(unix_micros(col("ts")) < cutUs) ->
        e.where(unix_micros(col("ts")) >= cutUs)
    }
    // No-data micro-batches only advance the watermark and EVICT state —
    // an inner stream-stream join emits pairs exclusively on input rows,
    // so the two eviction-only lifecycles (observed ~1.2 s each) cannot
    // change the emitted set; skip them here. NOT applied to streamWindow:
    // append-mode window finalization EMITS in the trailing no-data batch
    // and needs it.
    replayToMemory(spark, "qsj", Seq(StreamShufflePartitions,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
        Seq(leg("click"), leg("view")), "click_id", "view_id")(
      s => StreamOps.intervalJoinStream(s(0), s(1), maxLagSec = 7200L))
  }

  /** Twin of [[streamJoin]]: the plain batch interval join — in-order
    * replay within the watermark contract emits exactly this set.
    */
  val streamJoinSql: String =
    """WITH c AS (SELECT event_id AS click_id, ts AS cts, user_id
      |           FROM events WHERE event_type = 'click'),
      |v AS (SELECT event_id AS view_id, ts AS vts, user_id
      |      FROM events WHERE event_type = 'view')
      |SELECT c.click_id, v.view_id, c.user_id,
      |  epoch_us(c.cts) - epoch_us(v.vts) AS lag_us
      |FROM c JOIN v ON c.user_id = v.user_id
      |  AND v.vts >= c.cts - INTERVAL 2 HOUR AND v.vts <= c.cts
      |ORDER BY click_id, view_id""".stripMargin

  /** Twin of [[streamSessionize]]: the batch session CTEs, keeping only
    * CLOSED sessions — every session but each user's last.
    */
  val streamSessionizeSql: String =
    s"""WITH $sessionCtes
       |SELECT user_id, sess_idx, n_events, start_us, dur_us
       |FROM (SELECT g.*, MAX(sess_idx) OVER (PARTITION BY user_id) AS mx
       |      FROM g) t
       |WHERE sess_idx < mx ORDER BY user_id, sess_idx""".stripMargin

  /** Stream-static box join ([[StreamOps.boxJoinStream]], stateless cell
    * equi-join + closed-interval containment) of the customer points,
    * even keys in batch 1 and the rest in batch 2, against the static
    * supplier rects. The emitted pairs must equal the batch point-in-box
    * join across both micro-batches.
    */
  def streamTileJoin(spark: SparkSession, dir: String): DataFrame = {
    val pts = TpchGeo.points(load(spark, dir, "customer"), "c_custkey")
    val rects = TpchGeo.rects(load(spark, dir, "supplier"), "s_suppkey")
      .select(col("id").as("gid"),
        col("min_x").as("minX"), col("min_y").as("minY"),
        col("max_x").as("maxX"), col("max_y").as("maxY"))
    replayToMemory(spark, "qstj", Nil,
        Seq(pts.where(col("id") % 2 === 0) -> pts.where(col("id") % 2 =!= 0)),
        "id", "gid")(
      s => StreamOps.boxJoinStream(s.head, rects, CellGrid.lonLat(6)))
  }

  val streamTileJoinSql: String =
    s"""WITH p AS (${TpchGeo.pointsSql("customer", "c_custkey")}),
       |r AS (${TpchGeo.rectsSql("supplier", "s_suppkey")})
       |SELECT p.id AS id, r.id AS gid FROM p JOIN r
       |ON p.x >= r.min_x AND p.x <= r.max_x
       |AND p.y >= r.min_y AND p.y <= r.max_y
       |ORDER BY id, gid""".stripMargin

  /** Watermarked windowed aggregation ([[StreamOps.cellCounts]], 1-hour
    * tumbling windows, 2-hour watermark, append mode) of per-cell events.
    * Batch 1 carries 3/4 of the events and sets the watermark; almost all
    * of batch 2's held-back quarter is then late. The twin applies the
    * same drop and finalize predicates, so the emitted windows certify
    * both the late-row drop and the append-mode finalization boundary.
    */
  def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    import TpchGeo.{px, py}
    val ents = load(spark, dir, "events").select(
      col("event_id"), col("ts").cast("timestamp").as("warc_ts"),
      px(col("event_id")).as("x"), py(col("event_id")).as("y"))
    def part(keep: Column): DataFrame = ents.where(keep).drop("event_id")
    replayToMemory(spark, "qsw", Seq(StreamShufflePartitions),
        Seq(part(col("event_id") % 4 =!= 0) -> part(col("event_id") % 4 === 0)),
        "win_start", "cell")(
      s => StreamOps.cellCounts(
        s.head.withColumn("cell", graft.functions.SpatialFunctions
          .stCell(Queries.grid)(col("x"), col("y"))), "1 hour", "2 hours"))
  }

  /** The twin's two predicates mirror the engine exactly: (1) a batch-2
    * row survives iff its window end is strictly beyond the batch-1
    * watermark (max batch-1 ts - 2h) — Spark keeps a late row while its
    * window's state is still alive; (2) a window is emitted iff its end is
    * at or before the FINAL watermark (global max ts - 2h; late rows still
    * advance event-time stats, they are filtered later).
    */
  val streamWindowSql: String = {
    import TpchGeo.{pxSql, pySql}
    s"""WITH e AS (SELECT event_id, ts, ${pxSql("event_id")} AS x,
       |  ${pySql("event_id")} AS y FROM events),
       |m1 AS (SELECT MAX(ts) AS t FROM e WHERE event_id % 4 <> 0),
       |wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM e),
       |kept AS (
       |  SELECT * FROM e WHERE event_id % 4 <> 0
       |  UNION ALL
       |  SELECT e.* FROM e, m1 WHERE event_id % 4 = 0
       |    AND date_trunc('hour', ts) + INTERVAL 1 HOUR > m1.t - INTERVAL 2 HOUR),
       |c AS (SELECT date_trunc('hour', ts) AS win_start,
       |  ${Queries.cellSql("x", "y")} AS cell, x, y FROM kept),
       |g AS (SELECT win_start, cell, COUNT(*) AS cnt,
       |  MIN(x) AS min_x, MIN(y) AS min_y, MAX(x) AS max_x, MAX(y) AS max_y
       |  FROM c GROUP BY win_start, cell)
       |SELECT g.win_start, g.cell, g.cnt, g.min_x, g.min_y, g.max_x, g.max_y
       |FROM g, wm WHERE g.win_start + INTERVAL 1 HOUR <= wm.w
       |ORDER BY win_start, cell""".stripMargin
  }

  /** Ingest → index → serve: customer points stream in two micro-batches
    * into the persisted generational store ([[StreamOps.indexSink]]: batch
    * 0 bulk-builds, batch 1 appends generation 1), and the answer is the
    * STORE's `IndexStore.rangeQuery`, not the stream's output.
    */
  def streamIndex(spark: SparkSession, dir: String): DataFrame = {
    val pts = TpchGeo.points(load(spark, dir, "customer"), "c_custkey")
    // nGroups = 1: groups are the kill/resume granularity, and each call
    // builds a fresh store, where every group commit is a write job + a
    // lineage job + marker FS ops of pure overhead. Kill/resume at real
    // group granularity is pinned by CheckpointSpec at nGroups = 8.
    replayStream(spark, "qsi", Nil,
        Seq(pts.where(col("id") % 2 === 0) -> pts.where(col("id") % 2 =!= 0)))(
      (s, r) => StreamOps.indexSink(s.head, Queries.grid, r.dir("store"),
        nGroups = 1))(
      r => IndexStore.rangeQuery(spark, r.dir("store"), Queries.grid,
        Queries.QB._1, Queries.QB._2, Queries.QB._3, Queries.QB._4)
        .orderBy("id"))
  }

  val streamIndexSql: String = Queries.persistedRangeSql

  val streamDedupSql: String =
    """SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS keeper,
      | CAST(MIN(LENGTH(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY md5(text) ORDER BY h, keeper""".stripMargin

  /** REAL audio decode, end-to-end: per-doc deterministic WAVs (16-bit LE
    * mono PCM, every sample an integer function of doc_id) are containered
    * distributed via `javax.sound.sampled`, then parsed back in the batched
    * mapPartitions pass; the oracle recomputes frame count and the
    * signed-amplitude sum ARITHMETICALLY, so a match proves the engine
    * decoded the actual RIFF data chunk — all n samples of it.
    */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame =
    MediaOps.decodeAudio(MediaOps.wavTable(docs(spark, dir)))
      .toDF().orderBy("media_id")

  val mediaAudioSql: String =
    """WITH ids AS (SELECT doc_id, 400 + doc_id % 256 AS n FROM documents),
      |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ids)
      |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples,
      | CAST(8000 AS BIGINT) AS sample_rate,
      | CAST(SUM((doc_id*31 + i*17) % 65536 - 32768) AS BIGINT) AS amp_sum
      |FROM s GROUP BY doc_id, n ORDER BY media_id""".stripMargin

  /** REAL video decode, end-to-end: per-doc deterministic YUV4MPEG2
    * streams are containered distributed, then parsed back by the Y4M
    * decoder in the batched mapPartitions pass — header tokenization,
    * FRAME markers, 4:2:0 plane walk. The oracle recomputes the geometry,
    * frame count, and the full-stream sample checksum arithmetically
    * (every sample byte is `(doc_id + k) % 256`), so a match proves the
    * engine decoded the actual container bytes.
    */
  def mediaVideo(spark: SparkSession, dir: String): DataFrame =
    MediaOps.decodeVideo(MediaOps.y4mTable(docs(spark, dir)))
      .toDF().orderBy("media_id")

  val mediaVideoSql: String =
    """WITH v AS (SELECT doc_id, 16 + 2*(doc_id % 8) AS w,
      |  8 + 2*(doc_id % 6) AS h, 3 + (doc_id % 4) AS fr FROM documents),
      |n AS (SELECT doc_id, w, h, fr, (fr*w*h*3)//2 AS nb FROM v),
      |s AS (SELECT doc_id, w, h, fr, unnest(range(0, nb)) AS k FROM n)
      |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
      | CAST(h AS BIGINT) AS height, CAST(fr AS BIGINT) AS n_frames,
      | CAST(SUM((doc_id + k) % 256) AS BIGINT) AS samp_sum
      |FROM s GROUP BY doc_id, w, h, fr ORDER BY media_id""".stripMargin

  /** REAL multi-format image decode — PNG, BMP, GIF, JPEG through the same
    * zero-jar `javax.imageio` seam ([[MediaOps.decodeImageFormats]]): the
    * lossless formats (png/bmp RGB, gif indexed-grayscale) are pinned by
    * the arithmetic full-raster checksum; JPEG (lossy by design) is pinned
    * on decoded dimensions here — the checksum column carries the -1
    * sentinel both sides — and its decoded raster is spec-asserted near
    * the source (MediaSpec).
    */
  def mediaFormats(spark: SparkSession, dir: String): DataFrame =
    MediaOps.decodeImageFormats(MediaOps.imageFormatsTable(docs(spark, dir)))
      .toDF()
      .withColumn("pix_sum",
        when(col("fmt") === "jpg", lit(-1L)).otherwise(col("pix_sum")))
      .orderBy("media_id")

  val mediaFormatsSql: String =
    """WITH ids AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h,
      |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
      |    WHEN 2 THEN 'gif' ELSE 'jpg' END AS fmt
      |  FROM documents),
      |xs AS (SELECT doc_id, fmt, w, h, unnest(range(0, w)) AS x FROM ids),
      |px AS (SELECT doc_id, fmt, w, h, x, unnest(range(0, h)) AS y FROM xs),
      |sums AS (SELECT doc_id, fmt, w, h,
      |  SUM((x*7 + y*13 + doc_id) % 256 + (x*3 + y*5 + 2*doc_id) % 256
      |      + (x*11 + y*2 + 3*doc_id) % 256) AS rgb_sum,
      |  SUM(3 * ((x*7 + y*13 + doc_id) % 256)) AS gray_sum
      |  FROM px GROUP BY doc_id, fmt, w, h)
      |SELECT doc_id AS media_id, fmt, CAST(w AS BIGINT) AS width,
      | CAST(h AS BIGINT) AS height,
      | CAST(CASE fmt WHEN 'jpg' THEN -1 WHEN 'gif' THEN gray_sum
      |   ELSE rgb_sum END AS BIGINT) AS pix_sum
      |FROM sums ORDER BY media_id""".stripMargin

  val mediaDecodeSql: String =
    """WITH ids AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h
      |             FROM documents),
      |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM ids),
      |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
      |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
      | CAST(h AS BIGINT) AS height,
      | CAST(SUM((x*7 + y*13 + doc_id) % 256 + (x*3 + y*5 + 2*doc_id) % 256
      |          + (x*11 + y*2 + 3*doc_id) % 256) AS BIGINT) AS pix_sum
      |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin
}
