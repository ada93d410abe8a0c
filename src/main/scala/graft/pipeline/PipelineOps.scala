package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.NativeFunctions._

/** Large-scale training-data pipeline operators over the `documents` /
  * `embeddings` tables: deduplication (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash), similarity search (brute-force + LSH-bucketed ANN), and text
  * analysis (token stats, quality scores, language-ID, fingerprints).
  *
  * Everything is Spark built-ins (codegen'd, shuffle-aware) except where a
  * genuine per-row algorithm needs a typed map. Operators that must agree
  * with the DuckDB oracle use only IEEE-exact arithmetic (integer hashes or
  * floor-scaled integers); float-summing variants are exposed separately
  * and checked rows-only.
  *
  * Scale notes: every dedup path is a shuffle on a *derived short key*
  * (hash, shingle, band) — never on raw text; LSH banding bounds the
  * candidate-pair blowup so the exact verification join touches only
  * plausible pairs (the standard MinHash-LSH design, Broder 1997 /
  * Leskovec-Rajaraman-Ullman ch. 3).
  */
object PipelineOps {

  // ------------------------------------------------------------ exact dedup

  /** Exact duplicate groups by content hash: one keeper (min id) per
    * distinct text; `dup_cnt` > 1 marks exact duplicates. Map-side-combined
    * groupBy on a 128-bit hash — at 100 TB this is the cheapest dedup pass
    * and always runs first.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("dup_cnt"))
      .select("h", "keeper", "dup_cnt")

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles per document, 1-based positions so the
    * SQL twin (`list_transform(range(1, len-n+2), ...)`) aligns exactly.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = split(col("text"), " ")
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ",
        (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    docs
      // guard: Spark's sequence(1, k) DESCENDS when k < 1; the SQL twin's
      // range() is empty there — filter short docs identically on both sides
      .where(size(toks) >= n)
      .select(col("doc_id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** Rare-shingle n-gram Jaccard near-duplicate pairs (a < b, J ≥
    * threshold). The DECLARED function — computed identically by this plan
    * and its SQL oracle (`PipelineQueries.ngramDupSql`), so the exactness
    * claim holds unconditionally, not just on low-df fixtures:
    *
    *   candidates = pairs sharing ≥ 1 shingle whose document frequency is
    *   in [2, maxShingleDf]; result = candidates with EXACT Jaccard (over
    *   ALL shingles, hot ones included) ≥ threshold.
    *
    * The df cap is the skew guard: an uncapped shingle self-join emits df²
    * candidate rows per shingle, so at web scale one stop-trigram shared by
    * f documents is an f²-row hot key. At J ≥ 0.7 a pair shares most of its
    * shingles, so a pair escapes candidacy only when EVERY shared shingle
    * is hotter than the cap — i.e. a cluster of > maxShingleDf boilerplate
    * near-copies. That cluster shape is by design routed to the other dedup
    * passes: exact copies to [[exactDupGroups]] (cleanCorpus runs it
    * first), near-copies to [[minhashLshPairs]] (banding has no df cap).
    *
    * Plan shape — the intersection count is NEVER re-derived by joining
    * candidates back against the shingle stream (round 2 did exactly that:
    * on an overlap-heavy corpus the rejoin materialized ~60M intermediate
    * rows and took 14 s at sf0.1; this plan runs in ~3 s). Instead the
    * count splits by shingle temperature, and each half falls out of an
    * already-bounded structure:
    *
    *   c(a,b) = c_rare(a,b) + |hot(a) ∩ hot(b)|
    *
    *   - c_rare: each rare shingle's doc list (collect_list AFTER the df
    *     gate, so the buffer is bounded by maxShingleDf — SkewSpec)
    *     explodes into its doc pairs; the per-pair MULTIPLICITY of that
    *     explode IS the shared-rare-shingle count, so one groupBy(a,b)
    *     yields candidates and counts together — no distinct, no rejoin.
    *   - hot: per-doc hot-shingle arrays (bounded by shingles-per-doc, and
    *     hot shingles are ≤ |sh|/cap distinct by definition); the shared
    *     count is an array_intersect at the final join.
    *
    *   The df gate itself is a partition-frame window (spillable buffer —
    *   a stop-shingle shared by 10^8 docs streams through disk, never
    *   OOM), and all three consumers of the df-annotated stream sit above
    *   the SAME shingle exchange, so the corpus is exploded and shuffled
    *   once. Shingles with df = 1 are in neither half and cannot be
    *   shared; per-doc sizes join the (bounded) pair set at the end.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.7, maxShingleDf: Int = 128): DataFrame = {
    val shW = shingles(docs, n)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
    val rareLists = shW.where(col("df").between(2, maxShingleDf))
      .groupBy("shingle").agg(array_sort(collect_list(col("doc_id"))).as("ds"))
    val pairsOfList = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
        struct(x.as("a"), y.as("b")))))
    val cRare = rareLists.select(explode(pairsOfList).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_rare"))
    val hotPerDoc = shW.where(col("df") > maxShingleDf)
      .groupBy("doc_id").agg(array_sort(collect_list(col("shingle"))).as("hs"))
    // per-doc totals from the same df-annotated stream (the df >= 1 filter
    // is a no-op that keeps this consumer on the shared shingle exchange
    // instead of re-exploding the corpus)
    val cnt = shW.where(col("df") >= 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    cRare
      .join(cnt.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(cnt.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .join(hotPerDoc.select(col("doc_id").as("a"), col("hs").as("ha")),
        Seq("a"), "left")
      .join(hotPerDoc.select(col("doc_id").as("b"), col("hs").as("hb")),
        Seq("b"), "left")
      .withColumn("c", col("c_rare") +
        coalesce(size(array_intersect(col("ha"), col("hb"))).cast("long"), lit(0L)))
      .withColumn("jac",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .where(col("jac") >= threshold)
      .select("a", "b", "jac")
  }

  /** Exact Jaccard over the 31-bit hashed shingle SPACE for just the LSH
    * candidate pairs, with the result filtered to J ≥ threshold. Each
    * candidate document is reduced to its sorted-distinct shingle-hash
    * array by the native [[graft.functions.ShingleHash31s]] expression
    * (one UTF-8 pass, no shingle strings), so the verify stage is a
    * candidate-pair join over per-doc arrays + `array_intersect` — NO
    * shingle-level explode or shuffle at all (the previous plan shingled
    * candidate docs three times and shuffled on (doc, shingle)). The
    * DuckDB twins compute Jaccard over the same hash space
    * (`SELECT DISTINCT doc_id, sh31`), so engine and oracle agree by
    * construction; vs string-shingle Jaccard, 31-bit collisions perturb
    * ~1e-3 of candidate pairs by at most one intersection count — the
    * standard production representation for shingle dedup. NOT used by
    * [[ngramJaccardPairs]], which declares string-shingle semantics and
    * computes intersections by multiplicity.
    */
  private def exactJaccardVerify(docs: DataFrame, n: Int, cand0: DataFrame,
      threshold: Double): DataFrame = {
    // The candidate set is TINY (near-dup cluster structure) but EXPENSIVE
    // (it sits downstream of the full shingle shuffle / banding) and feeds
    // two subtrees; materialize it once, eagerly — a few-KB artifact.
    val cand = cand0.localCheckpoint(true)
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val toks = split(col("text"), " ")
    val sh = docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .where(size(toks) >= n) // the shingles() short-doc gate
      .select(col("doc_id"),
        shingleHash31s(col("text"), n).as("hs"))
    // candidate pairs join the per-doc arrays; |sh| ≤ 2·|cand| docs, so
    // Catalyst broadcasts the sides AQE sizes as small — and at any scale
    // these are plain equi-joins on doc id, never on shingles
    cand
      .join(sh.select(col("doc_id").as("a"), col("hs").as("ha"),
        size(col("hs")).cast("long").as("na")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("hs").as("hb"),
        size(col("hs")).cast("long").as("nb")), Seq("b"))
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jac",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .where(col("jac") >= threshold)
      .select("a", "b", "jac")
  }

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signatures banded for LSH: output (doc_id, band, band_hash).
    * Near-duplicate candidates are pairs sharing any (band, band_hash)
    * bucket — the scale path: the only shuffle is on the band hash, never
    * on pairs.
    *
    * Permutations are the classic universal affine family (a·h + b) mod p
    * over a 31-bit polynomial shingle hash (OracleHash) — arithmetic with
    * an exact ANSI-SQL twin, so minhash results carry a full DuckDB oracle
    * (round 1's xxhash64 had none). One string hash per shingle + numPerms
    * integer affines also beats numPerms string hashes at scale.
    */
  def minhashBands(docs: DataFrame, n: Int = 3, numPerms: Int = 16,
      bands: Int = 4): DataFrame = {
    import graft.functions.OracleHash._
    val rowsPerBand = numPerms / bands
    // whole signature per document in ONE native-expression pass — no
    // shingle explode, no numPerms-column aggregation (and so no shuffle
    // at all before LSH banding). The exploded + min-agg formulation this
    // replaces carried per-shingle HOF/string allocation that showed up as
    // sporadic full-GC outliers at 32 perms (clean corpus). Bit-identical:
    // MinHashSig hashes the same shingle byte spans with the same
    // OracleHash affine family.
    val toks = split(col("text"), " ")
    val sig = docs
      .where(size(toks) >= n) // same short-doc gate as shingles()
      .select(col("doc_id"), minhashSig(col("text"), n, numPerms).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        combine62((0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1))).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** MinHash-LSH near-dup pairs with exact Jaccard verification: bucket
    * self-join proposes candidates; only those pairs pay the exact shingle
    * intersection. Standard LSH recall caveat applies (tunable via
    * perms/bands); the exact `ngramJaccardPairs` is the semantic oracle.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.7,
      numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val bb = minhashBands(docs, n, numPerms, bands)
    val cand = bb.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // exact verification restricted to candidates — broadcast-joined, so
    // the shingle stream is recomputed map-side (no cache to leak, no
    // full-table shuffle; same shape as ngramJaccardPairs' verify)
    exactJaccardVerify(docs, n, cand, threshold)
  }

  // ------------------------------------------- duplicate clusters (CC)

  /** Connected components over an undirected edge list — the completion
    * step pair-based dedup needs at corpus scale: near-duplication is not
    * transitive, so a per-PAIR keeper rule either over- or under-deletes
    * chained shards; the canonical rule is one keeper per connected
    * component of the verified dup graph.
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * O(log n) rounds on ANY graph shape, where naive min-label
    * propagation needs O(diameter) rounds (linear on a chain of pairwise
    * near-dup shards, a real web-corpus shape). Each round is two
    * window-min shuffles over the current edge set; the per-node minimum
    * rides the window's spillable partition frame, so no adjacency list
    * is ever collected and a boilerplate hot node with 10^8 dup edges
    * streams through disk rather than materializing.
    *
    * Deterministic: the component label is the component's minimum node
    * id. Output: (id, comp) for every node with an incident edge
    * (isolated docs never enter the edge list and are trivially their own
    * keeper). Convergence is detected by an edge-set checksum
    * (count + order-free xor fold — one tiny agg per round); each round's
    * edge set is localCheckpointed to truncate the iterative lineage.
    */
  def connectedComponents(edges: DataFrame, uCol: String = "a",
      vCol: String = "b", maxRounds: Int = 50): DataFrame = {
    // materialize the raw pair list ONCE — both the canonical edge set
    // and the node set derive from it, and the input lineage (e.g. the
    // whole MinHash-LSH pipeline) must not be recomputed per consumer
    val pre = edges.select(col(uCol).cast("long").as("hi"),
      col(vCol).cast("long").as("lo")).localCheckpoint(true)
    // canonical undirected form (hi > lo); self-loops and dup edges out
    var e = pre.select(
        greatest(col("hi"), col("lo")).as("hi"),
        least(col("hi"), col("lo")).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    // node set fixed up front (from the RAW pairs: a self-loop still
    // registers its node as a singleton component; converged stars lose
    // interior nodes' edges, so it can't be derived later)
    val nodes = pre.select(col("hi").as("id"))
      .union(pre.select(col("lo").as("id")))
      .distinct()
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        bit_xor(xxhash64(col("hi"), col("lo")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = checksum(e)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star: every strictly-larger neighbor of u links to the
      // minimum of u's closed neighborhood (min rides u's window frame)
      val und = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val ls = und
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")),
          col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")) // hi > u >= m = lo
      // small-star: u and all its (smaller, by orientation) neighbors
      // link to the neighborhood minimum
      val ssBase = ls.withColumn("m",
        min(col("lo")).over(Window.partitionBy("hi")))
      val ss = ssBase.select(col("lo").as("hi"), col("m").as("lo"))
        .union(ssBase.select(col("hi"), col("m").as("lo")))
        .where(col("hi") =!= col("lo"))
        .distinct()
      e = ss.localCheckpoint(true)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      round += 1
    }
    require(converged,
      s"connectedComponents: no convergence after $maxRounds rounds")
    // converged edge set is a star forest rooted at component minima:
    // every non-root carries exactly (id -> root); roots appear only as lo
    val lbl = e.groupBy(col("hi").as("id")).agg(min("lo").as("comp"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Near-dup cluster assignment over the MinHash-LSH verified pair graph:
    * (doc_id, cluster = min doc id of its component, csize). The corpus
    * keeper rule on top is `doc_id == cluster`.
    */
  def dupClusters(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLshPairs(docs, n, threshold).select("a", "b")
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy("comp").agg(count(lit(1)).as("csize"))
    cc.join(sizes, Seq("comp"))
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        col("csize"))
  }

  // ----------------------------------- geo-entity extraction (gazetteer)

  /** The default place-name gazetteer for [[entityCells]] — a fixed
    * dictionary, the standard mode for geo-entity linking (regex markers
    * are the other mode: `data/PagesGen.entities` parses `@geo(lat,lon)`
    * spans for the bench's pages table).
    */
  val defaultGazetteer: Seq[String] = Seq(
    "customer", "join", "query", "spark", "stream", "table", "vector",
    "window")

  /** Text → geo-entities → tiles, end-to-end: extract gazetteer mentions
    * from the token stream, geocode each entity deterministically (31-bit
    * polynomial hash fanned to two affine permutations, floor-scaled to
    * lon/lat — integer arithmetic with an exact SQL twin), and aggregate
    * mention/document counts per (cell, entity). One shuffle (the
    * groupBy); the geocode runs AFTER aggregation so it costs O(distinct
    * entities), not O(mentions). At 100 TB the gazetteer is a broadcast
    * `isin` filter pushed into the codegen'd token scan — mentions of
    * unknown words never leave the map side.
    */
  def entityCells(docs: DataFrame, grid: graft.index.CellGrid,
      gazetteer: Seq[String] = defaultGazetteer): DataFrame = {
    import graft.functions.OracleHash._
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w").isin(gazetteer: _*))
      .groupBy(col("w").as("entity"))
      .agg(count(lit(1)).as("mentions"),
        count_distinct(col("doc_id")).as("docs"))
      .withColumn("hx", affine(polyHash31(col("entity")),
        permA(70), permB(70)))
      .withColumn("hy", affine(polyHash31(col("entity")),
        permA(71), permB(71)))
      .withColumn("x", (col("hx") % lit(3600000L)) / lit(10000.0)
        - lit(180.0))
      .withColumn("y", (col("hy") % lit(1700000L)) / lit(10000.0)
        - lit(85.0))
      .withColumn("cell",
        graft.functions.SpatialFunctions.stCell(grid)(col("x"), col("y")))
      .select(col("cell"), col("entity"), col("x"), col("y"),
        col("mentions"), col("docs"))
  }

  // --------------------------------------------------------------- SimHash

  /** 62-bit SimHash document fingerprint: per-token 31-bit polynomial hash
    * fanned out to two independent affine permutations (31 bits each),
    * bitwise majority vote, packed as hi·2^31 + lo. Near-dups have small
    * Hamming distance. Pure column arithmetic over an exploded token
    * stream — and, unlike the round-1 xxhash64 form, every step has an
    * exact DuckDB twin, so the fingerprints carry a full oracle.
    */
  val simhashPermHi: (Long, Long) =
    (graft.functions.OracleHash.permA(64), graft.functions.OracleHash.permB(64))
  val simhashPermLo: (Long, Long) =
    (graft.functions.OracleHash.permA(65), graft.functions.OracleHash.permB(65))

  def simhash(docs: DataFrame): DataFrame = {
    import graft.functions.OracleHash._
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", polyHash31(col("tok")))
      .withColumn("g1", affine(col("h"), simhashPermHi._1, simhashPermHi._2))
      .withColumn("g2", affine(col("h"), simhashPermLo._1, simhashPermLo._2))
    def votes(c: String, tag: String) = (0 until 31).map { b =>
      sum(when(shiftright(col(c), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"$tag$b")
    }
    val agg = tok.groupBy("doc_id")
      .agg(votes("g1", "a").head, (votes("g1", "a").tail ++ votes("g2", "c")): _*)
    def pack(tag: String) = (0 until 31).map(b =>
      when(col(s"$tag$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"),
      (pack("a") * lit(graft.functions.OracleHash.SHIFT31) + pack("c"))
        .as("simhash"))
  }

  // ------------------------------------------------------- fingerprinting

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003, the
    * MOSS scheme): hash every character k-gram with the rolling 31-bit
    * polynomial hash, then keep each w-window's minimum hash — any two
    * documents sharing a substring of length ≥ w+k-1 are guaranteed to
    * share a fingerprint, while only ~2/(w+1) of the grams survive. Output:
    * DISTINCT (doc_id, fp), provided doc_id is unique in `docs`: each row's
    * fingerprints are distinct, but nothing dedupes across rows, so two
    * rows sharing a doc_id can emit the same pair twice.
    *
    * Winnowing is a doc-LOCAL fold, so it is computed IN-ROW by the native
    * [[graft.functions.WinnowFps]] expression (rolling gram hash + monotone
    * -deque sliding min + sorted-distinct, one JVM pass per document) and
    * the distinct minima explode straight out of the array — ZERO Exchange
    * in the plan. The previous formulation exploded one row per character
    * position and ran two Windows over an Exchange of that stream (id +
    * pos + hash per text byte — at 100 TB a multi-hundred-TB shuffle for a
    * fold that never leaves the document; the `repetitionStats`
    * anti-explode rule). Hash space unchanged (polyHash31 of each
    * k-codepoint gram, spec-pinned against the direct fold), so the DuckDB
    * twin and recorded hashes are untouched; the short-doc gate
    * `length >= k+w-1` is exactly the old full-window rule `p <= n - w`.
    */
  def fingerprints(docs: DataFrame, k: Int = 16, w: Int = 8): DataFrame =
    docs
      .where(length(col("text")) >= k + w - 1) // docs with >= 1 full window
      .select(col("doc_id"),
        explode(winnowFps(col("text"), k, w)).as("fp"))

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination — the standard pre-training hygiene step:
    * flag corpus documents sharing ≥ `minOverlap` distinct word n-grams
    * with a held-out evaluation set, so eval answers never leak into the
    * training corpus. Grams live in the 31-bit hashed shingle space
    * ([[graft.functions.ShingleHash31s]] — one UTF-8 pass per doc, no
    * shingle strings), the same declared representation the near-dup
    * verify uses, so the operator carries an exact SQL twin (collisions
    * are identical in both engines).
    *
    * Scale shape: the eval side is a benchmark suite — bounded by
    * construction (thousands of docs, ≤ millions of distinct grams) — so
    * its gram set BROADCASTS and the corpus-side grams are filtered
    * map-side against it; the only full shuffle is the per-doc overlap
    * count, which partial-aggregates before moving. Nothing in the plan
    * scales with corpus × eval, and the corpus is touched exactly once.
    *
    * Output: (doc_id, n_grams, n_overlap, frac) for flagged corpus docs,
    * where `frac` = n_overlap / n_grams over the doc's distinct grams.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 3,
      minOverlap: Long = 2): DataFrame = {
    def grams(df: DataFrame) = df
      .where(size(split(col("text"), " ")) >= n) // the shingles() short-doc gate
      .select(col("doc_id"),
        shingleHash31s(col("text"), n).as("hs"))
    val evalGrams = grams(evalSet)
      .select(explode(col("hs")).as("sh31")).distinct()
    grams(corpus)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"),
        explode(col("hs")).as("sh31"))
      .join(broadcast(evalGrams), Seq("sh31")) // map-side gram filter
      // per-doc gram hashes are already distinct (ShingleHash31s contract),
      // so the overlap count is a plain count — no distinct aggregation
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
      .withColumn("frac", col("n_overlap").cast("double") / col("n_grams"))
      .select("doc_id", "n_grams", "n_overlap", "frac")
  }

  // ----------------------------------------------------------- text stats

  /** Token/char statistics with integer-exact arithmetic (space counting —
    * identical in any SQL engine; documents are single-space tokenized).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val chars = length(col("text"))
    val spaces = chars - length(regexp_replace(col("text"), " ", ""))
    docs.select(col("doc_id"),
      chars.cast("long").as("n_chars"),
      (spaces + lit(1)).cast("long").as("n_tokens"))
  }

  /** BPE-ish token counting — the second counting mode a training
    * pipeline budgets with (the first is whitespace, [[tokenStats]]):
    * pre-tokenize with a regex over portable character classes (the
    * GPT-2 pre-tokenizer shape, letters / digits / other runs), then
    * bound each piece at `maxPiece` characters the way byte-fallback BPE
    * vocabularies bound merged tokens — so `n_bpe` = Σ ceil(len/maxPiece)
    * over regex pieces. Integer arithmetic end-to-end, so both counts
    * carry an exact SQL twin (the regex is class-alternation only,
    * identical under Java regex and RE2-style engines).
    */
  def tokenBpe(docs: DataFrame, maxPiece: Int = 4): DataFrame = {
    val pieces = regexp_extract_all(col("text"),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]+"), lit(0))
    docs.select(col("doc_id"),
      size(pieces).cast("long").as("n_pieces"),
      aggregate(pieces, lit(0L), (a, w) =>
        a + ((length(w) + lit(maxPiece - 1)) / lit(maxPiece)).cast("long"))
        .as("n_bpe"))
  }

  /** The default BPE merge table: a small deterministic rank-ordered
    * list learned-by-hand for the fixture vocabulary, WELL-FORMED (every
    * pair's components are single characters or outputs of earlier
    * merges), which is the property real learned merge lists have by
    * construction — and under which rank-order exhaustive application
    * equals the classic lowest-rank-first encode loop.
    */
  val defaultBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("e", "r"), ("a", "n"), ("s", "c"),
    ("sc", "an"), ("o", "r"), ("or", "t"), ("a", "t"), ("t", "a"),
    ("s", "m"), ("a", "l"), ("l", "e"), ("b", "at"), ("r", "o"),
    ("w", "i"))

  /** REAL iterative BPE token counting — unlike [[tokenBpe]]'s ceil
    * bound, this APPLIES a merge table: the text is rendered as
    * double-space-delimited symbols (spaces first mapped to `_`, a
    * symbol no merge touches, so merges never cross word boundaries and
    * the delimiter stays unambiguous), then each merge in rank order
    * rewrites `␣x␣␣y␣` → `␣xy␣` — a single non-overlapping left-to-right
    * string replace, which for a delimited symbol stream is exactly the
    * exhaustive application of that merge (the doubled boundary space
    * means consuming a match never starves the next one). n_bpe2 = final
    * symbol count minus the `_` separators. Merge order is load-bearing:
    * a later merge can consume a pair an earlier one produced, so
    * permuting ranks changes counts. Everything is codegen'd string
    * arithmetic with an exact generated SQL twin (the same nested
    * replace chain).
    */
  def tokenBpe2(docs: DataFrame,
      merges: Seq[(String, String)] = defaultBpeMerges): DataFrame = {
    val safe = call_function("replace", col("text"), lit(" "), lit("_"))
    val seed = concat(lit("  "), regexp_replace(safe, "(.)", "$1  "))
    val merged = merges.foldLeft(seed) { case (s, (x, y)) =>
      call_function("replace", s, lit(s" $x  $y "), lit(s" $x$y "))
    }
    val spaces = length(merged) -
      length(call_function("replace", merged, lit(" "), lit("")))
    val seps = length(col("text")) -
      length(call_function("replace", col("text"), lit(" "), lit("")))
    docs.select(col("doc_id"),
      (shiftright(spaces.cast("long"), 1) - lit(1L) - seps.cast("long"))
        .as("n_bpe2"))
  }

  /** Gopher-style repetition-quality statistics (Rae et al. 2021, §A1 —
    * the standard web-corpus repetition filters): per doc, the most
    * frequent word-bigram's multiplicity (`top_bi`), the bigram count,
    * the number of trigram occurrences beyond the first of each distinct
    * trigram (`dup_tri`), and the top-bigram fraction. High `top_bi_frac`
    * marks boilerplate/looping spam; a cleaning pass thresholds on it.
    *
    * Scale shape: every statistic is computed INSIDE its own row — the
    * doc's gram array is sorted and folded for the longest equal run
    * (== max multiplicity), so the operator is a ZERO-shuffle map over
    * the corpus. The alternative (explode to a (doc, gram) stream and
    * count) shuffles ~n_words rows per doc — at 100 TB that exchange is
    * many times the corpus bytes, all to compute doc-local counts. The
    * fraction is one correctly-rounded division of two exact integers,
    * so the DuckDB twin (grouped counts over the same multiset) is
    * bit-exact regardless of its plan.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    def grams(k: Int): Column =
      transform(sequence(lit(0), size(ws) - lit(k)),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(ws, i + lit(j + 1))): _*))
    // longest equal-run in the SORTED gram array == max gram multiplicity
    def maxMult(g: Column): Column = aggregate(
      array_sort(g),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => {
        val run = when(st.getField("prev") === x, st.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    docs
      .where(size(ws) >= 3)
      .select(col("doc_id"),
        (size(ws) - 1).cast("long").as("n_bi"),
        maxMult(grams(2)).as("top_bi"),
        (size(ws) - 2).cast("long").as("n_tri"),
        (size(ws) - 2 - size(array_distinct(grams(3)))).cast("long")
          .as("dup_tri"))
      .withColumn("top_bi_frac", col("top_bi").cast("double") / col("n_bi"))
  }

  /** As-of join — for each left row, the latest right row with the same
    * key and `ts_r <= ts_l` (the classic time-series operator Spark has
    * no native form for; DuckDB spells it `ASOF JOIN`). ONE shuffle and
    * NO range explosion: both sides union tagged, and within each key
    * the running last-non-null right payload — in (ts, side, id) order,
    * right rows sorting before left at equal ts so the match is
    * inclusive — IS the as-of value at every left row. The window
    * machinery does the sort-merge; at 100 TB each row moves once, on
    * the join key, and skew handling is whatever the key's hash
    * partitioning gives (AQE skew-split applies as usual). Ties at
    * identical (key, ts) resolve to the largest right id, pinned by the
    * id in the sort so the result is deterministic on any input.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      leftId: String, rightId: String, rightVal: String): DataFrame = {
    val r = right.select(col(key), col(ts), lit(0).as("side"),
      lit(null).cast("long").as("lid"),
      col(rightId).cast("long").as("rid"), col(rightVal).as("rval"))
    val l = left.select(col(key), col(ts), lit(1).as("side"),
      col(leftId).cast("long").as("lid"),
      lit(null).cast("long").as("rid"),
      lit(null).cast(right.schema(rightVal).dataType).as("rval"))
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("side"), coalesce(col("rid"), col("lid")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("asof_id", last(col("rid"), ignoreNulls = true).over(w))
      .withColumn("asof_val", last(col("rval"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("lid"), col(key), col(ts), col("asof_id"), col("asof_val"))
  }

  /** Gap-based sessionization — split each user's event stream into
    * sessions wherever consecutive events are more than `gapSec` apart
    * (the standard clickstream/log-analytics segmentation). One shuffle,
    * on the natural key: both windows share the same (user, ts, id)
    * partitioning+ordering so Catalyst plans a single exchange + sort and
    * the running sum rides the same sorted run as the lag. Per-user state
    * is one row — no session can span users — so skew is whatever the
    * hottest user's event count is, and AQE's skew split applies. All
    * arithmetic is on microsecond BIGINTs (no float, no truncation to
    * seconds), so the DuckDB twin is bit-exact.
    */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("tus"), 1).over(ord)
    val newSess = when(
      prev.isNull.or(col("tus") - prev > gapSec * 1000000L), 1L)
      .otherwise(0L)
    events
      .select(col("user_id"), col("event_id"),
        // NTZ → TZ cast is a pure reinterpretation under the UTC session
        // zone, so `tus` matches DuckDB's epoch_us on the naive ts exactly
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("ns", newSess)
      .withColumn("sess_idx", sum(col("ns")).over(run))
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        min("tus").as("start_us"),
        (max("tus") - min("tus")).as("dur_us"))
  }

  /** Corpus-frequency rarity score — the unigram-LM quality proxy (the
    * shape of a KenLM/CCNet perplexity filter with the model table built
    * from the corpus itself): pass 1 folds the corpus to per-doc word
    * counts and reduces those to a global frequency table; pass 2 joins
    * the table back and aggregates per doc. A doc of common words scores
    * a high `avg_cf` (keep), word-soup of rare tokens scores low (drop).
    *
    * Scale shape: the explode is immediately collapsed by the partial-
    * aggregating groupBy(doc, word) — the exchange carries distinct words
    * per doc, not tokens — and the frequency table is vocab-sized (Zipf:
    * ~10^7 rows at 10^12 docs), so the join is hash (or broadcast, AQE's
    * call) on `w` with nothing driver-side. Integer sums + one division.
    */
  def rarityScore(docs: DataFrame): DataFrame = {
    // (doc, word) counts feed BOTH the frequency aggregate and the join;
    // materialize once (executor-local blocks, spillable — the
    // bloomFlaggedUserStats pattern) so the corpus is tokenized and
    // partial-aggregated in ONE scan instead of the lineage running twice
    val dw = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val freq = dw.groupBy("w").agg(sum("c").as("cf"))
    dw.join(freq, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("cf")).as("sum_cf"),
        min("cf").as("min_cf"))
      .withColumn("avg_cf", col("sum_cf").cast("double") / col("n_words"))
  }

  /** Deterministic stratified hash sampling — per-language keep rates out
    * of `denom` slots, membership decided by the 31-bit polynomial hash of
    * a stable row key (NOT rand(): re-runs, retries, and different
    * partitionings all select the SAME sample, which is what makes a
    * 100 TB corpus downsample reproducible and resumable). Zero shuffle —
    * a map-side filter in whole-stage codegen; the survivor set is also
    * closed under rate increases (slot < 30 ⊂ slot < 60), so raising a
    * language's rate only ADDS documents — incremental corpus growth
    * never invalidates the already-processed sample.
    */
  def hashSample(docs: DataFrame, rates: Map[String, Int], defaultRate: Int,
      denom: Int = 100): DataFrame = {
    val key = concat(col("lang"), lit(":"), col("doc_id").cast("string"))
    val slot = pmod(polyHash31(key), lit(denom.toLong))
    val rate = rates.toSeq.sortBy(_._1).foldRight(lit(defaultRate.toLong)) {
      case ((l, r), els) => when(col("lang") === l, lit(r.toLong)).otherwise(els)
    }
    docs
      .withColumn("slot", slot)
      .where(col("slot") < rate)
      .select(col("doc_id"), col("lang"), col("slot"))
  }

  /** Inverse-frequency language rebalancing — the multilingual-corpus
    * sampling step (the α→0 limit of mC4/CCNet temperature sampling):
    * each language keeps documents at rate n_min/n_lang, so every language
    * contributes ≈ n_min documents to the balanced sample. The rates are
    * DATA-DEPENDENT — a counting pass whose exchange carries one row per
    * language — broadcast back onto the corpus, where acceptance is a
    * map-side codegen filter. Membership is decided by the 31-bit document
    * hash against an integer fixed-point threshold,
    * `hash < (n_min · P31) div n_lang` — never a float rate — so the
    * selection is bit-reproducible across retries, repartitionings, and
    * engines, and re-running after appending new documents re-selects the
    * same survivors for unchanged counts. The threshold arithmetic is
    * exact while n_min < 2^31 (2 billion documents in the SMALLEST
    * language); beyond that envelope the plan refuses loudly instead of
    * silently wrapping.
    */
  def langBalance(docs: DataFrame): DataFrame = {
    import graft.functions.OracleHash
    // the unpartitioned window runs over the per-language AGGREGATE
    // (≤ #languages rows), not the corpus — one scan, one tiny exchange
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("n_min", min("n_l").over(Window.partitionBy()))
      .withColumn("thr",
        when(col("n_min") >= lit(OracleHash.P31),
          raise_error(concat(lit("langBalance: n_min exceeds the exact "
            + "fixed-point envelope (2^31): "), col("n_min").cast("string")))
            .cast("long"))
          .otherwise(expr(s"(n_min * ${OracleHash.P31}L) div n_l")))
    // the raw polynomial hash CLUSTERS in its high bits on short
    // sequential keys (the prefix dominates; few mod wraps), which a
    // threshold compare reads directly — compose with the affine
    // universal family (a bijection on the field) to scramble position;
    // mod-100 slot tests (hashSample) read LOW digits and don't need it
    val slot = OracleHash.affine(
      polyHash31(concat(lit("bal:"), col("doc_id").cast("string"))),
      OracleHash.permA(97), OracleHash.permB(97))
    docs
      .join(broadcast(counts), "lang")
      .where(slot < col("thr"))
      .select(col("doc_id"), col("lang"))
  }

  /** Sub-document exact dedup at chunk granularity — the paragraph/line
    * dedup pass of published web pipelines (RefinedWeb's line dedup, Lee
    * et al. 2022's substring dedup), expressed over fixed `w`-word chunks
    * because this corpus carries no newline structure. Every chunk keeps
    * exactly its FIRST occurrence in (doc_id, pos) order corpus-wide; a
    * document's surviving text is summarized as (chunk count, kept count,
    * position-weighted hash sum) so the result stays narrow while still
    * pinning WHICH chunks survived WHERE. One shuffle, on the 31-bit chunk
    * hash — the keeper aggregation's own exchange; dedup state is never
    * collected and the first-occurrence rule is deterministic under any
    * partitioning.
    * Documents whose every chunk appeared earlier drop out entirely —
    * exact-duplicate docs are subsumed by this pass for free.
    *
    * The first-occurrence rule is a pure MIN — `min(struct(doc_id, pos,
    * nc))` per chunk hash, lexicographic over the same (doc_id, pos) order
    * the old `row_number` window sorted — so it PARTIAL-AGGREGATES
    * map-side: a corpus-wide hot boilerplate chunk (a cookie banner in
    * 10^10 documents) collapses to ONE row per input partition BEFORE the
    * exchange, instead of serializing every occurrence through a single
    * window task's sort (window exchanges are NOT AQE-skew-splittable —
    * `OptimizeSkewedJoin` applies to joins only). The exchange carries at
    * most one row per (partition, distinct chunk); per-chunk skew is
    * structurally gone, not mitigated (SkewSpec pins this with a chunk
    * duplicated across 30% of docs).
    */
  def chunkDedup(docs: DataFrame, w: Int): DataFrame = {
    val chunks = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nc", expr(s"(size(ws) + ${w - 1}) div $w"))
      .select(col("doc_id"), col("nc"), posexplode(expr(
        s"transform(sequence(0, nc - 1), " +
          s"i -> array_join(slice(ws, i * $w + 1, $w), ' '))")))
      .select(col("doc_id"), col("nc"), col("pos"),
        polyHash31(col("col")).as("ch"))
    chunks
      // keeper per chunk = lexicographic min of (doc_id, pos) — identical
      // to the rn=1 row of ROW_NUMBER() OVER (PARTITION BY ch ORDER BY
      // doc_id, pos) since (doc_id, pos) is unique; nc rides along (it is
      // a function of doc_id, so it never influences the order)
      .groupBy("ch")
      .agg(min(struct(col("doc_id"), col("pos"), col("nc"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.nc").as("nc"),
        col("m.pos").as("pos"), col("ch"))
      .groupBy("doc_id")
      .agg(max("nc").as("n_chunks"),
        count(lit(1)).as("n_kept"),
        sum(col("ch") * (col("pos") + lit(1L))).as("sig"))
  }

  /** Exact heavy hitters (frequent word bigrams) by sketch-then-verify —
    * the vocabulary-scale frequent-items query WITHOUT a full-vocabulary
    * shuffle. Pass 1 folds the bigram stream into one bounded
    * [[graft.functions.MisraGries]] summary per partition (map-side
    * partial aggregation; the exchange carries ≤ `k` counters per
    * partition, not the vocabulary); the merged summary provably contains
    * every bigram with true count > N/(k+1), so with the support threshold
    * T = max(1, N div `denom`) and k+1 > N/T the sketch yields a candidate
    * SUPERSET. Pass 2 broadcast-semi-joins the stream against the
    * candidates and counts exactly — partial aggregation bounds the
    * exchange at ≤ k rows per partition — so the OUTPUT is exact (the
    * sketch's order-dependent estimates never surface). Two scans of the
    * corpus, both shuffle-bounded: the canonical 100 TB frequent-items
    * shape. With denom=1500 and k=4095, T > N/(k+1) holds for every N
    * (for N < 4096, T ≥ 1 > N/4096; above, N div 1500 > N/4096), so the
    * superset guarantee is unconditional.
    */
  def heavyHitters(docs: DataFrame, k: Int = 4095,
      denom: Long = 1500L): DataFrame = {
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      // sequence(0, -1) DESCENDS in Spark: single-word docs (zero bigrams
      // in the twin) must be filtered, not fed to the lambda
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"))
        .as("w"))
    val cand = grams
      .agg(misraGries(col("w"), k).as("sk"), count(lit(1)).as("n"))
      .withColumn("t", greatest(lit(1L), expr(s"n div ${denom}L")))
      .select(col("t"), explode(col("sk")).as("e"))
      .select(col("e.w").as("w"), col("t"))
    grams
      .join(broadcast(cand), "w")
      .groupBy("w", "t").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= col("t"))
      .select(col("w"), col("cnt"))
  }

  /** Bloom-pre-filtered semi-join — the canonical shuffle-reduction
    * pattern for "keep the fact rows whose key is in a derived set": the
    * build side (users with ≥ `minErrors` error events) folds into an
    * m-bit [[graft.functions.BloomAgg]] bitmap (the exchange carries one
    * bitmap per partition, OR-merged; the collected driver value is m/8
    * bytes REGARDLESS of build cardinality — that boundedness is the
    * point), the probe side filters MAP-SIDE in whole-stage codegen
    * before its exchange, and the exact semi-join that follows removes
    * the false positives — so the output is EXACT and the bloom only
    * changes bytes shuffled, never rows returned. False negatives are
    * impossible by construction. At bench scale the exact semi-join
    * broadcasts anyway; at 100 TB, where the flagged set outgrows a
    * row-broadcast, the probe exchange shrinks by the true-match rate
    * (the same job Spark's runtime-filter pushdown does, here explicit,
    * deterministic, and composable with any downstream aggregate).
    */
  def bloomFlaggedUserStats(events: DataFrame, minErrors: Long,
      bits: Int = 1 << 17, hashes: Int = 5): DataFrame = {
    // tiny (≤ distinct users) but derived from a full scan: materialize
    // once, it feeds both the bitmap job and the exact semi-join
    val flagged = events.where(col("event_type") === "error")
      .groupBy("user_id").agg(count(lit(1)).as("n_err"))
      .where(col("n_err") >= lit(minErrors))
      .select("user_id")
      .localCheckpoint(true)
    val bitmap = flagged.agg(bloomAgg(col("user_id"), bits, hashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    events
      .where(bloomMightContain(col("user_id"), bitmap, hashes))
      .join(flagged, Seq("user_id"), "left_semi")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
  }

  /** Semi-structured property extraction — parse a JSON metadata column
    * with an explicit schema (`from_json`, Jackson under the hood: the
    * standard Spark idiom for sidecar metadata on web-crawl records) and
    * fold the typed values into per-type integer stats. The parse is the
    * only non-codegen scalar (Spark's JSON expressions are inherently
    * interpreted); everything above it partial-aggregates map-side, so the
    * exchange carries one row per (event_type, k-decade) — at 100 TB the
    * parse streams through the scan projection and nothing wide shuffles.
    * Malformed rows yield NULL (PERMISSIVE) and are counted, not dropped —
    * silent row loss on a corrupt shard is the classic pipeline bug.
    */
  def jsonProps(events: DataFrame): DataFrame = {
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")
    events
      .select(col("event_type"), k.as("k"))
      // truncated % (not pmod): matches SQL's remainder on negative keys too
      .groupBy(col("event_type"), (col("k") - col("k") % lit(10L))
        .as("k_decade"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
  }

  /** PII detection + redaction — the corpus-hygiene pass every published
    * web-text pipeline runs (emails, phone-shaped digit runs) as pure
    * codegen regex columns: counts come off the ORIGINAL text, then the
    * matches are rewritten to typed placeholder tags, emails first so a
    * digit run inside an address is never double-redacted. Map-side only —
    * no shuffle, no UDF, no data leaves the row — and the redacted text's
    * 31-bit polynomial hash gives the oracle a bit-exact handle on the
    * FULL rewritten string without materializing it in the result.
    */
  val EmailRe = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val red = regexp_replace(
      regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      length(red).cast("long").as("n_chars_red"),
      polyHash31(red).as("red_hash"))
  }

  /** Interval (range) join — match fact rows to every interval containing
    * their timestamp, `start_us <= t < end_us`. Spark has no native range
    * join, and the naive form is a broadcast-nested-loop (every row against
    * every interval). This is the bucketed rewrite: pick a bucket width,
    * each interval replicates to the `len/width + 1` buckets it covers
    * (`sequence` explode), each fact row maps to exactly ONE bucket, and
    * the match becomes a hash equi-join on bucket + a residual containment
    * predicate. A (row, interval) pair can meet in only one bucket — the
    * row's — so no post-join dedup is needed. ONE shuffle, on the bucket
    * key; replication is bounded by interval length over width (tune width
    * to the median length); hot buckets are ordinary join skew that AQE
    * splits. Integer microsecond arithmetic throughout (`div`, never
    * float), so the twin is bit-exact.
    */
  def intervalJoin(facts: DataFrame, tsCol: String,
      intervals: DataFrame, bucketUs: Long): DataFrame = {
    // degenerate intervals (end <= start) contain nothing, but their
    // bucket sequence would DESCEND (Spark's implicit -1 step), paying
    // join fan-out for rows the residual predicate then discards — drop
    // them before the explode
    val iv = intervals
      .where(col("end_us") > col("start_us"))
      .withColumn("bkt",
        explode(sequence(expr(s"start_us div ${bucketUs}L"),
          expr(s"(end_us - 1) div ${bucketUs}L"))))
    facts
      .withColumn("bkt", expr(s"$tsCol div ${bucketUs}L"))
      .join(iv, Seq("bkt"))
      .where(col(tsCol) >= col("start_us") && col(tsCol) < col("end_us"))
      .drop("bkt")
  }

  /** Exact distributed quantiles by value histogram — order statistics
    * WITHOUT a total sort: fold the data to (key, value, count) — the
    * exchange carries the distinct-value histogram, not the rows — then a
    * per-key cumulative sum locates each requested rank. The rank is pure
    * integer arithmetic, `ceil(n·num/den) = (n·num + den - 1) div den` —
    * never `p * n` in floating point, where ceil(0.9 · n) is one off
    * whenever the product rounds up — and the quantile is the smallest
    * value whose cumulative count reaches the rank (percentile_disc
    * semantics: an actual data value, no interpolation arithmetic to
    * disagree on). Right shape when the value domain is discretized
    * (prices, scores, latencies-in-ms): histogram size is the distinct
    * count. For unbounded continuous domains the histogram degenerates to
    * n and a sketch (t-digest) is the approximate alternative — this
    * operator is the EXACT path.
    */
  def exactQuantiles(df: DataFrame, key: String, v: String,
      qs: Seq[(Int, Int)]): DataFrame = {
    val cumW = Window.partitionBy(key).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(key)
    // NULL values are excluded (standard quantile semantics) — they would
    // also sort NULLS FIRST here but NULLS LAST in ANSI window order
    val hist = df.where(col(v).isNotNull)
      .groupBy(col(key), col(v)).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("tot", sum("c").over(totW))
    val aggs = max(col("tot")).as("n") +: qs.map { case (nu, de) =>
      min(when(col("cum") >= expr(s"(tot * $nu + ${de - 1}) div $de"),
        col(v))).as(s"p${nu}_$de")
    }
    hist.groupBy(key).agg(aggs.head, aggs.tail: _*)
  }

  /** Quality scores: exact integer counts plus IEEE-exact ratios. */
  def textQuality(docs: DataFrame): DataFrame = {
    val chars = length(col("text")).cast("long")
    val spaces = (length(col("text")) -
      length(regexp_replace(col("text"), " ", ""))).cast("long")
    val tokens = spaces + lit(1L)
    val theCnt = ((length(col("text")) -
      length(regexp_replace(col("text"), "the", ""))) / lit(3)).cast("long")
    docs.select(col("doc_id"),
      chars.as("n_chars"), tokens.as("n_tokens"),
      ((chars - spaces).cast("double") / tokens).as("avg_tok_len"),
      (theCnt.cast("double") / tokens).as("stop_ratio"))
  }

  /** Language-ID by stopword-profile voting (n-gram-free heuristic: score
    * each language by hits from a tiny characteristic-word list; argmax with
    * lexicographic tiebreak). Deterministic; a real model would slot in at
    * the same typed-map seam.
    */
  val langProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in"),
    "de" -> Set("der", "die", "das", "und", "ist"),
    "fr" -> Set("le", "la", "et", "les", "des"),
    "es" -> Set("el", "la", "los", "que", "y"))

  /** Argmax of per-language stopword hits; ties break to the
    * lexicographically greatest language (a total, deterministic rule).
    * Pure column arithmetic — size(filter(tokens, in-set)) per language,
    * then a descending-language CASE chain — so it stays in whole-stage
    * codegen AND has an exact SQL twin (round 1 used a typed map, which
    * was rows-only for the oracle and paid Dataset ser/deser).
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val score = langProfiles.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isin(ws.toSeq: _*)))
    }
    val langsDesc = langProfiles.keys.toSeq.sorted.reverse
    val best = greatest(langsDesc.map(score): _*)
    val pred = langsDesc.init.foldRight(lit(langsDesc.last)) { (lang, els) =>
      when(score(lang) === best, lit(lang)).otherwise(els)
    }
    docs.select(col("doc_id"), pred.as("pred_lang"))
  }

  /** The composed training-corpus cleaner — the end-to-end shape a 100 TB
    * text pipeline runs nightly: exact dedup (content hash, keep min id) →
    * near-dup removal (MinHash-LSH candidates, exact-verified, keep the
    * smaller id of each pair) → quality gates (length + token bounds) →
    * language allowlist. Every stage is a narrow-key shuffle or a filter;
    * text travels untouched (the byte-identity invariant applies to the
    * survivors).
    */
  def cleanCorpus(
      docs: DataFrame,
      minChars: Int = 50,
      minTokens: Int = 8,
      maxAvgTokLen: Double = 12.0,
      nearDupThreshold: Double = 0.9,
      langs: Seq[String] = Seq.empty): DataFrame = {
    // 1. exact dedup: keep the min doc_id of every identical-text group —
    // a min-over-group window on the text hash (ONE shuffle), not a
    // groupBy + semi-join back onto a re-scanned docs (two shuffles + a
    // second scan). Same keeper rule as exactDupGroups.
    val wDup = Window.partitionBy(md5(col("text").cast("binary")))
    // Materialized ONCE (executor-local blocks, spillable): the deduped
    // corpus feeds five distinct subtrees downstream — the signature pass,
    // the three verify subtrees (each under its own broadcast exchange,
    // which never share work), and the final anti-join's left side — and
    // without the checkpoint each one re-runs the scan + md5 window
    // shuffle from scratch (measured: 24 jobs / 4.1 s at sf0.1, ~5 window
    // recomputes). One bounded materialization of the survivors is the
    // multi-consumer-intermediate pattern at any scale; this is NOT the
    // round-2 mistake of checkpointing the exploded shingle table (a
    // ~30× blow-up) — it is the corpus itself, strictly smaller than the
    // input.
    val exactDeduped = docs
      .withColumn("k_", min("doc_id").over(wDup))
      .where(col("doc_id") === col("k_")).drop("k_")
      .localCheckpoint(true)
    // 2. near-dup removal: drop the larger id of each verified pair.
    // 32 perms / 8 bands of 4: P(miss) at J=0.9 is (1-0.9^4)^8 ≈ 2e-4 —
    // the 16/4 default misses ~1.4% of strong pairs, which a cleaner
    // cannot afford.
    val losers = minhashLshPairs(exactDeduped, threshold = nearDupThreshold,
        numPerms = 32, bands = 8)
      .select(col("b").as("doc_id")).distinct()
    val nearDeduped = exactDeduped.join(losers, Seq("doc_id"), "left_anti")
    // 3. quality gates: per-row COLUMN predicates (textQuality's exact
    // arithmetic), inlined — the metrics need no aggregation, so the old
    // compute-then-semi-join paid a join for a filter
    val chars = length(col("text")).cast("long")
    val spaces = (length(col("text")) -
      length(regexp_replace(col("text"), " ", ""))).cast("long")
    val tokens = spaces + lit(1L)
    val qualified = nearDeduped.where(
      chars >= minChars && tokens >= minTokens &&
        ((chars - spaces).cast("double") / tokens) <= maxAvgTokLen)
    // 4. language allowlist (empty = keep all)
    if (langs.isEmpty) qualified
    else qualified.where(col("lang").isin(langs: _*))
  }

  // ------------------------------------------------------------------ ANN

  /** Brute-force top-k inner-product search with floor-scaled integer
    * arithmetic — bit-exact in any engine, so it carries the DuckDB oracle.
    * `queries` rows are flagged by a predicate on vec_id; ranking tiebreak
    * is (dot DESC, id).
    */
  def annTopKInt(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val qe = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * lit(1000.0)).cast("long")).as("qe"))
    val de = emb.select(col("vec_id").as("id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(1000.0)).cast("long")).as("de"))
    val dot = dotLL(col("qe"), col("de"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("id"))
    qe.crossJoin(de)
      .select(col("qid"), col("id"), dot.as("dot"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Brute-force cosine top-k (float path, rows-only check): exact ranking
    * for the data at hand; the IEEE-sum order is fixed (array order) but not
    * oracle-portable.
    */
  def annCosine(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    def norm(v: Column): Column = sqrt(dotFF(v, v))
    val qe = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val de = emb.select(col("vec_id").as("id"), col("embedding").as("de"),
      norm(col("embedding")).as("dn"))
    val dot = dotFF(col("qe"), col("de"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    qe.crossJoin(de)
      .select(col("qid"), col("id"),
        (dot / (col("qn") * col("dn"))).as("cos"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Scale path: random-hyperplane LSH (vector SimHash). Each vector gets a
    * `nBits`-bit bucket per hash table from sign(v · h_j) against
    * deterministic hyperplanes (OracleHash constants, baked as literals in
    * both the Spark plan and the SQL oracle); probing is restricted to
    * same/near-bucket vectors, so the pair blowup is bounded by bucket
    * occupancy — the 100 TB answer to the brute-force crossJoin.
    */
  def annLshBuckets(emb: DataFrame, nBits: Int = 8, table: Int = 0,
      dims: Int = 64): DataFrame =
    emb.select(col("vec_id"),
      bucketCol(col("embedding"), nBits, table, dims).as("bucket"))

  /** The nBits-bit LSH bucket of a float-vector column (one hash table). */
  def bucketCol(v: Column, nBits: Int, table: Int, dims: Int): Column = {
    import graft.functions.OracleHash
    val bits = (0 until nBits).map { j =>
      val cs = OracleHash.hyperplane(table, j, dims)
      val dot = dotFD(v, typedlit(cs.toSeq))
      when(dot >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Floor-scaled integer vector (the oracle-exact embedding domain). */
  private def intVec(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  // ------------------------------------------- exact IVF-pruned ANN top-k

  /** EXACT top-k inner-product search through a coarse IVF index — the
    * guaranteed-recall scale path (output bit-identical to [[annTopKInt]],
    * so it shares that oracle). The sphere analog of the grid kNN's
    * two-pass bound design (SpatialOps.knnJoin), which itself mirrors the
    * reference's bound-pruned nearest_neighbor descent
    * (rstar/src/algorithm/nearest_neighbor.rs:232-295):
    *
    *   Index: nClusters centers, the lowest-id vectors as seeds. Every
    *   vector joins its max-dot center; per cluster keep (center, size,
    *   R = max ||v - c||) — by Cauchy-Schwarz, for any query q and any
    *   member v of cluster c: q·v ≤ q·c + ||q||·R_c (the bound; valid for
    *   ANY center, so better centers would only tighten the pruning, never
    *   change a result — center arithmetic is double-rounded and the
    *   bound carries relative + absolute pads that dominate the ≤64-term
    *   accumulation error by 5 orders).
    *
    *   Pass A: each query probes just enough top-bound clusters to hold
    *   ≥ k members; the exact k-th best dot among them, dk, is a lower
    *   bound on the true k-th best.
    *   Pass B: probe every cluster with bound ≥ dk — no true top-k member
    *   can hide elsewhere — and the window top-k over those candidates is
    *   exact (ranking dots stay INTEGER-exact; only bounds are floats).
    *
    * All stages are DataFrame plans (broadcast cluster stats, cell-style
    * equi-joins, WindowGroupLimit top-k); nothing is collected. Pruning
    * power scales with how clustered the corpus is (random vectors are the
    * worst case; real embedding corpora cluster hard — AnnSpec asserts the
    * pruning ratio on a clustered fixture).
    */
  def annIvfTopK(emb: DataFrame, nQueries: Int, k: Int,
      nClusters: Int): DataFrame =
    annIvfPassB(emb, nQueries, k, nClusters)._1

  /** [[annIvfTopK]] plus its pass-B candidate stream (pre-ranking), so
    * specs can assert the pruning ratio without duplicating the plan.
    */
  private[graft] def annIvfPassB(emb: DataFrame, nQueries: Int, k: Int,
      nClusters: Int): (DataFrame, DataFrame) = {
    val vecs = emb.select(col("vec_id").as("id"), intVec(col("embedding")).as("v"))
    // Deterministic centers: the nClusters lowest-id vectors, as doubles.
    val centers = vecs.orderBy("id").limit(nClusters)
      .select((row_number().over(Window.orderBy("id")) - 1).as("cluster"),
        transform(col("v"), x => x.cast("double")).as("cv"))
    // Assignment: argmax dot(v, center); ties to the lowest cluster id.
    // max_by over (cdot, -cluster) instead of a row_number window: the
    // hash aggregate partial-combines MAP-SIDE, so the shuffle carries n
    // rows instead of the n×nClusters cross-join output the window sorted.
    // Materialized ONCE: it feeds stats, the pass-A dk probe, and the
    // pass-B candidate join, and without pinning each use re-runs the
    // assignment. At 100 TB this is precisely the IVF index a real
    // deployment WRITES (cluster-id per vector, bucketed by cluster);
    // localCheckpoint is the single-job stand-in for that index build.
    val assigned = vecs.crossJoin(broadcast(centers))
      .withColumn("cdot", dotLD(col("v"), col("cv")))
      .groupBy("id")
      .agg(max_by(struct(col("cluster"), col("v"), col("cv")),
        struct(col("cdot"), (-col("cluster")).as("nc"))).as("m"))
      .select(col("m.cluster").as("cluster"), col("id"),
        col("m.v").as("v"), col("m.cv").as("cv"))
      .localCheckpoint(true)
    // Cluster stats: size + conservative member radius (padded sqrt).
    val stats = assigned
      .withColumn("r",
        sqrt(dist2LD(col("v"), col("cv"))) * lit(1.0 + 1e-9) + lit(1e-6))
      .groupBy("cluster")
      .agg(count(lit(1)).as("csize"), max("r").as("rc"), first("cv").as("cv"))
    // Queries with conservative norms; bounds vs every cluster (the cluster
    // table is the broadcast-size analog of the grid histogram).
    val qn = sqrt(dotLL(col("qv"), col("qv")).cast("double")) *
      lit(1.0 + 1e-12) + lit(1e-9)
    val bounds = vecs.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("v").as("qv"))
      .withColumn("qnorm", qn)
      .crossJoin(broadcast(stats))
      .withColumn("bound",
        (dotLD(col("qv"), col("cv")) +
          col("qnorm") * col("rc")) * lit(1.0 + 1e-9) + lit(1.0))
      .select("qid", "qv", "cluster", "csize", "bound")
    // Pass A: minimal top-bound prefix holding >= k members.
    val wBound = Window.partitionBy("qid").orderBy(col("bound").desc, col("cluster"))
    val prefixed = bounds.withColumn("before",
      coalesce(sum("csize").over(wBound.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val passA = prefixed.where(col("before") < k)
    val members = assigned.select(col("cluster"), col("id"), col("v"))
    val wTop = Window.partitionBy("qid").orderBy(col("dot").desc, col("id"))
    val dk = passA.join(members, Seq("cluster"))
      .withColumn("dot", dotLL(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wTop))
      .where(col("rn") <= k)
      .groupBy("qid").agg(min("dot").as("dk"))
    // Pass B: every cluster whose bound can still beat dk; window = exact.
    val passB = bounds.join(dk, Seq("qid"))
      .where(col("bound") >= col("dk").cast("double"))
    val candB = passB.join(members, Seq("cluster"))
    val result = candB
      .withColumn("dot", dotLL(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("id"), col("dot"), col("rn"))
    (result, candB.select("qid", "id"))
  }

  // ------------------------------------------- multiprobe LSH ANN top-k

  /** Bucketed ANN top-k, end-to-end: `tables` independent LSH hash tables,
    * multi-probe expansion to every bucket within Hamming distance
    * `hamming` of the query's bucket (flip ≤ `hamming` bits), bucket
    * equi-join, candidate dedup, exact integer-dot ranking, window top-k
    * merge. Approximate by design — recall depends on how clustered the
    * data is (asserted in PipelineSpec on a clustered fixture;
    * [[annIvfTopK]] is the guaranteed-exact path). Every stage is a
    * narrow-key equi-join: nothing quadratic, nothing collected.
    */
  def annLshTopK(emb: DataFrame, nQueries: Int, k: Int, nBits: Int = 8,
      tables: Int = 4, hamming: Int = 2, dims: Int = 64): DataFrame = {
    val withBuckets = emb.select(
      (col("vec_id").as("id") +: intVec(col("embedding")).as("v") +:
        (0 until tables).map(t =>
          bucketCol(col("embedding"), nBits, t, dims).as(s"b$t"))): _*)
    val data = withBuckets.select(col("id"), col("v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), col(s"b$t").as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("v"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val masks = (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= hamming)
      .map(_.toLong)
    val probes = withBuckets.where(col("id") < nQueries)
      .select(col("id").as("qid"), col("v").as("qv"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), col(s"b$t").as("qb"))): _*)).as("tb"))
      .select(col("qid"), col("qv"), col("tb.t").as("t"), col("tb.qb").as("qb"),
        explode(typedlit(masks)).as("mask"))
      .withColumn("bucket", col("qb").bitwiseXOR(col("mask")))
      .select("qid", "qv", "t", "bucket")
    val cand = probes.join(data, Seq("t", "bucket"))
      .select("qid", "qv", "id", "v")
      .dropDuplicates("qid", "id")
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("id"))
    cand.withColumn("dot", dotLL(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select("qid", "id", "dot", "rn")
  }

  // ------------------------------------------ exact embedding-dup join

  /** Exact integer-dot threshold self-join, distributed: vectors are
    * grouped into fixed-size blocks, block PAIRS (bi ≤ bj) are joined, and
    * a fused primitive loop scans each block pair. This replaces round 1's
    * driver-side collect + O(n²) loop: the same inherent O(n²) work — an
    * EXACT threshold join at cos ≈ 0.45 admits no sub-quadratic candidate
    * generation (measured: the driver corpus' qualifying pairs sit at
    * cos 0.45-0.60 where hyperplane LSH collides on ~65%/bit, making LSH
    * candidates ≈ the full pair set) — but sharded as (n/B)²/2 independent
    * block-pair tasks with bounded memory (2 blocks per task), the shape
    * that scales out. High-cosine regimes should use [[minhashLshPairs]]-
    * style banding or [[annIvfTopK]] instead.
    */
  def embedDupPairs(emb: DataFrame, threshold: Long,
      blockSize: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val blocks = emb
      .select((col("vec_id") / blockSize).cast("int").as("bid"),
        col("vec_id").as("id"), intVec(col("embedding")).as("v"))
      .as[(Int, Long, Array[Long])]
      .groupByKey(_._1)
      .mapGroups { (bid, it) =>
        val rows = it.toArray.sortBy(_._2)
        val ids = rows.map(_._2)
        val dims = rows(0)._3.length // dimensionality from the data itself
        val flat = new Array[Long](rows.length * dims)
        var i = 0
        while (i < rows.length) {
          require(rows(i)._3.length == dims,
            s"ragged embedding: ${rows(i)._3.length} vs $dims")
          System.arraycopy(rows(i)._3, 0, flat, i * dims, dims); i += 1
        }
        (bid, ids, flat)
      }
    val pairs = blocks.toDF("bid", "ids", "flat").as("l")
      .join(blocks.toDF("bid", "ids", "flat").as("r"),
        col("l.bid") <= col("r.bid"))
      .select(col("l.bid").as("lb"), col("l.ids").as("lids"),
        col("l.flat").as("lf"), col("r.bid").as("rb"),
        col("r.ids").as("rids"), col("r.flat").as("rf"))
      .as[(Int, Array[Long], Array[Long], Int, Array[Long], Array[Long])]
    pairs.flatMap { case (lb, lids, lf, rb, rids, rf) =>
      val same = lb == rb
      val dims = lf.length / lids.length
      require(rf.length / rids.length == dims,
        s"cross-block dim mismatch: ${rf.length / rids.length} vs $dims")
      val out = Vector.newBuilder[(Long, Long, Long)]
      var i = 0
      while (i < lids.length) {
        var j = if (same) i + 1 else 0
        while (j < rids.length) {
          var dot = 0L
          var d = 0
          val io = i * dims; val jo = j * dims
          while (d < dims) { dot += lf(io + d) * rf(jo + d); d += 1 }
          if (dot >= threshold) {
            val (a, b) =
              if (lids(i) < rids(j)) (lids(i), rids(j)) else (rids(j), lids(i))
            out += ((a, b, dot))
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("a", "b", "dot")
  }
}
