package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * - [[bruteForceTopK]] is the exact baseline: broadcast the (small) query
  *   set, one scan of the corpus, per-row dot products via zip_with/aggregate,
  *   then a two-phase bounded-heap top-k aggregate ([[graft.sketch
  *   .TopKPairsAgg]]). Partial aggregation keeps ≤k pairs per query per input
  *   partition, so the shuffle carries k·|queries|·|partitions| 16-byte pairs
  *   — never the |corpus|×|queries| scored cross product.
  * - [[hyperplaneBuckets]] is the scale path (LSH/IVF-style): deterministic
  *   seeded random hyperplanes → sign-bit bucket id; ANN probes compare only
  *   within the query's bucket, turning 10^12-row scans into bucket lookups.
  */
object Similarity {

  /** dot(a, b) over array<float/double> columns — zip_with + aggregate,
    * no UDF. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Pure-Column spec of [[cosine]] — kept as the readable reference; the
    * hot paths use the native one-pass kernel below (bit-identical, see
    * sketch.CosineSim's Scaladoc). */
  def cosineSpec(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity via the codegen'd one-pass sketch.CosineSim kernel —
    * the `aggregate(zip_with(...))` spelling evaluated three interpreted
    * CodegenFallback HOF aggregates per pair and disabled whole-stage
    * codegen for the scoring projection. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.sketch.CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Final top-k of a scored (query_id, vec_id, cosine) table via the
    * bounded-heap aggregate: partial top-k per input partition (map-side
    * combine), k-merge on the reduce side, rank = position in the sorted
    * result array. */
  private[ops] def topKOfScored(scored: DataFrame, k: Int): DataFrame = {
    graft.sketch.TopKPairsAgg.register(scored.sparkSession)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_pairs(cosine, vec_id, $k)").as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact top-k cosine neighbours for each query vector.
    * Output: (query_id, vec_id, cosine, rank), rank 1..k by cosine desc,
    * ties by vec_id asc. */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
    val c = corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("cv"))
    val scored = c.join(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qv"), col("cv")).as("cosine"))
    topKOfScored(scored, k)
  }

  /** Deterministic seeded hyperplanes (dim × planes), generated driver-side
    * once and shipped as a literal — no data-dependent state. */
  def planes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** (id, bucket) — sign-bit LSH bucket of each vector. */
  def hyperplaneBuckets(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val ps = planes(dim, nPlanes, seed)
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      when(dot(col(vecCol), typedLit(p)) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    df.select(col(idCol).as("id"), bucket.as("bucket"))
  }

  /** Multi-table LSH bucket ids: (id, table, bucket) — one row per table,
    * each table using independently-seeded hyperplanes. Standard LSH recall
    * amplification: a true neighbour is found if it collides in ANY table.
    * Buckets come from the one-pass codegen'd sketch.HyperplaneSigs kernel
    * (bit-identical to the pure-Column `dot(vec, typedLit(plane)) > 0`
    * formulation, which evaluated interpreted HigherOrderFunctions
    * nTables×planesPerTable times per row). */
  def lshTables(df: DataFrame, idCol: String, vecCol: String,
      nTables: Int, planesPerTable: Int, dim: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sigs = ColumnBridge.column(graft.sketch.HyperplaneSigs(
      ColumnBridge.expression(col(vecCol)), nTables, planesPerTable, dim, seed))
    df.select(col(idCol).as("id"), posexplode(sigs))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
  }

  /** Deterministic farthest-point (k-center greedy) seeding over a small
    * hash sample: one seed per direction-cluster regardless of cluster MASS
    * — the property a plain ∝-mass sample lacks. Driver cost is
    * O(sample·nCells·dim) flops on sample·dim doubles. */
  private[ops] def farthestPointSeeds(
      sample: Array[Array[Double]], nCells: Int): Seq[Seq[Double]] = {
    if (sample.isEmpty) return Seq.empty
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    val units = sample.map(unit)
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val minDist = Array.fill(sample.length)(Double.MaxValue)
    while (chosen.size < math.min(nCells, sample.length)) {
      val last = units(chosen.last)
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        var dot = 0.0
        var j = 0
        while (j < last.length) { dot += units(i)(j) * last(j); j += 1 }
        val d = 1.0 - dot // angular distance to the latest seed
        if (d < minDist(i)) minDist(i) = d
        if (minDist(i) > bestD) { bestD = minDist(i); best = i }
        i += 1
      }
      chosen += best
    }
    chosen.map(sample(_).toSeq).toSeq
  }

  /** IVF (inverted-file) ANN top-k. Centroid seeding is farthest-point over
    * a deterministic hash sample of the corpus, refined by `lloydIters`
    * Lloyd iterations run as DataFrame aggregations over the cached fit
    * sample: assign each vector to its nearest cell (codegen'd
    * sketch.IvfCells), per-cell mean via posexplode + groupBy(cell, dim) —
    * the only driver-side state is nCells·dim doubles per iteration,
    * shipped back inside the expression. A raw ∝-mass sample leaves small
    * clusters uncovered and their neighbourhoods scatter, collapsing recall
    * (recall test in OpsSpec). Every corpus vector takes its single nearest
    * cell; each query probes its `nprobe` nearest cells; exact cosine +
    * bounded-heap top-k within the probed cells. Scale shape: centroids
    * broadcast, corpus shuffles once on cell id (or is bucketed by it at
    * write time), each query touches ~nprobe/nCells of the corpus instead
    * of scanning it; fitting cost is bounded by `fitCap` regardless of
    * corpus size. */
  /** Deterministic, partition-count-independent fit sample of ~fitCap rows
    * via a hash-THRESHOLD filter — scan + filter only, NO global sort and no
    * single-reducer fan-in (the previous `orderBy(h).limit(fitCap)` was a
    * TakeOrdered that shuffled up to nPartitions·fitCap rows into ONE task —
    * terabytes at 10^5 input partitions). The hash is xxhash64 of the row
    * ID: cheap (no to_json serialization of the vector on the full scan)
    * and stable under repartitioning. Threshold sizing comes from one cheap
    * `count()` (column-pruned; satisfied from footer metadata on
    * parquet/Iceberg): keep rows with h below ≈1.25·fitCap/n of the hash
    * range, so the sample lands in [fitCap, 1.25·fitCap] w.h.p. — bounded
    * fitting cost either way. Below the cap the sample IS the corpus. */
  private[graft] def fitSample(corpus: DataFrame, corpusId: String,
      corpusVec: String, fitCap: Int): DataFrame = {
    val proj = corpus.select(col(corpusVec).cast("array<double>").as("v"),
      xxhash64(col(corpusId)).as("h"))
    val n = corpus.select(col(corpusId)).count()
    val frac = if (n == 0) 1.0 else 1.25 * fitCap / n
    if (frac >= 1.0) proj
    else {
      // unsigned threshold on the signed hash: MinValue + frac·2^64
      val cut = (BigInt(Long.MinValue) +
        (BigDecimal(2).pow(64) * BigDecimal(frac)).toBigInt).toLong
      proj.where(col("h") < lit(cut))
    }
  }

  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nCells: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 2, spreadSeeds: Boolean = true,
      fitCap: Int = 131072): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // Fit centroids on a CAPPED deterministic hash-sample: at 10^12 rows
    // sweeping the full corpus per Lloyd iteration would cost lloydIters
    // extra full scans for no statistical gain — ~fitCap rows bound the
    // fitting cost regardless of corpus size, and the one full-corpus scan
    // left is the final cell assignment. (Below the cap the sample IS the
    // corpus, so small-scale results are unchanged.)
    //
    // The fit set is collected ONCE and seeding + Lloyd run in driver
    // memory: the previous shape (persist + TakeOrdered seed collect + one
    // aggregate JOB per Lloyd sweep) paid persist materialization plus
    // 1+lloydIters scheduler round-trips over data that is BOUNDED at
    // ≤1.25·fitCap rows by construction (≈67 MB of doubles at the 131k
    // default and dim 64 — the same driver-sized budget that already
    // justified collecting the 512-seed sample and per-sweep means).
    // Seed order (ascending xxhash64 of the to_json'd vector — id-
    // independent) and the per-sweep mean/assignment arithmetic replicate
    // the distributed formulation; output equivalence at sf0.001/0.01/0.1
    // is pinned by the ivf oracle + OpsSpec recall tests (summation order
    // inside a mean can differ in the last ulp, which the rank-based
    // output provably tolerates — the distributed avg's own merge order
    // was never deterministic to begin with).
    val fitLocal: Array[(Long, Array[Double])] =
      fitSample(corpus, corpusId, corpusVec, fitCap)
        .select(col("v"), xxhash64(to_json(col("v"))).as("sh"))
        .collect().map(r => (r.getLong(1), r.getSeq[Double](0).toArray))
    // every fit vector must share one length: a ragged fit set has no
    // well-defined nearest cell, so fail loudly instead of truncating
    val dim = if (fitLocal.isEmpty) 0 else fitLocal(0)._2.length
    fitLocal.foreach { case (_, x) => require(x.length == dim,
      s"ragged fit vectors: lengths $dim and ${x.length}") }
    val sampleN = if (spreadSeeds) math.max(nCells, 512) else nCells
    val sample: Array[Array[Double]] =
      fitLocal.sortBy(_._1).take(sampleN).map(_._2)
    var centroids: Seq[Seq[Double]] =
      if (spreadSeeds) farthestPointSeeds(sample, nCells)
      else sample.take(nCells).map(_.toSeq).toSeq
    def cells(vec: String, p: Int) = ColumnBridge.column(
      graft.sketch.IvfCells(ColumnBridge.expression(col(vec)), centroids, p))
    for (_ <- 1 to lloydIters) {
      // nearest cell per fit vector — the same normalize/dot/tie-break
      // arithmetic as sketch.IvfCells (cosine argmax, ties to the lowest
      // cell index), then per-cell per-dimension means
      val cents: Array[Array[Double]] = centroids.map { c =>
        val a = c.toArray
        val n = math.sqrt(a.map(x => x * x).sum)
        if (n == 0) a else a.map(_ / n)
      }.toArray
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      fitLocal.foreach { case (_, x) =>
        var bestCell = 0
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val ct = cents(c)
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += x(j) * ct(j); j += 1 }
          if (acc > bestScore) { bestScore = acc; bestCell = c }
          c += 1
        }
        val s = sums(bestCell)
        var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
        cnts(bestCell) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (cnts(c) == 0) old // empty cell keeps its centroid
        else sums(c).map(_ / cnts(c)).toSeq
      }
    }
    val cb = corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("cv"))
      .withColumn("cell", get(cells("cv", 1), lit(0)))
    val qb = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .withColumn("cell", explode(cells("qv", nprobe)))
    val scored = cb.join(broadcast(qb), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qv"), col("cv")).as("cosine"))
    topKOfScored(scored, k)
  }

  /** ANN top-k via multi-table hyperplane LSH: candidates are corpus vectors
    * sharing a (table, bucket) cell with the query in any of `nTables`
    * tables, then exact cosine within candidates and the same bounded-heap
    * top-k as [[bruteForceTopK]]. Compared-pair count drops by
    * ~2^planesPerTable/nTables vs brute force. */
  def annTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nPlanes: Int = 4, dim: Int = 64,
      nTables: Int = 8): DataFrame = {
    val cb = lshTables(corpus, corpusId, corpusVec, nTables, nPlanes, dim)
      .withColumnRenamed("id", "vec_id")
      .join(corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("cv")), Seq("vec_id"))
    val qb = lshTables(queries, queryId, queryVec, nTables, nPlanes, dim)
      .withColumnRenamed("id", "query_id")
      .join(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")), Seq("query_id"))
    // score BEFORE deduplicating multi-table collisions: cosine is
    // deterministic per pair, so the dedup exchange carries 24-byte
    // (query_id, vec_id, cosine) rows instead of two dim-sized vectors per
    // candidate pair (a plan assert in OpsSpec pins "no array column
    // crosses an exchange")
    val scored = cb.join(broadcast(qb), Seq("table", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
      .dropDuplicates("query_id", "vec_id")
    topKOfScored(scored, k)
  }
}
