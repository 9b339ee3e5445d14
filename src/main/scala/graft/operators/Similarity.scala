package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.{GraftColumns => U}
import graft.{QueryPack, Tables => T}
import graft.functions.VectorFunctions._
import graft.functions.{CentroidExpressions => CE}

/** Similarity search over the `embeddings` table (north-star surface).
  *
  * Scale design: vectors are L2-normalized ONCE (a narrow projection), so
  * every pairwise step is a single dot product. The brute-force top-k is the
  * correctness baseline; the IVF variant is the 100 TB path — TRAIN a
  * k-means coarse quantizer ([[kmeansCentroids]], driver state O(k·d)
  * only), partition the corpus by learned cell, rank centroids per query,
  * and scan only `nprobe` cells (at scale: write `partitionBy(cell)` once
  * after training, so probes become partition-pruned scans).
  *
  * Verification model: the approximate operators (IVF s02, LSH-ANN s04,
  * LSH-dup s05) produce engine-specific result sets (they depend on
  * xxhash64-derived hyperplanes), so their driver-checked queries emit
  * VERDICT rows over engine-agnostic properties (the q24 pattern): exact
  * counts the DuckDB oracle recomputes independently, plus recall gates
  * against the exact baselines computed in the same plan. The raw top-k /
  * pair DataFrames stay available as methods (`ivfTopK`, `lshTopK`,
  * `approxDupPairs`) for library use and the LshAnnSpec quality gates.
  */
object Similarity extends QueryPack {

  private val K = 5
  private val NQ = 10 // query vectors: vec_id < NQ
  private val CELLS = 8 // IVF coarse cells (k-means k)
  private val KM_ITERS = 4 // Lloyd's iterations (fixed, deterministic)
  private val NPROBE = 3
  private val DUP_T = 0.4 // near-dup cosine threshold (s03/s05)
  private val FUSE_NQ = 3 // s16: hybrid queries 0..2 (= Bm25Queries ids)
  private val FUSE_L = 20 // s16: per-arm fusion depth
  private val RRF_K0 = 60 // s16: RRF dampening constant (Cormack '09)
  private val FILTER_LABEL = 3 // s17: attribute predicate (43+ members at every sf)

  /** Run independent driver-side build phases (trainings, counts,
    * artifact loads) CONCURRENTLY — Spark's scheduler happily runs the
    * phases' jobs side by side, and their Catalyst planning (the real
    * fixed cost of these tiny-collect loops) overlaps too (optimization
    * guide §2.6: overlap independent jobs so one phase's stragglers
    * back-fill the other's idle capacity). Each phase is internally
    * sequential, so results are bit-identical to the serial order.
    * `SparkSession.active` is thread-local — re-pin it on the worker
    * thread for the broadcast-building centroid expressions.
    */
  /** Dedicated pool for the overlap phases. NOT the global ForkJoinPool:
    * that pool is JVM-wide and bounded, so blocking build phases risk
    * starving unrelated users (and in round 21 the session thread-locals
    * leaked onto its shared threads poisoned other suites — the
    * MergeDifferentialSpec NPE). Daemon threads; small and fixed — 2-3
    * concurrent jobs is enough to back-fill a straggler tail (§2.6).
    */
  private lazy val buildPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(6,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-build-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Run one phase on [[buildPool]] with the caller's session pinned as
    * the worker thread's active session for the duration, restoring the
    * thread's prior state in a finally so nothing leaks across tasks. */
  private def phase[A](s: SparkSession)(f: => A): scala.concurrent.Future[A] =
    scala.concurrent.Future {
      val prior = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try f finally prior match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None => SparkSession.clearActiveSession()
      }
    }(buildPool)

  private def inParallel[A, B](s: SparkSession, fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val f1 = phase(s)(fa)
    val f2 = phase(s)(fb)
    (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf))
  }

  /** Persist the corpus frame for the duration of a TRAINING window — the
    * seed collect, every Lloyd round, and the corpus count each re-ran the
    * parquet scan + normalization (5-11 full passes per index build) —
    * then unpersist BEFORE the query frame is returned. Nothing cached
    * here is referenced by the returned plan (physical planning happens at
    * action time, after the unpersist), so the shared CacheManager is
    * empty after the query (`cache_up_after` stays 0 — no state crosses
    * bench reps) and the returned frame's plan is byte-identical to the
    * uncached one. Results are bit-identical: the InMemoryRelation
    * materializes the same scan partitions in the same row order, so the
    * `spark_partition_id`-keyed deterministic folds in [[lloydMeans]] /
    * [[pqCodebooks]] see exactly the same (pid, order) stream
    * (KMeansSpec/PqSpec pin the fold). Guide §5: cache only what is
    * re-read several times, only for as long as it is.
    */
  private def withTrainCache[A](base: DataFrame)(f: => A): A = {
    base.persist()
    try f finally { base.unpersist(); () }
  }

  /** (vec_id, v, nrm): unit work done once. */
  private def normed(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    T.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"),
        col("label"))
      .withColumn("nrm", l2norm(col("v")))
  }

  /** Brute-force exact top-k. The QUERY side broadcasts (it is the small
    * side by construction) and the corpus streams partition-local — the
    * scale-correct orientation even for this declared O(n·q) baseline.
    * The rank-filter window compiles to WindowGroupLimit: each partition
    * keeps its local top-k per query before the 10-key shuffle, so the
    * shuffle moves O(partitions · q · k) rows, not the scored corpus.
    */
  private def bruteTopK(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    val q = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = base.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  // ---------------------------------------------------------------- k-means

  private def l2normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Argmax-cosine cell assignment as a PURE PROJECTION — map-only, no
    * join, no shuffle, no broadcast EXCHANGE. Centroid state travels as a
    * broadcast VARIABLE consumed by one codegen'd expression
    * (`CentroidExpressions.NearestCentroid`): the plan carries a block-id
    * handle, each executor fetches the O(k·d) codebook once, and codegen
    * size is O(1) in k — at a production k=4096 the former
    * literal-unrolled form (k typedLit dot products per row) bloated
    * every task binary and codegen unit with the full codebook
    * (CentroidPlanSizeSpec pins the bound; round-10 verdict #5). Ties
    * break to the lowest cell id, exactly like the literal struct
    * ordering (CentroidExprSpec pins parity).
    *
    * `v` need not be normalized: centroids are unit vectors, so
    * argmax_j dot(v, c_j) = argmax_j cos(v, c_j).
    */
  private[graft] def cellExpr(cents: Array[Array[Double]], v: Column): Column =
    U.column(CE.NearestCentroid(
      SparkSession.active.sparkContext.broadcast(cents), euclid = false,
      U.expression(v)))

  /** Top-`nprobe` closest cells per vector, same broadcast-centroid
    * projection: descending dot, ties to the lower cell id — still
    * map-only.
    */
  private[graft] def probeCellsExpr(cents: Array[Array[Double]], v: Column,
      nprobe: Int): Column =
    U.column(CE.ProbeCells(
      SparkSession.active.sparkContext.broadcast(cents), nprobe,
      U.expression(v)))

  /** Upper bound on partial-sum rows per (cell, pos) key that reach the
    * driver: per-partition partials are reduced to ≤ this many contiguous
    * pid-blocks first ([[blockPartials]]), so driver state per Lloyd
    * iteration is O(k·d·COMBINE_BLOCKS) regardless of input partition
    * count — at 100 TB (~10⁵–10⁶ partitions) the old O(k·d·P) collect
    * would be GBs of driver heap; this keeps it a few MB.
    */
  private[operators] val COMBINE_BLOCKS = 64

  /** Deterministically reduce per-(keys, pid) partial FP sums to
    * per-(keys, block) partials, blocks = ≤ [[COMBINE_BLOCKS]] CONTIGUOUS
    * pid ranges. In-block combination folds in ascending-pid order
    * (`sort_array` fixes `collect_list`'s arrival order; `aggregate` folds
    * sequentially from 0.0), and the driver then combines blocks in
    * ascending order — a FIXED fold tree, so the result is deterministic
    * run to run (the property the at-rest IVF layout s07 relies on;
    * KMeansSpec pins the fold order against a driver-side reference),
    * while the driver collect shrinks from O(keys·P) rows to
    * O(keys·COMBINE_BLOCKS). The block grouping rounds differently from a
    * FLAT sorted-pid fold — FP addition is non-associative — but every
    * grouping is an equally valid sum; what matters is that THIS one is
    * reproducible. Counts (`c`) use a plain `sum` — integer addition is
    * associative, order is irrelevant.
    *
    * Input must have columns `keys… , pid, s, c`; output is
    * `keys… , blk, s, c` (same positional shape, `blk` where `pid` was).
    */
  private[operators] def blockPartials(perPid: DataFrame,
      keys: Seq[String], numParts: Int): DataFrame = {
    val blockSize =
      math.max(1L, math.ceil(numParts.toDouble / COMBINE_BLOCKS).toLong)
    // few partitions (every local/test scale): each block is one pid —
    // the reduction would be an extra shuffle that renames a column.
    // Skip it; the plan (and the fold tree: singleton blocks) is then
    // EXACTLY the pre-block one-level plan. The two-level path engages
    // only when P > COMBINE_BLOCKS (the 100 TB case it exists for).
    if (blockSize == 1L) return perPid.withColumnRenamed("pid", "blk")
    perPid
      .withColumn("blk", (col("pid") / blockSize).cast("int"))
      .groupBy(keys.map(col) :+ col("blk"): _*)
      .agg(
        aggregate(
          sort_array(collect_list(struct(col("pid"), col("s")))),
          lit(0.0d), (acc, x) => acc + x.getField("s")).as("s"),
        sum(col("c")).as("c"))
  }

  /** One Lloyd mean-update over `vCol` grouped by `cellCol`: `posexplode` →
    * `groupBy(cell, pos, partition)` partial sums — a two-phase (map-side
    * combined) aggregation reduced again to ≤ [[COMBINE_BLOCKS]] pid-block
    * partials per (cell, pos) ([[blockPartials]]); only those block sums
    * ever reach the driver, so per-iteration driver state is
    * O(k·d·COMBINE_BLOCKS), never O(n) and never O(partitions). Keying the
    * sums by `spark_partition_id` makes the update BIT-DETERMINISTIC: each
    * input partition owns its (cell, pos, pid) group outright, so no
    * double addition ever happens in shuffle-arrival order (a plain `avg`
    * merges partials in whatever order they land — non-associative FP
    * addition can then differ run to run); blocks fold ascending-pid and
    * the driver combines blocks in ascending order — a fixed fold tree,
    * same value every run. Determinism matters beyond the spec:
    * the at-rest IVF layout (s07) reuses cells across bench executions, so
    * the same session must always train the same centroids.
    *
    * Returns the per-cell mean, or None for cells that received no rows.
    */
  private def lloydMeans(base: DataFrame, cellCol: Column, vCol: Column,
      k: Int, dim: Int, numParts: Int): Array[Option[Array[Double]]] = {
    val perPid = base
      .withColumn("cell", cellCol)
      .withColumn("pid", spark_partition_id())
      .select(col("cell"), col("pid"), posexplode(vCol).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"), col("pid"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
    val partials =
      blockPartials(perPid, Seq("cell", "pos"), numParts)
        .collect()
    val byCell = partials.groupBy(_.getInt(0))
    Array.tabulate(k) { c =>
      byCell.get(c).map { rows =>
        val m = new Array[Double](dim)
        val n = new Array[Long](dim)
        // combine block sums in ascending-block order — the fixed upper
        // level of the blockPartials fold tree
        rows.sortBy(r => (r.getInt(1), r.getInt(2))).foreach { r =>
          m(r.getInt(1)) += r.getDouble(3)
          n(r.getInt(1)) += r.getLong(4)
        }
        var i = 0
        while (i < m.length) {
          if (n(i) > 0) m(i) /= n(i)
          i += 1
        }
        m
      }
    }
  }

  /** Deterministic k-means seeds: the k vectors under `vCol` with the
    * smallest `xxhash64(vec_id)` (uniform, no `rand()`).
    */
  private def seedVectors(base: DataFrame, vCol: Column,
      k: Int): Array[Array[Double]] = {
    val seeds = base
      .select(col("vec_id"), vCol.as("sv"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k).collect()
      .map(r => r.getSeq[Double](1).toArray)
    require(seeds.length == k, s"k-means: corpus smaller than k=$k")
    seeds
  }

  /** Spherical k-means coarse quantizer (Lloyd's), DataFrame-native:
    * seeded init ([[seedVectors]], normalized); assign via the `cellExpr`
    * map-only projection; update via [[lloydMeans]] (bit-deterministic);
    * empty cells keep their previous centroid (k never collapses); fixed
    * iteration count (deterministic runtime, no convergence scan).
    *
    * Returns unit-norm centroids indexed by cell id.
    */
  private[graft] def kmeansCentroids(base: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] =
      seedVectors(base, col("v"), k).map(l2normalize)
    val dim = cents.head.length
    // partition count is iteration-invariant: resolve the scan ONCE
    // instead of re-analyzing `base` to an RDD every Lloyd round (each
    // .rdd conversion re-ran analysis+optimization of the whole lineage
    // — pure driver fixed cost, measured ~50 ms/round at sf0.1)
    val numParts = base.rdd.getNumPartitions
    for (_ <- 1 to iters) {
      val means = lloydMeans(base, cellExpr(cents, col("v")), col("v"), k,
        dim, numParts)
      cents = cents.zipWithIndex.map { case (old, c) =>
        means(c) match {
          case Some(m) => if (m.forall(_ == 0.0)) old else l2normalize(m)
          case None    => old // empty cell: keep previous centroid
        }
      }
    }
    cents
  }

  // ------------------------------------------------------- product quantizer

  private val PQ_M = 4 // PQ subspaces
  private val PQ_KS = 16 // centroids per subspace
  private val PQ_RERANK_MIN = 50 // floor of the per-query exact-rerank set
  private val PQ_RERANK_DIV = 10 // rerank budget = max(floor, n/DIV)

  /** Per-query exact-rerank budget: a tenth of the corpus, floored at 50 —
    * fixed fractions (not fixed counts) keep ADC recall stable as the
    * corpus grows, while the rerank stage still only ever touches
    * budget·NQ full vectors.
    */
  private def pqRerank(nv: Long): Int =
    math.max(PQ_RERANK_MIN.toLong, nv / PQ_RERANK_DIV).toInt

  /** Argmin-Euclidean code assignment for one PQ subspace, as the same
    * broadcast-centroid map-only projection as [[cellExpr]]: for unit-free
    * subvectors argmin_j ‖v−c_j‖² = argmin_j (‖c_j‖² − 2·v·c_j) — the ‖v‖²
    * term is constant across j and drops out. Ties break to the lowest
    * code, deterministically.
    */
  private def pqCodeExpr(cents: Array[Array[Double]], sub: Column): Column =
    U.column(CE.NearestCentroid(
      SparkSession.active.sparkContext.broadcast(cents), euclid = true,
      U.expression(sub)))

  /** ADC score Σ_m q[m·sub ..) · books(m)(code_m) with the full codebook
    * set as ONE broadcast (formerly M per-subspace `element_at(typedLit)`
    * lookups — the codebooks rode the plan as literals; round-10 verdict
    * #5). Accumulation order matches the literal form bit-for-bit.
    */
  private def adcScoreExpr(books: Array[Array[Array[Double]]], q: Column,
      codeCols: Seq[Column]): Column =
    U.column(CE.AdcScore(
      SparkSession.active.sparkContext.broadcast(books),
      U.expression(q), U.expression(array(codeCols: _*))))

  /** Plain Euclidean Lloyd's for ONE PQ subspace over `sub` (a slice of the
    * normalized vector): [[seedVectors]] init, [[pqCodeExpr]] assignment,
    * [[lloydMeans]] update (bit-deterministic, O(ks·d/m) driver state),
    * empty cells keep their previous centroid, fixed iterations — the
    * spherical [[kmeansCentroids]] minus the unit-norm projection (PQ
    * centroids must live where the subvectors do, not on the sphere).
    */
  private[graft] def pqCodebook(base: DataFrame, sub: Column, ks: Int,
      iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = seedVectors(base, sub, ks)
    val dim = cents.head.length
    val numParts = base.rdd.getNumPartitions // once, not per round
    for (_ <- 1 to iters) {
      val means = lloydMeans(base.withColumn("sv", sub), pqCodeExpr(cents,
        col("sv")), col("sv"), ks, dim, numParts)
      cents = cents.zipWithIndex.map { case (old, c) =>
        means(c).getOrElse(old)
      }
    }
    cents
  }

  /** `v` L2-normalized (zero vectors pass through), so PQ codes quantize
    * the directions that cosine ranking actually compares.
    */
  private def normalized(v: Column, nrm: Column): Column =
    when(nrm === 0.0, v).otherwise(transform(v, x => x / nrm))

  /** Train ALL M per-subspace codebooks over the normalized corpus in ONE
    * corpus pass per Lloyd iteration (plus one seed collect): the M
    * assignment projections run side by side in the same map stage, the
    * `posexplode` keys each element by (subspace, cell, within-pos,
    * partition), and the two-phase partial-sum aggregation returns
    * O(M·ks·dsub·P) rows to the driver. Per-subspace sequential training
    * ([[pqCodebook]]) runs M·(iters+1) corpus passes for the same math —
    * this is bit-identical to it (same hash-picked seed rows, same
    * assignment expressions, same partition-local accumulation order,
    * same sorted-pid combine; PqSpec pins the equivalence).
    */
  private[graft] def pqCodebooks(base: DataFrame): Array[Array[Array[Double]]] = {
    val sub = DIM / PQ_M
    val nb = base.select(col("vec_id"),
      normalized(col("v"), col("nrm")).as("vn"))
    val seedRows = nb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(PQ_KS).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seedRows.length == PQ_KS,
      s"PQ: corpus smaller than ks=$PQ_KS")
    var books: Array[Array[Array[Double]]] = Array.tabulate(PQ_M)(m =>
      seedRows.map(v => v.slice(m * sub, m * sub + sub)))
    val numParts = nb.rdd.getNumPartitions // once, not per round
    for (_ <- 1 to KM_ITERS) {
      val cellCols = (0 until PQ_M).map(m =>
        pqCodeExpr(books(m), slice(col("vn"), m * sub + 1, sub)))
      val perPid = nb
        .withColumn("cells", array(cellCols: _*))
        .withColumn("pid", spark_partition_id())
        .select(col("cells"), col("pid"),
          posexplode(col("vn")).as(Seq("pos", "x")))
        .withColumn("m", (col("pos") / sub).cast("int"))
        .withColumn("cell", element_at(col("cells"), col("m") + 1))
        .withColumn("p", pmod(col("pos"), lit(sub)))
        .groupBy(col("m"), col("cell"), col("p"), col("pid"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
      val partials =
        blockPartials(perPid, Seq("m", "cell", "p"), numParts)
          .collect()
      val byKey = partials.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(PQ_M) { m =>
        books(m).zipWithIndex.map { case (old, c) =>
          byKey.get((m, c)) match {
            case Some(rows) =>
              val mean = new Array[Double](sub)
              val cnt = new Array[Long](sub)
              // ascending-block fold — the fixed upper level of the
              // blockPartials fold tree
              rows.sortBy(r => (r.getInt(2), r.getInt(3))).foreach { r =>
                mean(r.getInt(2)) += r.getDouble(4)
                cnt(r.getInt(2)) += r.getLong(5)
              }
              var i = 0
              while (i < mean.length) {
                if (cnt(i) > 0) mean(i) /= cnt(i)
                i += 1
              }
              mean
            case None => old // empty cell: keep previous centroid
          }
        }
      }
    }
    books
  }

  private val DIM = 64 // fixture embedding dimensionality

  /** PQ-ADC top-k (Jégou–Douze–Schmid, "Product quantization for nearest
    * neighbor search", TPAMI 2011): the corpus is ENCODED once — M codes of
    * log2(ks) bits per vector (here 4 bytes vs 512 for the raw doubles, a
    * 128× in-scan compression) — and queries score candidates with
    * asymmetric distance computation: the exact query subvector dotted
    * with the candidate's RECONSTRUCTED subspace centroid, summed over
    * subspaces. The ADC scan is map-only over the code table (the query's
    * per-subspace lookup tables ride the broadcast); the top `PQ_RERANK`
    * per query — and ONLY those — touch the full vectors again for an
    * exact cosine rerank (one join keyed on 8-byte ids moving
    * O(NQ·RERANK) rows). At 100 TB this composes with the IVF layout
    * (s07): partition-pruned probe → ADC over codes → exact rerank of a
    * few dozen rows per query.
    */
  private[graft] def pqTopK(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    val (books, n) = withTrainCache(base) {
      val n0 = base.count() // materializes the cache (see ivfPqTopK)
      (pqCodebooks(base), n0)
    }
    rerankTopK(s, d, pqAdcCandidates(base, books, pqRerank(n)))
  }

  /** ADC-scored top-`rerank` candidate ids per query (no full vectors in
    * the scan — codes only).
    */
  private def pqAdcCandidates(base: DataFrame,
      books: Array[Array[Array[Double]]], rerank: Int): DataFrame = {
    val sub = DIM / PQ_M
    val codes = base.select(
      (col("vec_id").as("neighbor_id") +:
        (0 until PQ_M).map { m =>
          pqCodeExpr(books(m),
            slice(normalized(col("v"), col("nrm")), m * sub + 1, sub))
            .as(s"c$m")
        }): _*)
    val q = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"),
        normalized(col("v"), col("nrm")).as("qn"))
    val adc = adcScoreExpr(books, col("qn"),
      (0 until PQ_M).map(m => col(s"c$m")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact cosine rerank of a candidate (query_id, neighbor_id) set → final
    * top-K — shared by the PQ (s08) and random-projection (s09) paths. */
  private def rerankTopK(s: SparkSession, d: String,
      cands: DataFrame): DataFrame = {
    val base = normed(s, d)
    val qv = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cv = base.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  // --------------------------------------------------- random projection

  private val RP_DIM = 16 // projected dimensionality (JL target)

  /** Deterministic Rademacher projection rows (Achlioptas, "Database-
    * friendly random projections", PODS 2001): sign(j,i) = ±1 from
    * xxhash64-style mixing of (j,i), scaled 1/√k. Pure driver-side
    * constants — the matrix is O(k·d) and bakes into the plan as
    * literals, exactly like the IVF centroids.
    */
  private def rpRows(k: Int, d: Int): Array[Array[Double]] = {
    val s = 1.0 / math.sqrt(k)
    Array.tabulate(k) { j =>
      Array.tabulate(d) { i =>
        // splitmix64 over the (j, i) cell index — deterministic everywhere
        var z = j.toLong * 1000003L + i.toLong + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if ((z & 1L) == 0L) s else -s
      }
    }
  }

  /** The projected vector as a map-only literal-matrix expression:
    * y_j = r_j · v (k codegen'd dot products per row).
    */
  private def rpExpr(rows: Array[Array[Double]], v: Column): Column =
    array(rows.map(r => dot(v, typedLit(r.toSeq))): _*)

  /** Random-projection ANN: score in the k=16 projected space (4× less
    * compute/bandwidth per candidate than the 64-dim originals — the
    * JL pre-filter a pipeline runs before exact scoring), keep the top
    * `rerank` per query, exact-cosine rerank on the originals. Same
    * verdict frame as s08: projection preserves enough geometry that the
    * reranked top-k recovers most of the exact top-k.
    */
  private def rpCandidates(base: DataFrame, rerank: Int): DataFrame = {
    val rows = rpRows(RP_DIM, DIM)
    val proj = base.select(col("vec_id"),
      rpExpr(rows, normalized(col("v"), col("nrm"))).as("y"))
    val q = proj.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("y").as("qy"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    proj.select(col("vec_id").as("neighbor_id"), col("y"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qy"), col("y")))
      .withColumn("rrank", row_number().over(w))
      .filter(col("rrank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Matryoshka-prefix candidates: the rpCandidates shape with the JL
    * projection replaced by a slice of the normalized vector's leading
    * MRL_DIM coordinates — information-ordered prefixes make truncation
    * the projection (Kusupati et al., NeurIPS 2022).
    */
  private def mrlCandidates(base: DataFrame, rerank: Int): DataFrame = {
    val proj = base.select(col("vec_id"),
      slice(normalized(col("v"), col("nrm")), 1, MRL_DIM).as("y"))
    val q = proj.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("y").as("qy"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    proj.select(col("vec_id").as("neighbor_id"), col("y"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qy"), col("y")))
      .withColumn("rrank", row_number().over(w))
      .filter(col("rrank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
  }

  private val MRL_DIM = 16 // truncated-prefix dimensionality

  /** IVF-PQ candidates (the FAISS-style composed index, Jégou et al.
    * TPAMI 2011 §V): the coarse quantizer prunes to NPROBE of CELLS cells
    * (the s02 machinery — corpus side map-only, candidates meet in a
    * broadcast equi-join on `cell`), and INSIDE the probed cells
    * candidates are ranked by PQ asymmetric distance over the 4-byte
    * codes (the s08 machinery) — the full vectors are touched only by the
    * exact rerank of the per-query top `rerank`. At 100 TB this is the
    * serving read path end to end: partition-pruned probe (s07's at-rest
    * layout) → ADC over codes → exact rerank of a few dozen rows.
    */
  private def ivfPqCandidates(base: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      rerank: Int): DataFrame = {
    val sub = DIM / PQ_M
    val codes = base.select(
      (col("vec_id").as("neighbor_id") +:
        cellExpr(cents, col("v")).as("cell") +:
        (0 until PQ_M).map { m =>
          pqCodeExpr(books(m),
            slice(normalized(col("v"), col("nrm")), m * sub + 1, sub))
            .as(s"c$m")
        }): _*)
    val q = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"),
        normalized(col("v"), col("nrm")).as("qn"),
        explode(probeCellsExpr(cents, col("v"), NPROBE)).as("cell"))
    val adc = adcScoreExpr(books, col("qn"),
      (0 until PQ_M).map(m => col(s"c$m")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    codes.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Random-projection top-k end to end (candidates + exact rerank), for
    * library use and the `RecallProbe rp` measurement.
    */
  private[graft] def rpTopK(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    rerankTopK(s, d, rpCandidates(base, pqRerank(base.count())))
  }

  /** IVF-PQ top-k end to end (train both quantizers, candidates, exact
    * rerank), for library use and the `RecallProbe ivfpq` measurement.
    */
  private[graft] def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    val (cents, books, n) = withTrainCache(base) {
      // the count doubles as the cache materializer and runs FIRST:
      // forking the two training chains onto a cold cache serializes
      // them on per-block cache locks (measured +58% on s10), while a
      // warm cache lets them overlap for real (guide §2.6)
      val n0 = base.count()
      val (c, b) = inParallel(s,
        kmeansCentroids(base, CELLS, KM_ITERS), pqCodebooks(base))
      (c, b, n0)
    }
    rerankTopK(s, d, ivfPqCandidates(base, cents, books, pqRerank(n)))
  }

  /** IVF candidate set for the NQ fixture queries against trained centroids:
    * query side fans out to its NPROBE cells (map-only), corpus side gets
    * its argmax cell (map-only), and the two meet in a broadcast equi-join
    * on `cell` — the corpus never shuffles, never broadcasts.
    */
  private def ivfCandidates(base: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val probed = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(probeCellsExpr(cents, col("v"), NPROBE)).as("cell"))
    val cand = base.select(col("vec_id").as("neighbor_id"),
      col("v").as("cv2"), col("nrm").as("cn2"),
      cellExpr(cents, col("v")).as("cell"))
    cand.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** IVF top-k over a TRAINED coarse quantizer: k-means cells (not any
    * fixture column), probe the NPROBE closest cells per query, exact
    * rerank inside the probed cells. At 100 TB the corpus would be written
    * `partitionBy(cell)` once after training so probes become
    * partition-pruned scans; the query plan here is the same shape minus
    * the storage pruning (the corpus side is one map-only pass).
    */
  private[graft] def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    val cents = withTrainCache(base) { kmeansCentroids(base, CELLS, KM_ITERS) }
    ivfTopKFrom(ivfCandidates(base, cents))
  }

  private def ivfTopKFrom(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands
      .withColumn("cos", dot(col("qv"), col("cv2")) / (col("qn") * col("cn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** At-rest IVF layout (the "write once, probe many" read path): train the
    * coarse quantizer, then persist the corpus `partitionBy(cell)` in hive
    * layout — after which a probe is a PARTITION-PRUNED scan of `nprobe`
    * directories, never a full-corpus pass. `Formats.writeOnce` semantics:
    * a bench session (`graft.io.reuse=true`) writes the index once and
    * probes it repeatedly — the train-once/probe-many split the in-flight
    * s02 cannot express; Verify always rewrites. Safe to reuse across
    * executions because `kmeansCentroids` is bit-deterministic (its
    * scaladoc) — re-trained centroids always reproduce the stored cells.
    */
  private[graft] def ivfIndexAtRest(s: SparkSession,
      d: String): (String, Array[Array[Double]]) = {
    val base = normed(s, d)
    val cents = withTrainCache(base) { kmeansCentroids(base, CELLS, KM_ITERS) }
    val out = Formats.ioDir(d, "s07_ivf")
    Formats.writeOnce(s, out) {
      base.withColumn("cell", cellExpr(cents, col("v")))
        .write.partitionBy("cell").mode("overwrite").parquet(out)
    }
    (out, cents)
  }

  /** Probe-cell selection for ONE query vector, driver-side: pure O(k·d)
    * arithmetic over the trained centroids (the ANN serving shape — the
    * query vector is client-side by definition, so this is not a
    * driver-side DATA collect). Must rank exactly like [[probeCellsExpr]]:
    * descending cosine, ties to the lower cell id.
    */
  private[graft] def probeCellsOf(cents: Array[Array[Double]],
      q: Array[Double], nprobe: Int): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, j) => (-c.zip(q).map { case (a, b) => a * b }.sum, j) }
      .sorted.take(nprobe).map(_._2).toSeq

  /** Signed-projection signatures (Charikar SimHash for cosine): `planes`
    * deterministic Rademacher hyperplanes (signs from xxhash64(plane, dim)),
    * all computed in ONE explode + groupBy pass; bit j of `sig` is the sign
    * of projection j.
    */
  private def signatures(base: DataFrame, planes: Int): DataFrame = {
    require(planes <= 63, s"signatures: planes must fit a long, got $planes")
    val proj = base
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val sums = (0 until planes).map { j =>
      sum(when(pmod(xxhash64(lit(j), col("pos")), lit(2)) === 0,
        col("x")).otherwise(-col("x"))).as(s"p$j")
    }
    proj.groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
      .select(col("vec_id"),
        (0 until planes).map(j =>
          when(col(s"p$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** Band the signature into `bands` chunks of `bits` bits each. */
  private def bandedSig(sig: DataFrame, bands: Int, bits: Int): DataFrame =
    sig.select(col("vec_id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * bits).bitwiseAND(lit((1L << bits) - 1))): _*))
        .as(Seq("band", "chunk")))

  /** LSH-ANN candidate pairs: 16 planes, 4 bands × 4 bits, hot buckets
    * capped (Dedup.capBuckets — same boilerplate-bucket guard as the
    * MinHash path).
    */
  private[graft] def lshAnnCandidates(s: SparkSession, d: String): DataFrame = {
    val banded = Dedup.capBuckets(
      bandedSig(signatures(normed(s, d), 16), 4, 4),
      Seq("band", "chunk"), Dedup.DefaultMaxBucket)
    val q = banded.filter(col("vec_id") < NQ)
      .select(col("band"), col("chunk"), col("vec_id").as("query_id"))
    q.join(banded.select(col("band"), col("chunk"),
        col("vec_id").as("neighbor_id")), Seq("band", "chunk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
  }

  /** Random-hyperplane LSH ANN: banded candidates, exact cosine rerank.
    * `cands` is taken as a value so a verdict plan that also counts the
    * candidates shares ONE subtree (Spark's ReuseExchange only fires on
    * identical subtrees — two separate builder calls get distinct
    * expression IDs and compute twice).
    */
  private[graft] def lshTopK(s: SparkSession, d: String): DataFrame =
    lshTopKFrom(s, d, lshAnnCandidates(s, d))

  private def lshTopKFrom(s: SparkSession, d: String, cands: DataFrame): DataFrame = {
    val base = normed(s, d)
    val qv = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cv = base.select(col("vec_id").as("neighbor_id"),
      col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Exact near-dup pairs via the memory-bounded grid (block) self-join —
    * see the s03 query comment for why exact semantics at a gap-less
    * threshold requires examining all pairs and why this is its scalable
    * form.
    */
  private[graft] def gridDupPairs(s: SparkSession, d: String): DataFrame = {
    val base = normed(s, d)
    // B=8 at fixture scale; at 100 TB set B ≈ ceil(2·n·vecBytes/taskMem)
    // (memory-bound rule; communication grows O(n·B), compute is O(n²/P)
    // spread evenly over B(B+1)/2 keys by the uniform hash).
    val nBlocks = 8
    import s.implicits._
    val blockPairs = broadcast(
      (0 until nBlocks).flatMap(i => (i until nBlocks).map(j => (i, j)))
        .toDF("bi", "bj"))
    val blocked = base.select(col("vec_id"), col("v"), col("nrm"),
      pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int").as("blk"))
    // row (block x) fans out to keys {(x, j≥x)} on the left and
    // {(i≤x, x)} on the right: every unordered block pair meets exactly
    // once; same-block keys carry both orientations, deduped by id order.
    val left = blocked.join(blockPairs, col("blk") === col("bi"))
      .select(col("vec_id").as("id_l"), col("v").as("vl"),
        col("nrm").as("nl"), col("bi"), col("bj"))
    val right = blocked.join(blockPairs, col("blk") === col("bj"))
      .select(col("vec_id").as("id_r"), col("v").as("vr"),
        col("nrm").as("nr"), col("bi"), col("bj"))
    left.join(right, Seq("bi", "bj"))
      .filter(col("bi") < col("bj") || col("id_l") < col("id_r"))
      .withColumn("cos", dot(col("vl"), col("vr")) / (col("nl") * col("nr")))
      .filter(col("cos") >= DUP_T)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** s05 candidate pairs: 24 planes banded 6 × 4 bits, hot buckets capped.
    *
    * Banding math (Charikar collision prob p = 1 - θ/π): at the gap-less
    * fixture threshold cos 0.4, p = 0.631, so per-band collision is
    * p⁴ = 0.159 and 6 bands give recall 1-(1-0.159)⁶ ≈ 0.65 for pairs AT
    * the threshold (higher above it), vs a random-pair collision fraction
    * of 1-(1-2⁻⁴)⁶ ≈ 0.32 — i.e. LSH recovers ~2× more of the true pairs
    * than the candidate fraction it examines, which is the most any hash
    * can do on data with NO similarity margin (see the s03 comment). On a
    * real corpus with a gap (dups at cos ≥ 0.9, background near-orthogonal)
    * the same machinery with wider bands (e.g. 16 bands × 12 bits) gives
    * recall > 0.93 while examining ~16/4096 of the pairs.
    */
  private[graft] def approxDupCandidates(s: SparkSession, d: String): DataFrame = {
    val banded = Dedup.capBuckets(
      bandedSig(signatures(normed(s, d), 24), 6, 4),
      Seq("band", "chunk"), Dedup.DefaultMaxBucket)
    banded.select(col("band"), col("chunk"), col("vec_id").as("id_a"))
      .join(banded.select(col("band"), col("chunk"), col("vec_id").as("id_b")),
        Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Approximate near-dup pairs: LSH candidates + exact cosine rerank.
    * Same output schema as the exact `gridDupPairs`; every emitted pair is
    * exactly verified (cos recomputed on the full vectors), so
    * approx ⊆ exact ALWAYS — only recall is probabilistic.
    */
  private[graft] def approxDupPairs(s: SparkSession, d: String): DataFrame =
    approxDupPairsFrom(s, d, approxDupCandidates(s, d))

  private def approxDupPairsFrom(s: SparkSession, d: String,
      cands: DataFrame): DataFrame = {
    val base = normed(s, d)
    cands
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= DUP_T)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** Aggregate-recall verdict vs the exact brute-force top-k (q24 pattern).
    * All output values are engine-agnostic when the operator is healthy:
    * n_queries/n_topk are data-derived constants the oracle recomputes, and
    * recall_ok must be TRUE. Per-query gates would flake — the fixture
    * embeddings are near-random (thin cosine margins), so per-query recall
    * ranges 0.0–1.0 while aggregate recall sits stably at ~0.36–0.46
    * (measured at sf0.001/0.01/0.1; chance level is ~0.08).
    */
  private def annVerdict(s: SparkSession, d: String, approx: DataFrame,
      minRecall: Double): DataFrame = {
    val ex = bruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_topk"),
        (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * minRecall)
          .as("recall_ok"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force cosine top-k — the ANN correctness baseline.
    "s01_cosine_topk" -> ((s, d) =>
      bruteTopK(s, d).orderBy(col("query_id"), col("rank"))),

    // IVF ANN verdict over the TRAINED k-means quantizer: aggregate recall
    // vs s01 ≥ 0.2 (chance 0.08) plus a candidate-volume bound — probing
    // NPROBE of CELLS cells must actually prune (candidates stay under
    // 0.75·NQ·n even with k-means imbalance; balanced would be
    // NPROBE/CELLS = 0.375). Training happens inside the query, so the
    // bench number honestly includes index build.
    "s02_ann_ivf_topk" -> ((s, d) => {
      val base = normed(s, d)
      val cents = withTrainCache(base) {
        kmeansCentroids(base, CELLS, KM_ITERS)
      }
      val cands = ivfCandidates(base, cents)
      val cb = cands.agg(count(lit(1)).as("nc"))
        .crossJoin(base.agg(count(lit(1)).as("nv")))
        .select((col("nc") <= lit(0.75) * lit(NQ) * col("nv"))
          .as("cand_bounded"))
      annVerdict(s, d, ivfTopKFrom(cands), 0.2).crossJoin(cb)
    }),

    // The at-rest IVF probe: corpus persisted partitionBy(cell) once
    // (ivfIndexAtRest), then ONE query (vec 0, the serving shape) probes
    // its NPROBE closest cells as a PARTITION-PRUNED scan — the storage
    // side of s02's candidate pruning (IvfAtRestSpec pins the
    // PartitionFilters plan + file-level pruning). Verdict columns:
    //  - n_topk = K, n_mismatch = 0: the pruned at-rest probe reproduces
    //    the in-flight s02 path EXACTLY for the same query (full-outer
    //    merge of the two top-k sets — same centroids, same tiebreaks,
    //    bit-identical scores, so storage adds nothing and loses nothing);
    //  - cells_bounded: the scan touched at most NPROBE distinct cells;
    //  - scan_bounded: rows read stay under 0.75·n (the s02 bound for one
    //    query — pruning must actually skip most of the corpus).
    "s07_ivf_pruned_probe" -> ((s, d) => {
      val (out, cents) = ivfIndexAtRest(s, d)
      val base = normed(s, d)
      val q0 = base.filter(col("vec_id") === 0)
        .select(col("v"), col("nrm")).head()
      val qv = q0.getSeq[Double](0).toArray
      val qn = q0.getDouble(1)
      val pruned = s.read.parquet(out)
        .filter(col("cell").isin(probeCellsOf(cents, qv, NPROBE): _*))
      val atRest = pruned.filter(col("vec_id") =!= 0)
        .withColumn("cos",
          dot(col("v"), typedLit(qv.toSeq)) / (col("nrm") * lit(qn)))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(K).select(col("vec_id").as("neighbor_id"))
      val inFlight = ivfTopKFrom(ivfCandidates(base, cents))
        .filter(col("query_id") === 0).select(col("neighbor_id"))
      val merged = atRest.withColumn("a", lit(1))
        .join(inFlight.withColumn("b", lit(1)), Seq("neighbor_id"),
          "full_outer")
        .agg(count(lit(1)).as("n_topk"),
          sum(when(col("a").isNull || col("b").isNull, 1L).otherwise(0L))
            .as("n_mismatch"))
      val scan = pruned.agg(countDistinct(col("cell")).as("ncells"),
        count(lit(1)).as("nscan"))
      merged.crossJoin(scan.crossJoin(base.agg(count(lit(1)).as("nv")))
        .select((col("ncells") <= NPROBE).as("cells_bounded"),
          (col("nscan") <= col("nv") * 0.75).as("scan_bounded")))
    }),

    // PQ-ADC ANN verdict (pqTopK scaladoc): codes + asymmetric-distance
    // scan + exact rerank of PQ_RERANK candidates. Columns:
    //  - n_queries / n_topk: data-derived, oracle recomputes;
    //  - recall_ok: aggregate recall vs the exact s01 top-k ≥ 0.3 —
    //    measured 0.50/0.56/0.60 at sf0.001/0.01/0.1 (exactly reranking
    //    the ADC top tenth-of-corpus recovers over half the true top-k
    //    even on these margin-less near-random fixtures; the chance
    //    contribution of the rerank fraction alone is ~0.1);
    //  - n_bad_codes = 0: every stored code lies in [0, PQ_KS) for every
    //    subspace (the encode projection can't emit anything else);
    //  - rerank_bounded: the exact-rerank stage touched at most
    //    NQ·pqRerank(n) candidate rows (a tenth of the corpus per query,
    //    floored at 50) — the full vectors are only ever joined for that
    //    bounded set (the 128× in-scan compression claim rests on the ADC
    //    stage reading codes, not vectors).
    "s08_pq_adc_topk" -> ((s, d) => {
      val base = normed(s, d)
      // training and the corpus count are independent phases (§2.6)
      val (books, n) = withTrainCache(base) {
        val n0 = base.count() // materializes the cache (see ivfPqTopK)
        (pqCodebooks(base), n0)
      }
      val rerank = pqRerank(n)
      val sub = DIM / PQ_M
      val codeCols = (0 until PQ_M).map { m =>
        pqCodeExpr(books(m),
          slice(normalized(col("v"), col("nrm")), m * sub + 1, sub))
          .as(s"c$m")
      }
      val badCodes = base.select(codeCols: _*)
        .agg(sum((0 until PQ_M).map { m =>
          when(col(s"c$m") < 0 || col(s"c$m") >= PQ_KS, 1L).otherwise(0L)
        }.reduce(_ + _)).as("n_bad_codes"))
      val cands = pqAdcCandidates(base, books, rerank)
      val rb = cands.agg((count(lit(1)) <= lit(NQ.toLong) * rerank)
        .as("rerank_bounded"))
      annVerdict(s, d, rerankTopK(s, d, cands), 0.3)
        .crossJoin(badCodes).crossJoin(rb)
    }),

    // IVF-PQ ANN verdict (ivfPqCandidates scaladoc): BOTH prunings in one
    // index — coarse cells bound the candidate volume, PQ-ADC ranks
    // inside the probed cells over 4-byte codes, and the full vectors
    // serve only the bounded exact rerank. Recall vs the exact s01 top-k
    // gated at 0.25: measured 0.42/0.50/0.50 at sf0.001/0.01/0.1
    // (RecallProbe ivfpq) — the double pruning costs almost nothing over the
    // cell-only s02 (0.36–0.46) because the exact rerank recovers the
    // ADC quantization error inside the probed cells.
    "s10_ivfpq_topk" -> ((s, d) => {
      val base = normed(s, d)
      // coarse quantizer, PQ codebooks, corpus count: independent (§2.6)
      val (cents, books, n) = withTrainCache(base) {
        // count first = cache materializer; cold-cache forking serializes
        // the chains on block locks (see ivfPqTopK)
        val n0 = base.count()
        val (c, b) = inParallel(s,
          kmeansCentroids(base, CELLS, KM_ITERS), pqCodebooks(base))
        (c, b, n0)
      }
      val rerank = pqRerank(n)
      val cands = ivfPqCandidates(base, cents, books, rerank)
      val rb = cands.agg((count(lit(1)) <= lit(NQ.toLong) * rerank)
        .as("rerank_bounded"))
      annVerdict(s, d, rerankTopK(s, d, cands), 0.25).crossJoin(rb)
    }),

    // PQ index AT REST (closing the train-once lifecycle for the PQ
    // family the way s07/s13 close it for IVF): codebooks + 4-byte codes
    // persisted once (writeOnce); a probe LOADS the codebook artifact
    // (O(M·ks·dsub) driver-side index METADATA — 1 024 doubles, not
    // data), ADC-scans the CODES table only (the full vectors never
    // enter the scan), and must rank exactly like the in-flight s08 path
    // — guaranteed because pqCodebooks is bit-deterministic, and VERIFIED
    // set-exactly by the verdict. Columns:
    //  - n_codes: rows in the at-rest code table (oracle: corpus count);
    //  - n_books_rows: M·ks·dsub = 1024 persisted weights (oracle pins);
    //  - atrest_eq_inflight: at-rest ADC candidates ≡ in-flight
    //    pqAdcCandidates under the same rerank budget, set-exactly;
    //  - rerank_bounded: ≤ NQ·rerank candidates left the ADC stage.
    "s15_pq_atrest" -> ((s, d) => {
      import s.implicits._
      val base = normed(s, d)
      val sub = DIM / PQ_M
      val out = Formats.ioDir(d, "s15_pq")
      Formats.writeOnce(s, out) {
        val books = pqCodebooks(base)
        val rows = for { m <- books.indices; c <- books(m).indices
                         p <- books(m)(c).indices }
          yield (m, c, p, books(m)(c)(p))
        rows.toDF("m", "code", "pos", "w").coalesce(1)
          .write.mode("overwrite").parquet(out + "/books")
        base.select((col("vec_id").as("neighbor_id") +:
          (0 until PQ_M).map { m =>
            pqCodeExpr(books(m),
              slice(normalized(col("v"), col("nrm")), m * sub + 1, sub))
              .as(s"c$m")
          }): _*)
          .write.mode("overwrite").parquet(out + "/codes")
      }
      val books2: Array[Array[Array[Double]]] =
        Array.fill(PQ_M, PQ_KS)(new Array[Double](sub))
      // artifact load, corpus count, and the in-flight retrain (used by
      // the equality arm below) are independent phases (§2.6)
      val (n, inBooks) = withTrainCache(base) {
        val n0 = base.count() // materializes the cache (see ivfPqTopK)
        // artifact load and the in-flight retrain overlap (§2.6)
        val (_, b) = inParallel(s,
          s.read.parquet(out + "/books").collect().foreach { r =>
            books2(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3) },
          pqCodebooks(base))
        (n0, b)
      }
      val rerank = pqRerank(n)
      val codes = s.read.parquet(out + "/codes")
      val q = base.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"),
          normalized(col("v"), col("nrm")).as("qn"))
      val adc = adcScoreExpr(books2, col("qn"),
        (0 until PQ_M).map(m => col(s"c$m")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id"))
      val atRest = codes
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("adc", adc)
        .withColumn("arank", row_number().over(w))
        .filter(col("arank") <= rerank)
        .select(col("query_id"), col("neighbor_id"))
      val inFlight = pqAdcCandidates(base, inBooks, rerank)
      val merged = atRest.withColumn("a", lit(1))
        .join(inFlight.withColumn("b", lit(1)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .agg((sum(when(col("a").isNull || col("b").isNull, 1L)
            .otherwise(0L)) === 0L).as("atrest_eq_inflight"),
          (count(lit(1)) <= lit(NQ.toLong) * rerank).as("rerank_bounded"))
      codes.agg(count(lit(1)).as("n_codes"))
        .crossJoin(s.read.parquet(out + "/books")
          .agg(count(lit(1)).as("n_books_rows")))
        .crossJoin(merged)
    }),

    // SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication", arXiv:2303.09540):
    // k-means-cluster the embeddings, then dedup WITHIN each cluster at
    // cosine ≥ DUP_T, keeping one exemplar per duplicate neighborhood.
    // Exemplar choice is deterministic min-id: v is removed iff some
    // u < v in the SAME cluster has cos(u,v) ≥ DUP_T (the paper keeps a
    // random item; id order is the reproducible equivalent). The kept set
    // is provably pairwise-below-threshold within every cluster: if
    // x < y are both kept, y being kept means NO smaller id reaches
    // DUP_T against it — including x.
    // Scale: the candidate self-join keys on cell, so per-cell work is
    // (n/k)² with k grown with the corpus (the paper runs k ≈ √n); the
    // clustering is the same deterministic spherical k-means the IVF
    // index uses (one training, two consumers at rest). Cross-cluster
    // duplicates are missed BY DESIGN — that is SemDeDup's documented
    // approximation. The verdict's exact global pair count is the s03
    // fixture-scale oracle subtree, not the operator's scale path.
    // Verdict columns: n_vectors / n_dup_pairs_exact recomputed by the
    // oracle; partition_ok (kept + removed = all) and kept_clean (an
    // INDEPENDENT kept×kept recompute finds no surviving within-cell
    // pair ≥ DUP_T) must be TRUE.
    "s11_semdedup" -> ((s, d) => {
      val base = normed(s, d)
      val cents = withTrainCache(base) {
        kmeansCentroids(base, CELLS, KM_ITERS)
      }
      val cells = base
        .select(col("vec_id"), col("v"), col("nrm"))
        .withColumn("cell", cellExpr(cents, col("v")))
      val a = cells.select(col("cell"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = cells.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val within = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(dot(col("va"), col("vb")) / (col("na") * col("nb"))
          >= DUP_T)
        .select(col("id_a"), col("id_b"))
      val removed = within.select(col("id_b").as("vec_id")).distinct()
      val kept = cells.join(removed, Seq("vec_id"), "left_anti")
      val ka = kept.select(col("cell"), col("vec_id").as("ia"),
        col("v").as("kva"), col("nrm").as("kna"))
      val kb = kept.select(col("cell"), col("vec_id").as("ib"),
        col("v").as("kvb"), col("nrm").as("knb"))
      val dirty = ka.join(kb, Seq("cell"))
        .filter(col("ia") < col("ib"))
        .filter(dot(col("kva"), col("kvb")) / (col("kna") * col("knb"))
          >= DUP_T)
        .agg(count(lit(1)).as("n_dirty"))
      base.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(gridDupPairs(s, d).agg(
          count(lit(1)).as("n_dup_pairs_exact")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
        .crossJoin(dirty)
        .select(col("n_vectors"), col("n_dup_pairs_exact"),
          (col("n_kept") + col("n_removed") === col("n_vectors"))
            .as("partition_ok"),
          (col("n_dirty") === 0).as("kept_clean"))
    }),

    // Random-projection ANN verdict (rpCandidates scaladoc): score in the
    // 16-dim JL-projected space, exact rerank of the top tenth-of-corpus.
    // Columns follow the s08 frame: counts recomputed by the oracle,
    // recall vs the exact s01 top-k gated at 0.3 (measured 0.44/0.40/0.60
    // at sf0.001/0.01/0.1 — RecallProbe rp), rerank volume bounded by
    // NQ·pqRerank(n).
    "s09_random_projection_topk" -> ((s, d) => {
      val base = normed(s, d)
      val rerank = pqRerank(base.count())
      val cands = rpCandidates(base, rerank)
      val rb = cands.agg((count(lit(1)) <= lit(NQ.toLong) * rerank)
        .as("rerank_bounded"))
      annVerdict(s, d, rerankTopK(s, d, cands), 0.3).crossJoin(rb)
    }),

    // Matryoshka truncated-dimension ANN (Kusupati et al., NeurIPS 2022):
    // rank candidates by the dot over only the FIRST 16 of 64 dimensions,
    // exact-rerank the per-query top slice. With MRL-trained embeddings
    // the information-ordered prefix makes this the cheapest prefilter of
    // the family (a SLICE — no projection matrix, no codebook, and at
    // rest you simply read fewer bytes per vector: the leading-prefix
    // column layout); on the fixture's untrained random embeddings the
    // prefix carries 16/64 of the energy, statistically the s09 JL
    // projection, so the same recall gate applies. Same verdict frame as
    // s09 (counts recomputed by the oracle, recall vs exact s01 ≥ 0.3,
    // rerank volume bounded).
    "s14_matryoshka_topk" -> ((s, d) => {
      val base = normed(s, d)
      val rerank = pqRerank(base.count())
      val cands = mrlCandidates(base, rerank)
      val rb = cands.agg((count(lit(1)) <= lit(NQ.toLong) * rerank)
        .as("rerank_bounded"))
      annVerdict(s, d, rerankTopK(s, d, cands), 0.3).crossJoin(rb)
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion (s16): the serving
    // primitive of a RAG stack — a SPARSE arm (t13's integer BM25 over the
    // literal query terms) and a DENSE arm (s01's exact cosine ranking,
    // query vector = the query's own embedding, vec_id aligned with
    // query_id) fused by RRF (Cormack, Clarke & Buettcher SIGIR'09):
    // score(doc) = Σ_arms 1/(K0 + rank_arm(doc)), K0 = 60. Rank-based
    // fusion needs no score calibration between the arms — exactly why
    // production hybrid search (lexical + vector) ships it.
    //
    // Cross-engine exactness: each arm contributes the INTEGER
    // 1000000 div (K0 + rank); the fused score is an order-independent
    // integer sum over ≤ 2 rows per (query, doc). Arm ranks themselves are
    // deterministic (BM25 scores are integers; cosine rank order is
    // bit-identical across engines — the s01 contract — with doc_id
    // tie-breaks). The query's own document is excluded from BOTH arms
    // before ranking.
    //
    // Plan shape at scale: the sparse arm is t13's bounded postings shape
    // (corpus filtered to query terms before any shuffle); the dense arm
    // broadcasts 3 query vectors and keeps per-partition top-L via
    // WindowGroupLimit; the fusion itself touches ≤ 2·L rows per query —
    // a toy-sized groupBy. At 100 TB the dense arm swaps in any of the
    // at-rest ANN probes (s07/s10/s15) without changing the fuser.
    "s16_rrf_fusion" -> ((s, d) => {
      val lw = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val lexR = TextAnalysis.bm25Scores(s, d)
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("r", row_number().over(lw))
        .filter(col("r") <= FUSE_L)
        .select(col("query_id"), col("doc_id"), col("r"))
      val base = normed(s, d)
      val q = base.filter(col("vec_id") < FUSE_NQ)
        .select(col("vec_id").cast("int").as("query_id"),
          col("v").as("qv"), col("nrm").as("qn"))
      val dw = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("doc_id").asc)
      val denseR = base
        .select(col("vec_id").as("doc_id"), col("v").as("cv"),
          col("nrm").as("cn"))
        .join(broadcast(q), col("query_id") =!= col("doc_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("r", row_number().over(dw))
        .filter(col("r") <= FUSE_L)
        .select(col("query_id"), col("doc_id"), col("r"))
      val byQ = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      lexR.unionByName(denseR)
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(expr(s"1000000 div ($RRF_K0 + r)")).as("rrf_micro"))
        .withColumn("rank", row_number().over(byQ))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("rrf_micro"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Metadata-FILTERED ANN (s17): top-k restricted to an attribute
    // predicate (label = 3) — the filtered-vector-search serving mode
    // every production vector store exposes (FAISS IDSelector, the
    // filter clause of the hosted stores). Filter placement is the whole
    // design: the predicate lands on the CORPUS side BEFORE candidate
    // generation (filter-then-probe), so candidates are label-correct by
    // construction and the probe cost scales with the filtered corpus,
    // not the full one — post-filtering an unfiltered top-k instead can
    // return < k or even 0 rows when the label is selective. At rest
    // this composes with s07's layout as cell-partition pruning × a
    // row-group label predicate. Verdict: counts the oracle recomputes,
    // aggregate recall vs the EXACT FILTERED baseline ≥ 0.2 (the s02
    // gate; chance is ~NPROBE/CELLS·K/|filtered|), zero label
    // violations, candidate volume bounded by the filtered corpus.
    "s17_filtered_ann_topk" -> ((s, d) => {
      val base = normed(s, d)
      val cents = withTrainCache(base) {
        kmeansCentroids(base, CELLS, KM_ITERS)
      }
      val q = base.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val fcorpus = base.filter(col("label") === FILTER_LABEL)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val exact = fcorpus
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv2"),
          col("nrm").as("cn2"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          dot(col("qv"), col("cv2")) / (col("qn") * col("cn2")))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("in_e", lit(1))
      val probed = q.withColumn("cell",
        explode(probeCellsExpr(cents, col("qv"), NPROBE)))
      val cands = fcorpus
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv2"),
          col("nrm").as("cn2"), cellExpr(cents, col("v")).as("cell"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
      val approx = ivfTopKFrom(cands)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      val core = exact
        .join(approx, Seq("query_id", "neighbor_id"), "full_outer")
        .agg(
          countDistinct(when(col("in_e").isNotNull, col("query_id")))
            .as("n_queries"),
          count(col("in_e")).as("n_topk"),
          (sum(when(col("in_e").isNotNull && col("hit").isNotNull, 1)
            .otherwise(0)) >= count(col("in_e")) * 0.2).as("recall_ok"))
      val fv = approx
        .join(base.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .agg((sum(when(col("label") =!= FILTER_LABEL, 1).otherwise(0))
          === 0).as("filter_ok"))
      val cb = cands.agg(count(lit(1)).as("nc"))
        .crossJoin(fcorpus.agg(count(lit(1)).as("nf")))
        .select((col("nc") <= lit(0.75) * lit(NQ) * col("nf"))
          .as("cand_bounded"))
      core.crossJoin(fv).crossJoin(cb)
    }),

    // LSH ANN verdict: aggregate recall vs s01 ≥ 0.3 (measured 0.40–0.46)
    // plus a candidate-volume bound — banding must actually prune (the
    // distinct candidate set stays under half of all query-corpus pairs;
    // measured ~0.23).
    "s04_ann_lsh_topk" -> ((s, d) => {
      val cands = lshAnnCandidates(s, d) // shared subtree: rerank + count
      val cb = cands.agg(count(lit(1)).as("nc"))
        .crossJoin(normed(s, d).agg(count(lit(1)).as("nv")))
        .select((col("nc") <= lit(0.5) * lit(NQ) * (col("nv") - 1))
          .as("cand_bounded"))
      annVerdict(s, d, lshTopKFrom(s, d, cands), 0.3).crossJoin(cb)
    }),

    // Embedding near-dup pairs: all pairs with cosine ≥ 0.4, EXACT.
    //
    // Why not LSH candidates + rerank: measured on the fixtures, the pair
    // cosine distribution is CONTINUOUS through the threshold (sf0.1: min
    // qualifying cos 0.40001, max non-qualifying 0.39989, 3217 pairs in
    // [0.35, 0.4)). With no margin, no probabilistic candidate generator can
    // guarantee the exact oracle's recall — pairs at cos 0.4000 and 0.3999
    // are indistinguishable to any hash. Exact semantics at a no-gap
    // threshold requires examining all pairs; the scalable form of that is a
    // GRID (block) self-join: assign each vector to one of B hash blocks,
    // replicate each row to its B(B+1)/2 block-pair keys' left/right sides,
    // and equi-join on the (bi, bj) key. Per-task memory is O(2n/B) — tune B
    // so a block pair fits an executor — communication is O(n·B), and the
    // physical join is a shuffled equi-join, never a corpus broadcast.
    // The approximate companion for data that DOES have a similarity gap is
    // s05 below: identical output schema, LSH candidates, recall measured
    // against this query in its verdict row.
    "s03_embedding_dup_pairs" -> ((s, d) =>
      gridDupPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Approximate near-dup verdict: n_exact_pairs is recomputed by the
    // oracle; n_false_pairs = 0 holds by construction (exact rerank);
    // recall_ok gates aggregate recall vs s03 at 0.5 (expected ~0.65, see
    // approxDupCandidates banding math; a broken signature degrades to the
    // ~0.32 random-candidate fraction); cand_bounded proves pruning.
    // One full-outer merge of exact and approx pair sets: the O(n²) grid
    // join and the LSH rerank are each evaluated ONCE (the per-verdict-
    // branch formulation ran the grid join twice: recall + false-pair
    // anti-join).
    "s05_embedding_dup_approx" -> ((s, d) => {
      val cands = approxDupCandidates(s, d) // shared subtree: rerank + count
      val exact = gridDupPairs(s, d)
        .select(col("id_a"), col("id_b")).withColumn("in_e", lit(1))
      val approx = approxDupPairsFrom(s, d, cands)
        .select(col("id_a"), col("id_b")).withColumn("in_a", lit(1))
      val core = exact.join(approx, Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("in_e")).as("n_exact_pairs"),
          (sum(when(col("in_e").isNotNull && col("in_a").isNotNull, 1)
            .otherwise(0)) >= count(col("in_e")) * 0.5).as("recall_ok"),
          count(when(col("in_a").isNotNull && col("in_e").isNull, lit(1)))
            .as("n_false_pairs"))
      val cb = cands.agg(count(lit(1)).as("nc"))
        .crossJoin(normed(s, d).agg(count(lit(1)).as("nv")))
        .select((col("nc") <= col("nv") * (col("nv") - lit(1)) / lit(2) * 0.45)
          .as("cand_bounded"))
      core.crossJoin(cb)
    }),

    // Symmetric int8 quantization. The quantized vector itself is emitted
    // as exactly-replayable integer summaries (array outputs stringify
    // differently across the compare stack): component sum, min/max, and
    // saturation count. round() is HALF_UP on both engines and the double
    // arithmetic (x·127/scale) is IEEE-identical, so the hash is exact.
    "s06_quantize_int8" -> ((s, d) => {
      quantizeInt8(T.embeddings(s, d))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, b) => a + b).as("sum_q"),
          array_min(col("q")).as("min_q"),
          array_max(col("q")).as("max_q"),
          size(filter(col("q"), x => abs(x) === 127)).as("n_sat"))
        .orderBy(col("vec_id"))
    }),

    // SQ8 scalar-quantized top-k (s12): the FAISS SQ8 serving tier — the
    // 4× compression point between float32 brute force (s01) and PQ's
    // 128× (s08). Corpus-GLOBAL symmetric scale (per-tensor, the standard
    // serving variant when vectors share dynamic range; s06 holds the
    // per-vector form), components packed to signed bytes
    // (`graft_i8_pack`), scan = exact integer dot over the packed codes
    // (`graft_dot_i8`, codegen loop). Because ONE scale divides out of
    // every score, the per-query ranking key is the raw integer dot —
    // bit-reproducible on any engine — so unlike the float-scored ANN
    // tiers this query carries a FULL hash oracle. Scale posture: the
    // global max rides the plan as a 1-row broadcast (no driver collect);
    // the corpus never shuffles (broadcast NQ query codes, map-side
    // scoring); the only exchange feeds the per-query K-row window, and
    // shuffle/broadcast payloads carry 64-byte codes, not 256-byte
    // float arrays. Int8Spec pins recall vs the float baseline.
    "s12_int8_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val v = T.embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val g = v.agg(max(aggregate(transform(col("v"), x => abs(x)),
        lit(0.0), (a, b) => greatest(a, b))).as("gs"))
      val q8 = v.crossJoin(broadcast(g))
        .withColumn("q",
          when(col("gs") === 0.0, transform(col("v"), _ => lit(0)))
            .otherwise(transform(col("v"),
              x => round(x * lit(127) / col("gs")).cast("int"))))
        .select(col("vec_id"),
          call_function("graft_i8_pack", col("q")).as("code"))
      val qs = q8.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"))
      val scored = q8
        .select(col("vec_id").as("neighbor_id"), col("code"))
        .join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
        .withColumn("dot_q",
          call_function("graft_dot_i8", col("qcode"), col("code")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dot_q").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dot_q"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Incremental IVF maintenance (s13): new vectors join the at-rest
    // index WITHOUT retraining — d11's ingest pattern applied to ANN.
    // The at-rest corpus (a deterministic 80% slice, vec_id % 5 ≠ 4)
    // trains the quantizer and persists partitionBy(cell) once
    // (writeOnce, s07's layout); the arriving 20% batch is assigned by
    // the SAME frozen literal-centroid projection (map-only — the
    // historical corpus is never rescanned, the codebook never moves)
    // and persists as a delta directory in the same layout. A probe then
    // reads BOTH directories partition-pruned (nprobe cells each) and
    // must rank exactly like the in-flight path over the full corpus
    // under the frozen centroids. Verdict row:
    //  - n_topk (= K, oracle recomputes) and n_mismatch = 0: at-rest ∪
    //    delta probe ≡ in-flight top-k, structurally (same centroids,
    //    same vectors, same tie-break);
    //  - cells_bounded / scan_bounded: ≤ NPROBE cells per directory and
    //    the pruned scan stays under 0.75 of the corpus;
    //  - n_delta: delta rows actually indexed (oracle recomputes the
    //    20% slice count — the maintenance did not drop the batch).
    // Periodic retraining (centroid drift) is an offline policy decision
    // layered on top; the invariant here is that between retrains,
    // ingest is append-only and probe-consistent.
    "s13_ivf_incremental" -> ((s, d) => {
      val base = normed(s, d)
      val rest = base.filter(pmod(col("vec_id"), lit(5)) =!= 4)
      val delta = base.filter(pmod(col("vec_id"), lit(5)) === 4)
      val cents = withTrainCache(rest) {
        kmeansCentroids(rest, CELLS, KM_ITERS)
      }
      val outBase = Formats.ioDir(d, "s13_base")
      val outDelta = Formats.ioDir(d, "s13_delta")
      Formats.writeOnce(s, outBase) {
        rest.withColumn("cell", cellExpr(cents, col("v")))
          .write.partitionBy("cell").mode("overwrite").parquet(outBase)
      }
      Formats.writeOnce(s, outDelta) {
        delta.withColumn("cell", cellExpr(cents, col("v")))
          .write.partitionBy("cell").mode("overwrite").parquet(outDelta)
      }
      val q0 = base.filter(col("vec_id") === 0)
        .select(col("v"), col("nrm")).head()
      val qv = q0.getSeq[Double](0).toArray
      val qn = q0.getDouble(1)
      val cells = probeCellsOf(cents, qv, NPROBE)
      val pruned = s.read.parquet(outBase)
        .unionByName(s.read.parquet(outDelta))
        .filter(col("cell").isin(cells: _*))
      val atRest = pruned.filter(col("vec_id") =!= 0)
        .withColumn("cos",
          dot(col("v"), typedLit(qv.toSeq)) / (col("nrm") * lit(qn)))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(K).select(col("vec_id").as("neighbor_id"))
      val inFlight = ivfTopKFrom(ivfCandidates(base, cents))
        .filter(col("query_id") === 0).select(col("neighbor_id"))
      val merged = atRest.withColumn("a", lit(1))
        .join(inFlight.withColumn("b", lit(1)), Seq("neighbor_id"),
          "full_outer")
        .agg(count(lit(1)).as("n_topk"),
          sum(when(col("a").isNull || col("b").isNull, 1L).otherwise(0L))
            .as("n_mismatch"))
      val scan = pruned.agg(countDistinct(col("cell")).as("ncells"),
        count(lit(1)).as("nscan"))
      merged
        .crossJoin(scan.crossJoin(base.agg(count(lit(1)).as("nv")))
          .select((col("ncells") <= NPROBE).as("cells_bounded"),
            (col("nscan") <= col("nv") * 0.75).as("scan_bounded")))
        .crossJoin(s.read.parquet(outDelta)
          .agg(count(lit(1)).as("n_delta")))
    })
  )

  /** Symmetric per-vector int8 quantization (the standard embedding
    * compression stage before ANN serving / storage): scale = max |xᵢ|,
    * qᵢ = round(127·xᵢ/scale). Pure narrow projection — codegen'd array
    * transforms, no shuffle but the oracle-determinism sort.
    */
  private[graft] def quantizeInt8(emb: DataFrame): DataFrame = {
    val scaled = emb
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("scale",
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (a, b) => greatest(a, b)))
      .withColumn("q",
        when(col("scale") === 0.0,
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => round(x * lit(127) / col("scale")).cast("int"))))
    scaled.select(col("vec_id"), col("scale"), col("q"))
  }

  // DuckDB side: list_dot_product over an explicitly DOUBLE[]-cast list is
  // empirically bit-exact with Spark's aggregate() fold (both are sequential
  // double sums in element order; verified over all sf0.01 pairs).
  private val cosSql = """
      WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings)"""

  override def oracles: Map[String, String] = Map(
    "s01_cosine_topk" -> (cosSql + s"""
      , scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        FROM v q JOIN v c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id)
      SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_r
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
      WHERE rank <= $K ORDER BY query_id, rank"""),
    // verdict rows: counts recomputed independently; booleans must be TRUE
    "s02_ann_ivf_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS cand_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s07 verdict row: every column is a pinned guarantee (scaladoc on the
    // query) — the at-rest probe must equal the in-flight path exactly
    "s07_ivf_pruned_probe" -> s"""
      SELECT CAST($K AS BIGINT) AS n_topk,
             CAST(0 AS BIGINT) AS n_mismatch,
             TRUE AS cells_bounded,
             TRUE AS scan_bounded""",
    "s04_ann_lsh_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS cand_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s10 verdict row: counts recomputed; recall/rerank gates pinned TRUE
    "s10_ivfpq_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS rerank_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s09 verdict row: counts recomputed; recall/rerank gates pinned TRUE
    "s09_random_projection_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS rerank_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s17 verdict row: counts recomputed; recall/filter/candidate gates
    // pinned TRUE (filtered-corpus sizes checked >= K+1 at every sf)
    "s17_filtered_ann_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS filter_ok,
             TRUE AS cand_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s16: FULL hash oracle — both arms and the fusion are replayed
    // relationally (the sparse arm is t13's oracle; the dense arm is the
    // s01 cosine ranking restricted to queries 0..2; fusion is an integer
    // sum of 1000000 // (K0 + rank) over the unioned per-arm top-L sets)
    "s16_rrf_fusion" -> s"""
      WITH q(query_id, term) AS (VALUES
        (0,'spark'),(0,'join'),(0,'merge'),
        (1,'window'),(1,'agg'),(1,'scan'),
        (2,'customer'),(2,'order'),(2,'group')),
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               (1000000 * sum(len(w))) // count(*) AS avgdl_micro
        FROM toks),
      occ AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term
        FROM toks),
      tf AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM occ WHERE term IN (SELECT term FROM q)
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY term),
      sc AS (
        SELECT tf.doc_id, tf.term,
               CAST(floor(
                 CAST(floor(1000000.0 *
                   ln(1.0 + (n - df + 0.5) / (df + 0.5))) AS BIGINT)
                 * (tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * ((dl * 1000000.0)
                    / avgdl_micro)))) AS BIGINT) AS s_micro
        FROM tf JOIN df USING (term), stats),
      agg AS (
        SELECT query_id, doc_id, CAST(sum(s_micro) AS BIGINT) AS score
        FROM sc JOIN q USING (term) GROUP BY query_id, doc_id),
      lexr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id ASC) AS r
        FROM agg WHERE doc_id <> query_id),
      vv AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      dsc AS (
        SELECT CAST(qv.vec_id AS INTEGER) AS query_id,
               c.vec_id AS doc_id,
               list_dot_product(qv.v, c.v) / (qv.nrm * c.nrm) AS cos
        FROM vv qv JOIN vv c
          ON qv.vec_id < $FUSE_NQ AND qv.vec_id <> c.vec_id),
      denser AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, doc_id ASC) AS r
        FROM dsc),
      un AS (
        SELECT query_id, doc_id, r FROM lexr WHERE r <= $FUSE_L
        UNION ALL
        SELECT query_id, doc_id, r FROM denser WHERE r <= $FUSE_L),
      f AS (
        SELECT query_id, doc_id,
               CAST(sum(1000000 // ($RRF_K0 + r)) AS BIGINT) AS rrf_micro
        FROM un GROUP BY query_id, doc_id)
      SELECT query_id, rank, doc_id, rrf_micro
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_micro DESC, doc_id ASC) AS rank FROM f)
      WHERE rank <= 10 ORDER BY query_id, rank""",
    // s14 verdict row: same frame as s09 (truncation replaces projection)
    "s14_matryoshka_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             TRUE AS rerank_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    // s08 verdict row (pqTopK scaladoc): counts recomputed; the code-range
    // and rerank-volume guarantees are pinned; recall_ok must be TRUE
    "s08_pq_adc_topk" -> s"""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST($K * count(*) AS BIGINT) AS n_topk,
             TRUE AS recall_ok,
             CAST(0 AS BIGINT) AS n_bad_codes,
             TRUE AS rerank_bounded
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < $NQ)""",
    "s03_embedding_dup_pairs" -> (cosSql + s"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_r
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $DUP_T
      ORDER BY id_a, id_b"""),
    // s11 verdict row: vector and exact-pair counts recomputed from
    // scratch; the greedy-keeper invariants are pinned TRUE
    "s11_semdedup" -> (cosSql + s"""
      SELECT (SELECT count(*) FROM v) AS n_vectors,
             (SELECT count(*)
              FROM v a JOIN v b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $DUP_T)
               AS n_dup_pairs_exact,
             TRUE AS partition_ok,
             TRUE AS kept_clean"""),
    "s05_embedding_dup_approx" -> (cosSql + s"""
      SELECT (SELECT count(*)
              FROM v a JOIN v b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $DUP_T)
               AS n_exact_pairs,
             TRUE AS recall_ok,
             CAST(0 AS BIGINT) AS n_false_pairs,
             TRUE AS cand_bounded"""),
    "s06_quantize_int8" -> """
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sc AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM v),
      q AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                 THEN list_transform(v, x -> 0)
                 ELSE list_transform(v, x -> CAST(round(x * 127 / scale) AS INT))
               END AS q
        FROM sc)
      SELECT vec_id, scale,
             CAST(list_aggregate(q, 'sum') AS BIGINT) AS sum_q,
             list_min(q) AS min_q, list_max(q) AS max_q,
             len(list_filter(q, x -> abs(x) = 127)) AS n_sat
      FROM q ORDER BY vec_id""",
    // s12 FULL hash oracle: global-scale quantization + integer dot are
    // exact cross-engine (round HALF_UP both sides, products < 2^53)
    "s12_int8_topk" -> s"""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      g AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS gs
            FROM v),
      q8 AS (
        SELECT vec_id,
               CASE WHEN gs = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v,
                           x -> CAST(round(x * 127 / gs) AS INT))
               END AS q
        FROM v, g),
      scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                     CAST(b.q AS DOUBLE[])) AS BIGINT)
                 AS dot_q
        FROM q8 a JOIN q8 b ON a.vec_id < $NQ AND a.vec_id <> b.vec_id)
      SELECT query_id, rank, neighbor_id, dot_q
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY dot_q DESC, neighbor_id) AS rank FROM scored)
      WHERE rank <= $K ORDER BY query_id, rank""",
    // s13 verdict row: probe/in-flight equivalence and scan bounds pinned
    // (guaranteed structurally — scaladoc on the query); the delta-batch
    // size recomputed from the deterministic 20% slice
    "s13_ivf_incremental" -> s"""
      SELECT CAST($K AS BIGINT) AS n_topk,
             CAST(0 AS BIGINT) AS n_mismatch,
             TRUE AS cells_bounded,
             TRUE AS scan_bounded,
             (SELECT CAST(count(*) AS BIGINT) FROM embeddings
              WHERE vec_id % 5 = 4) AS n_delta""",
    // s15: code-table count recomputed; the artifact size is a structural
    // constant (M·ks·dsub); the equivalence + bound booleans are the
    // at-rest contract the Spark side proves against its own in-flight
    // twin (bit-deterministic training makes them provable TRUE)
    "s15_pq_atrest" -> """
      SELECT count(*) AS n_codes,
             CAST(1024 AS BIGINT) AS n_books_rows,
             TRUE AS atrest_eq_inflight,
             TRUE AS rerank_bounded
      FROM embeddings"""
  )
}
